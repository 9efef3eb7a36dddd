"""Cross-operator invariants — algebraic relationships between
operators that must hold regardless of data, catching semantic drift
the per-operator oracles can't (each oracle only pins ITS query).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import SF_CORRECTNESS, SF_SMOKE


@pytest.fixture(scope="module")
def specs():
    from database_scan_spark.registry import SPECS

    return {s.name: s for s in SPECS}


def test_set_algebra_partition(spark, specs):
    """difference ∪ intersection = left set; difference ∩ intersection = ∅."""
    diff = {r.l_partkey for r in specs["set_difference"].fn(spark, SF_SMOKE).collect()}
    inter = {r.l_partkey for r in specs["set_intersection"].fn(spark, SF_SMOKE).collect()}
    from database_scan_spark.operators.relational import _parts_of_segment

    left = {r.l_partkey for r in _parts_of_segment(spark, SF_SMOKE, "HOUSEHOLD").collect()}
    assert diff | inter == left
    assert diff & inter == set()


def test_minhash_recall_and_precision_vs_exact(spark, specs):
    """LSH candidates are verified with exact Jaccard, so minhash
    pairs ⊆ exact ngram pairs (precision 1.0 by construction);
    recall on this corpus should be perfect — the planted dups are
    far above the banding threshold."""
    exact = {
        (r.doc_a, r.doc_b) for r in specs["dedup_ngram_jaccard"].fn(spark, SF_SMOKE).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b) for r in specs["dedup_minhash_lsh"].fn(spark, SF_SMOKE).collect()
    }
    assert lsh <= exact
    assert len(lsh) == len(exact), f"LSH recall {len(lsh)}/{len(exact)}"


def test_prefix_filter_path_equals_naive(spark):
    """The PPJoin prefix-filter candidate generation is exact: same
    final pairs as the naive set-similarity join."""
    from database_scan_spark.operators.dedup import dedup_ngram_jaccard

    naive = {tuple(r) for r in dedup_ngram_jaccard(spark, SF_SMOKE).collect()}
    pref = {
        tuple(r) for r in dedup_ngram_jaccard(spark, SF_SMOKE, prefix_filter=True).collect()
    }
    assert naive == pref


def test_lsh_ann_subset_of_bruteforce_topk(spark, specs):
    """Bucketed ANN returns pairs whose cosine can't exceed the
    brute-force top-k's floor... weaker but checkable: every ANN
    neighbor must appear in brute-force results OR rank worse than
    its bucket's best — here just check ANN ⊆ all-pairs ranking
    consistency: for each query, ANN's neighbor cosines ≤ brute-force
    rank-1 cosine."""
    bf = specs["sim_topk_bruteforce"].fn(spark, SF_SMOKE).collect()
    ann = specs["sim_lsh_ann"].fn(spark, SF_SMOKE).collect()
    best_bf = {}
    for r in bf:
        if r.rank == 1:
            best_bf[r.query_id] = r.cosine
    for r in ann:
        assert r.cosine <= best_bf[r.query_id] + 1e-9


def test_dedup_by_id_unique_and_minimal(spark, specs):
    df = specs["dedup_by_id"].fn(spark, SF_SMOKE)
    n = df.count()
    assert df.select("l_partkey").distinct().count() == n
    # survivor really is the first arrival per key
    from database_scan_spark.catalog import load

    li = load(spark, SF_SMOKE, "lineitem")
    firsts = (
        li.groupBy("l_partkey")
        .agg(F.min(F.struct("l_orderkey", "l_linenumber")).alias("f"))
        .select("l_partkey", "f.l_orderkey", "f.l_linenumber")
    )
    assert df.select("l_partkey", "l_orderkey", "l_linenumber").exceptAll(firsts).count() == 0


def test_session_windows_partition_events(spark, specs):
    """Session windows tile each user's events: per-user n_events sums
    to the user's total event count, and sessions don't overlap."""
    sess = specs["win_session"].fn(spark, SF_SMOKE)
    from database_scan_spark.catalog import load

    ev = load(spark, SF_SMOKE, "events")
    totals = {r.user_id: r.n for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    per_user = {
        r.user_id: r.s
        for r in sess.groupBy("user_id").agg(F.sum("n_events").alias("s")).collect()
    }
    assert per_user == totals
    rows = sorted(
        ((r.user_id, r.session_start, r.session_end) for r in sess.collect())
    )
    for (u1, s1, e1), (u2, s2, e2) in zip(rows, rows[1:]):
        if u1 == u2:
            assert s2 >= e1 - __import__("datetime").timedelta(minutes=5)


def test_candidate_parts_truly_excludes_seed_parts(spark, specs):
    """Flagship semantics: no candidate part was ever ordered by the
    seed customers (the set-difference contract, x2.2.py step 6)."""
    from database_scan_spark.catalog import load
    from database_scan_spark.plans.candidate_parts import (
        SEED_MIN_ACCTBAL,
        SEED_SEGMENT,
    )

    cand = {r.p_partkey for r in specs["candidate_parts"].fn(spark, SF_SMOKE).collect()}
    customer = load(spark, SF_SMOKE, "customer")
    orders = load(spark, SF_SMOKE, "orders")
    lineitem = load(spark, SF_SMOKE, "lineitem")
    seed_parts = {
        r.l_partkey
        for r in customer.filter(
            (F.col("c_mktsegment") == SEED_SEGMENT)
            & (F.col("c_acctbal") >= SEED_MIN_ACCTBAL)
        )
        .join(orders, customer.c_custkey == orders.o_custkey)
        .join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .select("l_partkey")
        .distinct()
        .collect()
    }
    assert cand & seed_parts == set()
    assert cand, "flagship must be non-empty at sf0.001"


def test_coverage_matrix_in_sync(specs):
    """COVERAGE.md, the SURVEY §2 → query map, is kept by hand: its
    rows name only registered queries and leave none unnamed, each
    check cell says what the registry says (`oracle` or `rows-only`),
    and the Totals line counts the registry."""
    import pathlib
    import re

    text = (pathlib.Path(__file__).resolve().parent.parent / "COVERAGE.md").read_text()
    named, drift = set(), []
    for row in text.splitlines():
        m = re.fullmatch(r"\| `.*` \| (.*) \| (.*) \|", row)
        if not m or m[1] == "—":  # a header, or an op not replicated by design
            continue
        keys = re.findall(r"`([^`]+)`", m[1])
        named.update(keys)
        unknown = [k for k in keys if k not in specs]
        if unknown:
            drift += [f"not registered: {k}" for k in unknown]
            continue
        want = ", ".join("oracle" if specs[k].oracle else "rows-only" for k in keys)
        if m[2] != want:
            drift.append(f"check cell of {keys}: {m[2]!r}, registry says {want!r}")
    drift += [f"registered but unnamed: {n}" for n in sorted(set(specs) - named)]
    assert not drift, drift

    oracled = sum(1 for s in specs.values() if s.oracle)
    totals = re.search(
        r"\*\*Totals:\*\* (\d+) registered queries — (\d+) oracle-checked, (\d+) rows-only\.",
        text,
    )
    assert totals, "COVERAGE.md has no Totals line"
    assert tuple(map(int, totals.groups())) == (len(specs), oracled, len(specs) - oracled)


def test_mllib_minhash_subset_of_exact(spark, specs):
    """MLlib MinHashLSH candidates, after the engine's exact-Jaccard
    verification, must be a subset of the exact n-gram pairs (its
    oracle-free check)."""
    exact = {
        (r.doc_a, r.doc_b)
        for r in specs["dedup_ngram_jaccard"].fn(spark, SF_SMOKE).collect()
    }
    mllib = {
        (r.doc_a, r.doc_b)
        for r in specs["dedup_minhash_mllib"].fn(spark, SF_SMOKE).collect()
    }
    assert mllib <= exact
    assert len(mllib) >= int(0.9 * len(exact)), f"recall {len(mllib)}/{len(exact)}"


def test_approx_aggregates_within_tolerance(spark, specs):
    """agg_approx is now self-verifying (exact anchors + within-bound
    verdicts, oracle pins them TRUE): every verdict column must hold
    on every row, and the raw estimates it summarizes must in fact be
    close — re-derived here with the same sketch params against exact
    values (10% slack on distinct, 5% on median)."""
    from database_scan_spark.catalog import load

    rows = specs["agg_approx"].fn(spark, SF_SMOKE).collect()
    assert {r.l_returnflag for r in rows} >= {"ALL"}
    for r in rows:
        assert r.cd_within_5rsd, r
        assert r.q25_within_band and r.q50_within_band and r.q75_within_band, r
    raw = {
        r.l_returnflag: r
        for r in load(spark, SF_SMOKE, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts"),
            F.percentile_approx("l_extendedprice", 0.5, 10000).alias("approx_median_price"),
            F.countDistinct("l_partkey").alias("parts"),
            F.expr("percentile(l_extendedprice, 0.5)").alias("median_price"),
        )
        .collect()
    }
    for flag, ap in raw.items():
        assert abs(ap.approx_parts - ap.parts) / ap.parts <= 0.10, (flag, ap)
        assert abs(ap.approx_median_price - ap.median_price) / ap.median_price <= 0.05


def test_shingles_short_documents(spark):
    """Documents with fewer than n tokens must yield an empty shingle
    array, not an element_at crash (Spark sequence(1,0) is the
    DESCENDING [1,0] — regression test for the guard)."""
    from database_scan_spark.operators.dedup import _shingles

    df = spark.createDataFrame(
        [("x",), ("a b",), ("a b c",), ("a b c d",)], "text string"
    ).select(F.size(_shingles(F.split("text", " "))).alias("n"))
    assert [r.n for r in df.collect()] == [0, 0, 1, 2]


def test_pivot_absent_cell_is_zero(spark):
    """agg_pivot's absent (segment, status) cells must be 0, matching
    COUNT(*) FILTER, not pivot's native NULL."""
    from database_scan_spark.catalog import load
    from database_scan_spark.operators.sql_surface import agg_pivot

    # the real query on real data should have no NULLs by construction
    pdf = agg_pivot(spark, SF_SMOKE).toPandas()
    assert not pdf[["n_f", "n_o", "n_p"]].isna().any().any()
    # synthetic check: a segment with no 'P' orders still yields 0
    cust = load(spark, SF_SMOKE, "customer")
    orders = load(spark, SF_SMOKE, "orders").filter(F.col("o_orderstatus") != "P")
    joined = cust.join(orders, F.col("c_custkey") == F.col("o_custkey"))
    piv = (
        joined.groupBy("c_mktsegment")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .select(F.coalesce(F.col("P"), F.lit(0)).cast("bigint").alias("n_p"))
    )
    assert all(r.n_p == 0 for r in piv.collect())


def test_corpus_prep_cluster_survivor_not_lost(spark, specs):
    """Every near-dup cluster with at least one quality-surviving
    member must contribute exactly one doc to the corpus output
    (regression for the vanished-survivor bug)."""
    kept = {r.doc_id for r in specs["pipeline_corpus_prep"].fn(spark, SF_SMOKE).collect()}
    clusters = specs["dedup_cluster_cc"].fn(spark, SF_SMOKE).collect()
    by_cluster = {}
    for r in clusters:
        by_cluster.setdefault(r.cluster_id, set()).add(r.doc_id)
    # reconstruct pre-near-dup survivors: kept ∪ (cluster members that
    # were dropped in stage 3) — any cluster intersecting that set
    # must have exactly one kept member
    for cid, members in by_cluster.items():
        n_kept = len(members & kept)
        assert n_kept <= 1, (cid, members & kept)


def test_pq_adc_recall_vs_bruteforce(spark, specs):
    """PQ with 4 subspaces × 16 codewords is lossy by design —
    the fixture embeddings are unclustered random unit vectors, the
    hardest case for quantization, and measured top-5 recall is ~0.3
    at sf0.01. The floor (0.15) sits 2× under that but 15× above the
    random-chance overlap (5/499 ≈ 1%), so a regression to garbage
    codes still fails loudly. Run at sf0.01 where chance is tiny;
    also: a query must never pair with itself."""
    exact = {
        (r.query_id, r.neighbor_id)
        for r in specs["sim_topk_bruteforce"].fn(spark, SF_CORRECTNESS).collect()
    }
    pq_rows = specs["sim_pq_adc"].fn(spark, SF_CORRECTNESS).collect()
    pq = {(r.query_id, r.neighbor_id) for r in pq_rows}
    assert all(q != n for q, n in pq)
    recall = len(pq & exact) / len(exact)
    assert recall >= 0.15, f"PQ recall {recall:.2f} below floor"


def test_cc_twostar_agrees_with_minlabel(spark, specs):
    """Two independent CC algorithms (min-label propagation vs
    large-star/small-star) must produce identical (doc_id, cluster_id)
    assignments — same fixed point, different round structure."""
    ml = {
        (r.doc_id, r.cluster_id)
        for r in specs["dedup_cluster_cc"].fn(spark, SF_SMOKE).collect()
    }
    ts = {
        (r.doc_id, r.cluster_id)
        for r in specs["dedup_cluster_cc_twostar"].fn(spark, SF_SMOKE).collect()
    }
    assert ml == ts and len(ml) > 0


def test_chunk_dedup_reassembly(spark, specs):
    """Chunk dedup must be a pure subsequence filter: docs with no
    duplicated chunks reassemble to exactly their original text, and
    kept counts are consistent (n_chunks - n_dup = kept chunk count)."""
    from database_scan_spark.catalog import load
    from database_scan_spark.operators.text_analysis import CHUNK_WORDS

    out = {r.doc_id: r for r in specs["text_chunk_dedup"].fn(spark, SF_SMOKE).collect()}
    orig = {r.doc_id: r.text for r in load(spark, SF_SMOKE, "documents").collect()}
    assert set(out) == set(orig)
    import math

    for doc_id, r in out.items():
        words = orig[doc_id].split(" ")
        assert r.n_chunks == math.ceil(len(words) / CHUNK_WORDS)
        if r.n_dup_chunks == 0:
            assert r.kept_text == orig[doc_id]
        elif r.kept_text is not None:
            # every kept chunk is a verbatim window of the original
            assert all(w in words for w in r.kept_text.split(" "))


def test_phash_banding_recall_is_exact(spark, specs):
    """The (band_idx, band_byte) blocking must lose NOTHING at the
    shipped threshold: an all-pairs Hamming recomputation from the
    raw signatures (no banding) at smoke scale must equal the op's
    output exactly (pigeonhole: ≤7 differing bits cannot touch all
    8 bands)."""
    from database_scan_spark.operators.multimodal import (
        _PH_HAM_T,
        _media_table,
        _phash_batches_fn,
    )

    sig = (
        _media_table(spark, SF_SMOKE)
        .mapInPandas(
            _phash_batches_fn(),
            schema="doc_id long, band_idx int, band_byte int",
        )
        .collect()
    )
    sigs: dict[int, list[int]] = {}
    for r in sig:
        sigs.setdefault(r.doc_id, [0] * 8)[r.band_idx] = r.band_byte
    ids = sorted(sigs)
    brute = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            ham = sum(
                bin(x ^ y).count("1") for x, y in zip(sigs[a], sigs[b])
            )
            if ham <= _PH_HAM_T:
                brute[(a, b)] = ham
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in specs["mm_phash_pairs"].fn(spark, SF_SMOKE).collect()
    }
    assert got == brute


def test_cusum_closed_form_matches_textbook_recursion(spark, specs):
    """The prefix-extrema closed form must equal Page's recursion
    C_t = max(0, C_{t-1} + (x_t − k ∓ slack)) replayed in Python."""
    rows = specs["win_cusum"].fn(spark, SF_SMOKE).collect()
    by_prio: dict[str, list] = {}
    for r in rows:
        by_prio.setdefault(r.priority, []).append(r)
    for prio, series in by_prio.items():
        series.sort(key=lambda r: r.day)
        xs = [r.x for r in series]
        n = len(xs)
        k = sum(xs) // n
        madm = sum(abs(x - k) for x in xs) // n
        cp = cn = 0
        for r, x in zip(series, xs):
            cp = max(0, cp + (x - k - madm // 2))
            cn = max(0, cn - (x - k + madm // 2))
            assert (r.cusum_pos, r.cusum_neg) == (cp, cn), (prio, r.day)
            assert r.alarm == int(cp > 5 * madm or cn > 5 * madm)


def test_mmr_matches_greedy_reference(spark, specs):
    """The unrolled DataFrame MMR must equal the straightforward
    greedy algorithm replayed in Python over the same pool."""
    from decimal import ROUND_HALF_UP, Decimal

    from database_scan_spark.catalog import load
    from database_scan_spark.operators.similarity import MMR_K, MMR_POOL

    def round6(x: float) -> float:
        # Spark/DuckDB round() is HALF_UP; Python round() is half-even
        return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))

    emb = {
        r.vec_id: list(r.embedding)
        for r in load(spark, SF_SMOKE, "embeddings").collect()
    }

    def dot(a, b):
        s = 0.0
        for x, y in zip(a, b):
            s += x * y
        return s

    q = emb[0]
    rel = {i: round6(dot(v, q)) for i, v in emb.items() if i != 0}
    pool = sorted(rel, key=lambda i: (-rel[i], i))[:MMR_POOL]
    sel = [min(pool, key=lambda i: (-rel[i], i))]
    scores = {sel[0]: round6(0.7 * rel[sel[0]])}
    while len(sel) < MMR_K:
        best, best_key = None, None
        for c in pool:
            if c in sel:
                continue
            mx = max(round6(dot(emb[c], emb[s])) for s in sel)
            sc = round6(0.7 * rel[c] - 0.3 * mx)
            if best_key is None or (-sc, c) < best_key:
                best, best_key = c, (-sc, c)
        sel.append(best)
        scores[best] = round6(0.7 * rel[best] - 0.3 * max(
            round6(dot(emb[best], emb[s])) for s in sel[:-1]
        ))
    got = sorted(
        (r.sel_order, r.vec_id, r.mmr_score)
        for r in specs["sim_mmr_rerank"].fn(spark, SF_SMOKE).collect()
    )
    want = sorted((o + 1, v, scores[v]) for o, v in enumerate(sel))
    assert got == want


def test_mmr_barrier_survives_optimizer(tmp_path):
    """Regression guard for sim_mmr_rerank's Generate barrier (ADVICE
    r10): the chained per-step argmax folds stay evaluable only
    because CollapseProject does not merge across a Generate node. A
    Spark upgrade that simplifies explode(array(struct(...))) or
    collapses through Generate would re-inline the folds and — per the
    measurement in similarity.py — hang the analyzer. Build the
    optimized plan in a BOUNDED subprocess, so that failure mode is a
    loud assert and a timeout kills the whole JVM (a thread of the
    shared session would leave a wedged analyzer behind), and require
    the per-step Generate barriers to still be present."""
    import os
    import subprocess
    import sys

    from database_scan_spark.operators.similarity import MMR_K

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = f"""
import sys
sys.path.insert(0, {repo!r})
from database_scan_spark.registry import SPECS
from database_scan_spark.session import get_spark
spark = get_spark("mmr-barrier", shuffle_partitions=8)
spark.sparkContext.setLogLevel("ERROR")
df = next(s for s in SPECS if s.name == "sim_mmr_rerank").fn(spark, {SF_SMOKE!r})
print(df._jdf.queryExecution().optimizedPlan().toString())
"""
    try:
        r = subprocess.run([sys.executable, "-c", code], capture_output=True,
                           text=True, cwd=tmp_path, timeout=180)
    except subprocess.TimeoutExpired:
        r = None
    assert r is not None, (
        "sim_mmr_rerank's optimized plan did not build within 180s — "
        "the optimizer likely collapsed across the Generate barrier "
        "and re-inlined the chained argmax folds (see barrier() in "
        "operators/similarity.py)"
    )
    assert r.returncode == 0, r.stderr[-4000:]
    n_generate = r.stdout.count("Generate explode")
    assert n_generate >= MMR_K - 1, (
        f"expected >= {MMR_K - 1} per-step Generate barriers in the "
        f"optimized plan, found {n_generate} — an optimizer change "
        "removed them; re-measure plan-build time before trusting this"
    )


def test_rank_stats_mutually_consistent(spark, specs):
    """Spearman, Kendall and the chi-square verdict must be mutually
    consistent on the same fixture: both rank coefficients are in
    [-1, 1] and share a sign (they measure the same monotone
    association); AP and AUC are both in [0, 1]; chi2 >= 0."""
    rho = specs["analytic_spearman"].fn(spark, SF_SMOKE).collect()[0]["spearman_rho"]
    tau = specs["analytic_kendall_tau"].fn(spark, SF_SMOKE).collect()[0]["tau_b"]
    assert -1.0 <= rho <= 1.0 and -1.0 <= tau <= 1.0
    if abs(rho) > 1e-6 and abs(tau) > 1e-6:
        assert (rho > 0) == (tau > 0)
    chi = specs["analytic_chi_square"].fn(spark, SF_SMOKE).collect()[0]
    assert chi["chi2"] >= 0.0 and chi["dof"] == 16
    ap = specs["analytic_avg_precision"].fn(spark, SF_SMOKE).collect()[0]
    assert 0.0 <= ap["avg_precision"] <= 1.0


def test_kcore_peel_monotone(spark, specs):
    """k-core peeling can only shrink: edges/nodes alive are
    non-increasing across rounds."""
    rows = sorted(
        specs["graph_kcore"].fn(spark, SF_SMOKE).collect(),
        key=lambda r: r["round"],
    )
    for a, b in zip(rows, rows[1:]):
        assert b["edges_alive"] <= a["edges_alive"]
        assert b["parts_alive"] <= a["parts_alive"]
        assert b["supps_alive"] <= a["supps_alive"]


def test_modularity_terms_bounded(spark, specs):
    """Each community's modularity term is within [-1, 1] and intra
    weight never exceeds either directed degree."""
    for r in specs["graph_modularity"].fn(spark, SF_SMOKE).collect():
        assert -1.0 <= r["q_term"] <= 1.0
        assert r["intra_w"] <= r["in_w"] and r["intra_w"] <= r["out_w"]


def test_changepoint_gain_ordering(spark, specs):
    """Candidates arrive ranked by gain; gains are non-negative
    (between-class SS never exceeds total SS reduction of 0)."""
    rows = sorted(
        specs["analytic_changepoint"].fn(spark, SF_SMOKE).collect(),
        key=lambda r: r["rk"],
    )
    gains = [r["gain"] for r in rows]
    assert gains == sorted(gains, reverse=True)
    assert all(g >= 0 for g in gains)


def test_fellegi_sunter_pair_accounting(spark, specs):
    """The weight table partitions the blocked pair space: pattern
    counts sum to the exact number of blocked pairs, and weight is
    monotone in agreement count (full-agree >= any partial)."""
    rows = specs["dedup_fellegi_sunter"].fn(spark, SF_SMOKE).collect()
    from database_scan_spark.catalog import load

    blocks = (
        load(spark, SF_SMOKE, "part")
        .groupBy("p_brand", "p_size")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.sum(F.expr("c * (c - 1) / 2")).alias("pairs"))
        .collect()[0]["pairs"]
    )
    assert sum(r["n_pairs"] for r in rows) == int(blocks)
    by_pattern = {
        (r["agree_type"], r["agree_band"], r["agree_tok"]): r["weight"] for r in rows
    }
    full = by_pattern.get((True, True, True))
    if full is not None:
        assert all(full >= w for w in by_pattern.values())


def test_hashing_vectorizer_mass_conservation(spark, specs):
    """Σ|val| per doc can never exceed its token count, and nnz <= D."""
    vec = specs["text_hashing_vectorizer"].fn(spark, SF_SMOKE)
    agg = vec.groupBy("doc_id").agg(
        F.sum(F.abs(F.col("val"))).alias("mass"),
        F.max("nnz").alias("nnz"),
    )
    from database_scan_spark.catalog import load

    toks = (
        load(spark, SF_SMOKE, "documents")
        .select(
            F.col("doc_id"),
            F.size(F.filter(F.split("text", " "), lambda w: w != "")).alias("n_tok"),
        )
    )
    bad = agg.join(toks, "doc_id").filter(
        (F.col("mass") > F.col("n_tok")) | (F.col("nnz") > 64)
    )
    assert bad.count() == 0


def test_experiment_readout_theta_matches_cuped(spark, specs):
    """The readout's pooled theta is computed over ALL users — the
    same population as analytic_cuped — so the two must agree to the
    shared 6-dp rounding."""
    ro = specs["pipeline_experiment_readout"].fn(spark, SF_SMOKE).collect()[0]
    cu = specs["analytic_cuped"].fn(spark, SF_SMOKE).collect()[0]
    assert abs(ro["theta"] - cu["theta"]) < 1e-9
    assert ro["n_treat"] + ro["n_control"] == cu["n_users"]


def test_ndcg_bounded_by_ideal(spark, specs):
    """DCG can never exceed the ideal; NDCG in [0, 1]."""
    r = specs["analytic_ndcg"].fn(spark, SF_SMOKE).collect()[0]
    assert r["dcg"] <= r["idcg"] + 1e-9
    assert 0.0 <= r["ndcg"] <= 1.0 + 1e-9


def test_rrf_scores_decompose_into_rank_terms(spark, specs):
    """Every fused score must equal the sum of its two rank terms
    (1/(60+rank), 12-dp), and ranks stay within the pool size."""
    for r in specs["sim_rrf_fusion"].fn(spark, SF_SMOKE).collect():
        expect = 0.0
        for rank in (r["rank_bm25"], r["rank_jac"]):
            if rank is not None:
                assert 1 <= rank <= 20
                expect += round(1.0 / (60 + rank), 12)
        assert abs(r["rrf_score"] - expect) < 1e-9


def test_prop_ztest_rates_and_counts_consistent(spark, specs):
    """k <= n per cohort and reported rates equal k/n at 6 dp."""
    for r in specs["analytic_prop_ztest"].fn(spark, SF_SMOKE).collect():
        assert r["k1"] <= r["n1"] and r["k2"] <= r["n2"]
        assert abs(r["rate_treat"] - round(r["k1"] / r["n1"], 6)) < 1e-9
        assert abs(r["rate_control"] - round(r["k2"] / r["n2"], 6)) < 1e-9


def test_fair_share_waterfill_properties(spark, specs):
    """Max-min fairness accounting: grants sum EXACTLY to the budget,
    never exceed demand, and uncapped grants differ by at most 1."""
    rows = specs["wf_fair_share_budget"].fn(spark, SF_SMOKE).collect()
    budget = rows[0]["budget_tokens"]
    assert sum(r["granted_tokens"] for r in rows) == budget
    for r in rows:
        assert r["granted_tokens"] <= r["demand_tokens"]
        if r["fully_satisfied"]:
            assert r["granted_tokens"] == r["demand_tokens"]
    capped = [r["granted_tokens"] for r in rows if not r["fully_satisfied"]]
    if capped:
        assert max(capped) - min(capped) <= 1


def test_psm_matching_bounds(spark, specs):
    """Matched pairs can't exceed the smaller arm."""
    r = specs["analytic_psm"].fn(spark, SF_SMOKE).collect()[0]
    assert r["n_matched"] <= min(r["n_treated"], r["n_control"])


def test_audio_fingerprint_pairs_canonical(spark, specs):
    """Candidate pairs are canonical (a < b) and meet the shared-
    landmark floor."""
    for r in specs["mm_audio_fingerprint"].fn(spark, SF_SMOKE).collect():
        assert r["doc_a"] < r["doc_b"]
        assert r["shared_landmarks"] >= 2


def test_uuid_minting_is_stable_and_unique(spark, specs):
    """Re-running mints identical UUIDs; distinct texts map to
    distinct ids on the fixture."""
    a = {r["doc_id"]: r["content_uuid"]
         for r in specs["fn_uuid_deterministic"].fn(spark, SF_SMOKE).collect()}
    b = {r["doc_id"]: r["content_uuid"]
         for r in specs["fn_uuid_deterministic"].fn(spark, SF_SMOKE).collect()}
    assert a == b
    assert all(len(u) == 36 for u in a.values())


def test_wasserstein_nonnegative_and_bounded(spark, specs):
    """W1 is nonnegative and bounded by the value-domain span."""
    r = specs["dq_drift_wasserstein"].fn(spark, SF_SMOKE).collect()[0]
    assert r["wasserstein_cents"] >= 0.0


def test_qte_quantiles_monotone(spark, specs):
    """Per-arm quantiles must be non-decreasing in the percentile."""
    rows = sorted(
        specs["analytic_qte"].fn(spark, SF_SMOKE).collect(),
        key=lambda r: r["pct"],
    )
    for a, b in zip(rows, rows[1:]):
        assert a["treat_cents"] <= b["treat_cents"] + 1e-9
        assert a["control_cents"] <= b["control_cents"] + 1e-9


def test_frequency_moments_inequalities(spark, specs):
    """F1 >= F0 (counts dominate distincts) and the skew factor is
    >= 1 (Cauchy-Schwarz; =1 iff uniform)."""
    for r in specs["agg_frequency_moments"].fn(spark, SF_SMOKE).collect():
        assert r["f1"] >= r["f0"]
        assert r["skew_factor"] >= 1.0 - 1e-9


def test_novelty_sums_to_distinct_shingles(spark, specs):
    """Every distinct shingle is novel in exactly ONE document, so
    Σ n_novel == |distinct shingles| — an exact cross-aggregate
    identity."""
    import pyspark.sql.functions as SF

    nv = specs["text_ngram_novelty"].fn(spark, SF_SMOKE)
    agg = nv.agg(
        SF.sum("n_novel").alias("novel"),
    ).collect()[0]
    from database_scan_spark.catalog import load

    toked = load(spark, SF_SMOKE, "documents").select(
        SF.split("text", " ").alias("t")
    )
    idx = SF.when(
        SF.size("t") >= 3, SF.sequence(SF.lit(1), SF.size("t") - 2)
    ).otherwise(SF.array().cast("array<int>"))
    distinct_sh = (
        toked.select(
            SF.explode(
                SF.transform(
                    idx,
                    lambda i: SF.concat_ws(
                        " ", *[SF.element_at(SF.col("t"), i + j) for j in range(3)]
                    ),
                )
            ).alias("sh")
        )
        .agg(SF.count_distinct("sh").alias("d"))
        .collect()[0]["d"]
    )
    assert agg["novel"] == distinct_sh


def test_corpus_dashboard_rates_bounded(spark, specs):
    """Six metrics; every *_rate lies in [0, 1]."""
    rows = specs["pipeline_corpus_dashboard"].fn(spark, SF_SMOKE).collect()
    assert len(rows) == 6
    for r in rows:
        if r["metric"].endswith("_rate"):
            assert 0.0 <= r["value"] <= 1.0


def test_checkpoint_resume_partitions_events(spark, specs):
    """The two runs partition the event population exactly."""
    rows = specs["stream_checkpoint_resume"].fn(spark, SF_SMOKE).collect()
    from database_scan_spark.catalog import load

    total = load(spark, SF_SMOKE, "events").count()
    assert sum(r["n_rows"] for r in rows) == total
    assert len(rows) == 2


def test_scc_is_a_partition_of_nations(spark, specs):
    """SCC output must partition the nation set: every nation in
    exactly one members list, scc_id = min(members), n_nations =
    list length."""
    rows = specs["graph_scc"].fn(spark, SF_SMOKE).collect()
    seen = []
    for r in rows:
        members = [int(x) for x in r.members.split(",")]
        assert r.scc_id == min(members)
        assert r.n_nations == len(members)
        seen.extend(members)
    n_nations = specs["graph_scc"].fn(spark, SF_SMOKE).agg(F.sum("n_nations")).collect()[0][0]
    assert len(seen) == len(set(seen)) == n_nations


def test_corpus_overlap_matrix_shape_and_bounds(spark, specs):
    """One row per unordered source pair; est = n_match/K in [0,1]."""
    rows = specs["sim_corpus_overlap"].fn(spark, SF_SMOKE).collect()
    n_sources = (
        specs["sim_corpus_overlap"]
        .fn(spark, SF_SMOKE)
        .select(F.explode(F.array("source_a", "source_b")).alias("s"))
        .distinct()
        .count()
    )
    assert len(rows) == n_sources * (n_sources - 1) // 2
    for r in rows:
        assert 0 <= r.n_match <= 64
        assert abs(r.est_jaccard - r.n_match / 64) < 1e-9
        assert r.source_a < r.source_b


def test_pit_features_never_leak_future_values(spark, specs):
    """Every non-null last_click_value on an enriched purchase must
    exist as a click by the same user STRICTLY before the purchase —
    the leakage-freedom the operator promises."""
    from database_scan_spark.catalog import load

    pit = specs["join_pit_features"].fn(spark, SF_SMOKE).filter(
        F.col("last_click_value").isNotNull()
    )
    ev = load(spark, SF_SMOKE, "events").filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("u"), F.col("ts").alias("cts"), F.col("value").alias("cv")
    )
    n = pit.count()
    witnessed = (
        pit.join(
            ev,
            (pit.user_id == ev.u)
            & (pit.last_click_value == ev.cv)
            & (ev.cts < pit.ts),
            "left_semi",
        ).count()
    )
    assert witnessed == n, (witnessed, n)


def test_stream_pit_enrich_equals_batch(spark, specs):
    """Kappa parity engine-vs-engine (not just oracle-vs-oracle):
    the streaming enrichment emits exactly the batch PIT rows."""
    batch = {
        (r.event_id, r.user_id, r.last_click_value, r.last_view_value, r.n_errors_before)
        for r in specs["join_pit_features"].fn(spark, SF_SMOKE).collect()
    }
    stream = {
        (r.event_id, r.user_id, r.last_click_value, r.last_view_value, r.n_errors_before)
        for r in specs["stream_pit_enrich"].fn(spark, SF_SMOKE).collect()
    }
    assert batch == stream


def test_ivfpq_agrees_with_ivf_flat_assignment(spark, specs):
    """IVF-PQ and IVF-flat share the coarse quantizer, so any
    (query, neighbor) pair present in BOTH outputs must carry the
    same centroid_id; and ranks are a clean 1..K per query."""
    pq = specs["sim_ivfpq"].fn(spark, SF_SMOKE).collect()
    flat = {
        (r.query_id, r.neighbor_id): r.centroid_id
        for r in specs["sim_ivf_flat"].fn(spark, SF_SMOKE).collect()
    }
    by_q = {}
    for r in pq:
        by_q.setdefault(r.query_id, []).append(r.rank)
        key = (r.query_id, r.neighbor_id)
        if key in flat:
            assert r.centroid_id == flat[key], key
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), q


def test_png_channel_sums_add_up(spark, specs):
    """pixel_sum must equal r+g+b exactly, and every sum is bounded
    by 255 * width * height."""
    for r in specs["mm_png_roundtrip"].fn(spark, SF_SMOKE).collect():
        assert r.pixel_sum == r.r_sum + r.g_sum + r.b_sum
        cap = 255 * r.width * r.height
        assert 0 <= r.r_sum <= cap and 0 <= r.g_sum <= cap and 0 <= r.b_sum <= cap


def test_corpus_overlap_signatures_are_mergeable(spark, specs):
    """The scale claim of sim_corpus_overlap is that per-shard
    signatures merge: min over slot of (shard A, shard B) == min over
    the union. Recompute the per-source signature over two hash-split
    halves of the documents and slot-wise min them — must equal the
    full-corpus signature exactly."""
    from database_scan_spark.catalog import load
    from database_scan_spark.operators.dedup import (
        MINHASH_A, MINHASH_B, P31, _K, _shingles,
    )
    from database_scan_spark.operators._helpers import h32, spread

    docs = spread(load(spark, SF_SMOKE, "documents")).select(
        "doc_id", "source", F.split("text", " ").alias("toks")
    )
    sh = docs.select(
        "doc_id", "source", F.explode(_shingles(F.col("toks"))).alias("shingle")
    ).select("doc_id", "source", (h32(F.col("shingle")) % F.lit(P31)).alias("h"))

    def sig(df):
        rows = df.groupBy("source").agg(
            *[
                F.min(
                    (F.lit(MINHASH_A[i]) * F.col("h") + F.lit(MINHASH_B[i])) % F.lit(P31)
                ).alias(f"m{i}")
                for i in range(_K)
            ]
        ).collect()
        return {r["source"]: [r[f"m{i}"] for i in range(_K)] for r in rows}

    full = sig(sh)
    half_a = sig(sh.filter(F.col("doc_id") % 2 == 0))
    half_b = sig(sh.filter(F.col("doc_id") % 2 == 1))
    for src, fsig in full.items():
        a = half_a.get(src, [None] * 64)
        b = half_b.get(src, [None] * 64)
        merged = [
            min(x for x in (a[i], b[i]) if x is not None) for i in range(64)
        ]
        assert merged == fsig, src


def test_sft_loss_start_lands_on_completion(spark, specs):
    """The loss-mask char offset must point exactly at the assistant
    span: rendered[loss_start:] == completion + end sentinel, and the
    prompt never leaks past the boundary."""
    from database_scan_spark.operators.llm_prep import (
        _SFT_END,
        _SFT_PRE_ASSISTANT,
        _SFT_PROMPT_TOKENS,
    )

    df = specs["wf_sft_format"].fn(spark, SF_SMOKE)
    bad = df.filter(
        F.substring_index(
            F.expr("substring(rendered, loss_start + 1)"), _SFT_END, 1
        )
        != F.expr(
            "array_join(slice(split(substring(rendered, "
            f"{len('<|system|>') + 1}), ' '), {_SFT_PROMPT_TOKENS + 3}, 100000), ' ')"
        )
    )
    # direct check: the char right before loss_start closes the
    # assistant sentinel, and rendered ends with the end sentinel
    assert (
        df.filter(
            F.expr(
                f"substring(rendered, loss_start - {len(_SFT_PRE_ASSISTANT)} + 1, "
                f"{len(_SFT_PRE_ASSISTANT)})"
            )
            != _SFT_PRE_ASSISTANT
        ).count()
        == 0
    )
    assert df.filter(~F.col("rendered").endswith(_SFT_END)).count() == 0
    assert df.filter(
        F.col("n_chars") != F.length("rendered")
    ).count() == 0


def test_curriculum_phases_are_monotone_and_balanced(spark, specs):
    """Curriculum phases must be non-decreasing in difficulty (every
    bucket of phase p sits at or below every bucket of phase p+1) and
    each phase's token mass stays within one bucket of the equal
    split (the histogram-boundary guarantee)."""
    from database_scan_spark.operators.llm_prep import _CUR_PHASES

    pdf = (
        specs["wf_curriculum_schedule"].fn(spark, SF_SMOKE)
        .groupBy("phase")
        .agg(
            F.min("bucket").alias("lo"),
            F.max("bucket").alias("hi"),
            F.sum("n_tokens").alias("tok"),
        )
        .orderBy("phase")
        .toPandas()
    )
    assert sorted(pdf["phase"]) == list(pdf["phase"])
    for i in range(len(pdf) - 1):
        assert pdf["hi"][i] <= pdf["lo"][i + 1]
    total = pdf["tok"].sum()
    # every phase BOUNDARY lands within one bucket's mass of the
    # ideal equal split (the split is exact up to bucket granularity)
    bucket_mass = (
        specs["wf_curriculum_schedule"].fn(spark, SF_SMOKE)
        .groupBy("bucket").agg(F.sum("n_tokens").alias("m"))
        .agg(F.max("m")).collect()[0][0]
    )
    cum = 0
    for i in range(len(pdf) - 1):
        cum += pdf["tok"][i]
        ideal = total * (i + 1) / _CUR_PHASES
        assert abs(cum - ideal) <= bucket_mass


def test_random_projection_distortion_concentrates(spark, specs):
    """JL guarantee (sanity, not a proof): with K=16 the mean squared
    distortion over the corpus concentrates near 1 — the corpus mean
    must land within 25% of 1, and no vector may be degenerate
    (ppm <= 0)."""
    df = specs["sim_random_projection"].fn(spark, SF_SMOKE)
    row = df.agg(
        F.avg("distortion_ppm").alias("mu"),
        F.min("distortion_ppm").alias("lo"),
    ).collect()[0]
    assert 750_000 < row.mu < 1_250_000
    assert row.lo > 0


def test_thumbnail_cells_tile_the_image_exactly(spark, specs):
    """Per doc: 16 cells, byte counts sum to w·3·h (padding excluded),
    and the cell sums total the padding-free luminance of the image."""
    df = specs["mm_thumbnail_real"].fn(spark, SF_SMOKE)
    per_doc = df.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("n_bytes").alias("bytes_total"),
    )
    docs = (
        specs["mm_thumbnail_real"]
        .fn(spark, SF_SMOKE)
        .sparkSession.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .filter(F.col("doc_id") % 2 == 0)
        .select(
            "doc_id",
            (
                (F.length("text") % 64 + 1) * 3 * (F.length("text") % 48 + 1)
            ).alias("expect_bytes"),
            # an image narrower/shorter than the grid yields one cell
            # per pixel row/col, not G of them
            (
                F.least(F.length("text") % 48 + 1, F.lit(4))
                * F.least(F.length("text") % 64 + 1, F.lit(4))
            ).alias("expect_cells"),
        )
    )
    joined = per_doc.join(docs, "doc_id")
    assert joined.filter(F.col("n_cells") != F.col("expect_cells")).count() == 0
    assert joined.filter(F.col("bytes_total") != F.col("expect_bytes")).count() == 0


def test_pretrain_batches_conserve_docs_and_tokens(spark, specs):
    """Shard manifest conservation: across shards, doc and token
    totals equal the gate→dedup→tokenize leg recomputed directly, and
    every shard id is in range."""
    from database_scan_spark.plans.pretrain_batches import (
        PB_MAX_WORD_LEN,
        PB_MIN_TOKENS,
        PB_SHARDS,
    )
    from database_scan_spark.catalog import load
    from database_scan_spark.operators._helpers import h32
    from pyspark.sql import Window

    man = specs["pipeline_pretrain_batches"].fn(spark, SF_SMOKE)
    got = man.agg(
        F.sum("n_docs").alias("docs"), F.sum("n_tokens").alias("toks")
    ).collect()[0]
    assert man.filter((F.col("shard_id") < 0) | (F.col("shard_id") >= PB_SHARDS)).count() == 0

    docs = load(spark, SF_SMOKE, "documents")
    n_ws = F.size(F.split("text", " "))
    gated = docs.filter(
        (n_ws >= PB_MIN_TOKENS)
        & ((F.length("text") - n_ws + 1) / n_ws <= PB_MAX_WORD_LEN)
    )
    canon = F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
    deduped = (
        gated.withColumn(
            "rk", F.row_number().over(Window.partitionBy(h32(canon)).orderBy("doc_id"))
        )
        .filter(F.col("rk") == 1)
    )
    expect = deduped.agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum(F.size(F.regexp_extract_all("text", F.lit("[a-z]{1,4}"), 0))).alias("toks"),
    ).collect()[0]
    assert got.docs == expect.docs
    assert got.toks == expect.toks


def test_geohash_matches_textbook_bisection(spark, specs):
    """The closed-form bit-interleave encode must agree with the
    classic bisection geohash algorithm (independent implementation)
    for every fixture point, PROVIDED the point is quantized to the
    same 15-bit cell first (the closed form encodes cell centers)."""
    from database_scan_spark.operators.geo import GH_CHARS, GH_HALF, _GH_ALPHABET

    rows = specs["geo_geohash_encode"].fn(spark, SF_SMOKE).collect()

    def textbook(lat, lon, n_chars):
        lat_rng, lon_rng = [-90.0, 90.0], [-180.0, 180.0]
        bits, out, even = 0, [], True
        ch = 0
        for i in range(n_chars * 5):
            if even:
                mid = (lon_rng[0] + lon_rng[1]) / 2
                if lon >= mid:
                    ch = (ch << 1) | 1
                    lon_rng[0] = mid
                else:
                    ch = ch << 1
                    lon_rng[1] = mid
            else:
                mid = (lat_rng[0] + lat_rng[1]) / 2
                if lat >= mid:
                    ch = (ch << 1) | 1
                    lat_rng[0] = mid
                else:
                    ch = ch << 1
                    lat_rng[1] = mid
            even = not even
            bits += 1
            if bits == 5:
                out.append(_GH_ALPHABET[ch])
                bits, ch = 0, 0
        return "".join(out)

    for r in rows:
        # decode the 15-bit cell back to its lower-edge coordinate:
        # the textbook walk on any interior point of the cell yields
        # the same 15 bits, so use the cell's center
        lat_idx = ((r.lat_mdeg + 90000) * (1 << GH_HALF)) // 180000
        lon_idx = ((r.lon_mdeg + 180000) * (1 << GH_HALF)) // 360000
        lat = (lat_idx + 0.5) / (1 << GH_HALF) * 180.0 - 90.0
        lon = (lon_idx + 0.5) / (1 << GH_HALF) * 360.0 - 180.0
        assert textbook(lat, lon, GH_CHARS) == r.geohash, (
            r.c_custkey, r.geohash)


def test_clustering_audit_separates_layouts(spark, specs):
    """The audit must measure what clustering is FOR: the band layout
    reads ~1 file per point lookup, the hash layout reads all of
    them."""
    rows = {r.layout: r for r in specs["storage_clustering_audit"].fn(spark, SF_SMOKE).collect()}
    assert rows["clustered"].max_depth <= 2
    assert rows["unclustered"].max_depth == rows["unclustered"].n_files
    assert rows["clustered"].avg_depth_permille < rows["unclustered"].avg_depth_permille / 4


def test_bloom_archive_has_no_false_negatives(spark, specs):
    """Structural Bloom guarantee: every exact duplicate is flagged
    (bloom ∧ exact == exact), and the measured FPP stays within 10x
    the design point (k=5, 16 bits/key → ~0.3%)."""
    r = specs["dedup_bloom_archive"].fn(spark, SF_SMOKE).collect()[0]
    assert r.n_bloom_maybe - r.n_false_pos == r.n_exact_seen
    fresh = r.n_incoming - r.n_exact_seen
    if fresh:
        assert r.n_false_pos / fresh <= 0.03


def test_watermark_detector_null_rate(spark, specs):
    """On un-watermarked text the green fraction is a fair coin, so
    the z>2 flag rate must sit in the one-sided normal tail — allow
    [0, 8%] at fixture scale (expected ≈2.3%), and the corpus mean
    green rate must be near 1/2."""
    df = specs["text_watermark_detect"].fn(spark, SF_SMOKE)
    row = df.agg(
        F.avg("wm_flag").alias("flag_rate"),
        (F.sum("g") / F.sum("m")).alias("green_rate"),
    ).collect()[0]
    assert row.flag_rate <= 0.08
    assert 0.45 < row.green_rate < 0.55


def test_oph_estimator_within_sampling_error(spark, specs):
    """OPH-with-densification is an unbiased Jaccard estimator with
    per-bin variance J(1−J)/K: at K=32 the per-pair σ is ≤ ~88‰, so
    the mean |error| over the verified pairs must stay below one σ
    and no single pair may exceed ~3σ."""
    df = specs["dedup_minhash_oph"].fn(spark, SF_SMOKE)
    row = df.agg(
        F.avg("abs_err").alias("mu"), F.max("abs_err").alias("mx"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    assert row.n > 0
    assert row.mu <= 88
    assert row.mx <= 265


def test_cdc_chunks_survive_a_prefix_shift(spark, tmp_path, specs):
    """THE content-defined-chunking property: prepending a token to a
    document shifts every offset, yet all chunks after the first
    boundary still hash identically — fixed-offset windows share
    nothing. Build a two-doc corpus (original + prefixed copy) and
    require most of the token mass to land in shared chunks."""
    import os

    from database_scan_spark.catalog import load

    text = (
        load(spark, SF_SMOKE, "documents")
        .orderBy("doc_id")
        .limit(1)
        .collect()[0]["text"]
    )
    sf_dir = str(tmp_path / "cdc_sf")
    os.makedirs(sf_dir, exist_ok=True)
    spark.createDataFrame(
        [
            (1, text, "en", "src_1", len(text)),
            (2, "shiftedprefixtoken " + text, "en", "src_1", len(text) + 19),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(sf_dir, "documents.parquet"))

    shared = specs["dedup_cdc_chunks"].fn(spark, sf_dir).collect()
    n_tokens_total = len(text.split(" "))
    shared_tokens = sum(r.n_tokens for r in shared)
    # the prefix can only disturb chunks up to the FIRST boundary
    # (expected ~D=8 tokens); everything after must be shared
    assert shared, "no shared chunks after a pure prefix shift"
    assert shared_tokens >= n_tokens_total - 3 * 8, (
        shared_tokens, n_tokens_total)


def test_model_eval_learns_planted_signal(spark, tmp_path, specs):
    """pipeline_model_eval on a corpus with REAL signal (priority
    deterministically tied to price band) must reach high held-out
    AUC — proving the chance-level result on the fixture reflects
    the data, not a broken pipeline."""
    import os

    rows = []
    for k in range(2000):
        price = 50_000.0 + (k % 100) * 4_000.0  # 50k..446k
        # signal: urgent iff price in the top band, with a small
        # deterministic noise stripe so AUC < 1
        urgent = (price > 250_000.0) != (k % 17 == 0)
        rows.append((k, float(price), "1-URGENT" if urgent else "3-MEDIUM"))
    sf_dir = str(tmp_path / "pme_sf")
    os.makedirs(sf_dir, exist_ok=True)
    spark.createDataFrame(
        rows, "o_orderkey long, o_totalprice double, o_orderpriority string"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(sf_dir, "orders.parquet"))

    r = specs["pipeline_model_eval"].fn(spark, sf_dir).collect()[0]
    assert r.n_test > 100
    assert r.auc_micro > 930_000, r.auc_micro


def test_shapley_efficiency_identity(spark, specs):
    """Shapley efficiency, exact in integers: with weights 6·w the
    per-coalition coefficients telescope so Σ channels' credit equals
    6·(v(grand coalition) − v(∅)) — a wrong subset join or weight
    breaks this identity immediately."""
    from database_scan_spark.catalog import load
    from database_scan_spark.operators._helpers import h32  # noqa: F401
    from pyspark.sql import Window

    shap = {
        r.channel: r.shapley_6micro
        for r in specs["analytic_shapley_attribution"].fn(spark, SF_SMOKE).collect()
    }
    ev = load(spark, SF_SMOKE, "events").select("user_id", "ts", "event_id", "event_type")
    w_first = Window.partitionBy("user_id")
    fp = F.min(
        F.when(F.col("event_type") == "purchase", F.struct("ts", "event_id"))
    ).over(w_first)
    bit = (
        F.when(F.col("event_type") == "click", 1)
        .when(F.col("event_type") == "signup", 2)
        .when(F.col("event_type") == "view", 4)
    )
    per_user = (
        ev.select("user_id", bit.alias("bit"), fp.alias("fp"), F.struct("ts", "event_id").alias("k"))
        .groupBy("user_id")
        .agg(
            F.bit_or(
                F.when(
                    F.col("bit").isNotNull() & (F.col("fp").isNull() | (F.col("k") < F.col("fp"))),
                    F.col("bit"),
                ).otherwise(0)
            ).alias("mask"),
            F.max(F.col("fp").isNotNull().cast("int")).alias("conv"),
        )
    )
    sets = {
        r.mask: r.v
        for r in per_user.groupBy("mask")
        .agg(F.expr("sum(conv) * 1000000 div count(1)").alias("v"))
        .collect()
    }
    assert sum(shap.values()) == 6 * (sets.get(7, 0) - sets.get(0, 0))


def test_winnowing_density_guarantee(spark, specs):
    """Winnowing's defining property: every full window selects ≥1
    fingerprint and one fingerprint covers ≤ w windows, so
    n_fp ≥ (n_grams − w + 1) / w for every document; density should
    also sit near the theoretical 2/(w+1) on random-ish hashes."""
    from database_scan_spark.operators.text_analysis import _WIN_W

    rows = specs["text_winnowing_fingerprints"].fn(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        n_windows = r.n_grams - _WIN_W + 1
        if n_windows > 0:
            assert r.n_fp * _WIN_W >= n_windows, (r.doc_id, r.n_fp, r.n_grams)
        assert r.n_fp <= r.n_grams
    mean_density = sum(r.n_fp for r in rows) / sum(r.n_grams for r in rows)
    assert 0.25 < mean_density < 0.55  # 2/(w+1) = 0.4 at w=4


def test_raking_converges_toward_margins(spark, specs):
    """Three IPF rounds must land the row margins near their uniform
    targets (residual under 5% — IPF converges geometrically on a
    strictly positive table), and all weights must be positive."""
    rows = specs["analytic_raking_ipf"].fn(spark, SF_SMOKE).collect()
    assert rows
    assert all(r.weight > 0 for r in rows)
    assert max(r.row_err_ppm for r in rows) < 50_000


def test_hll_estimate_within_theory_band(spark, specs):
    """HLL with m=256 registers has relative standard error
    1.04/sqrt(m) ≈ 6.5%; a correct implementation should land within
    ~4 sigma of exact on every fixture group (and the small-range
    linear-counting branch is even tighter). A register-indexing or
    rank bug blows this band immediately."""
    rows = specs["agg_hll_portable"].fn(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 0.74 <= r.est_ratio <= 1.26, (r.event_type, r.est_ratio)


def test_gopher_keep_is_conjunction_of_rules(spark, specs):
    """kept == AND of the four rule booleans, row by row."""
    for r in specs["text_gopher_rules"].fn(spark, SF_SMOKE).collect():
        expect = int(
            r.rule_word_count and r.rule_mean_len
            and r.rule_stopwords and r.rule_alpha_ratio
        )
        assert r.kept == expect, r


def test_dsir_selects_target_like_pool_docs(spark, specs):
    """DSIR ranks are 1..K with strictly ordered (score, doc_id), and
    no selected doc belongs to the target language (selection is from
    the pool by construction)."""
    from database_scan_spark.operators.llm_prep import DSIR_TARGET_LANG, DSIR_TOPK

    rows = specs["wf_dsir_select"].fn(spark, SF_SMOKE).collect()
    assert [r.rank for r in sorted(rows, key=lambda r: r.rank)] == list(
        range(1, min(DSIR_TOPK, len(rows)) + 1)
    )
    from database_scan_spark.catalog import load

    langs = {
        r.doc_id: r.lang
        for r in load(spark, SF_SMOKE, "documents").select("doc_id", "lang").collect()
    }
    assert all(langs[r.doc_id] != DSIR_TARGET_LANG for r in rows)


def test_dup_rate_report_mass_balance(spark, specs):
    """Per-source doc counts in the dup report sum to the corpus
    size, and keepers never exceed docs."""
    from database_scan_spark.catalog import load

    rows = specs["dq_dup_rate_by_source"].fn(spark, SF_SMOKE).collect()
    total = load(spark, SF_SMOKE, "documents").count()
    assert sum(r.n_docs for r in rows) == total
    assert all(0 < r.n_kept <= r.n_docs for r in rows)


def test_proctime_timer_emits_exactly_once_per_user(spark, specs):
    """Every user fires exactly one processing-time timer (the
    'fired' latch suppresses re-emission) — one output row per
    distinct user in the events fixture."""
    from database_scan_spark.catalog import load

    out = specs["stream_tws_proctime_timer"].fn(spark, SF_SMOKE)
    n_users = load(spark, SF_SMOKE, "events").select("user_id").distinct().count()
    rows = out.collect()
    assert len(rows) == n_users
    assert len({r.user_id for r in rows}) == n_users


def test_ccnet_buckets_are_balanced_terciles(spark, specs):
    """ntile(3) must split docs into buckets whose sizes differ by at
    most 1, and bucket means must be monotone in surprisal."""
    rows = specs["text_ccnet_perplexity"].fn(spark, SF_SMOKE).collect()
    sizes = {}
    means = {}
    for r in rows:
        sizes[r.ccnet_bucket] = sizes.get(r.ccnet_bucket, 0) + 1
        means.setdefault(r.ccnet_bucket, []).append(r.avg_nats)
    assert set(sizes) == {1, 2, 3}
    assert max(sizes.values()) - min(sizes.values()) <= 1
    m = [sum(v) / len(v) for _, v in sorted(means.items())]
    assert m[0] < m[1] < m[2]


def test_load_self_applies_session_confs(spark):
    """catalog.load() must self-apply the confs operators depend on in
    CALLER-owned vanilla sessions (the driver contract): UTC session
    time zone and AQE cached-plan repartitioning (without which every
    persist() pins 200-task pre-AQE stages — the round-4 30x cache
    pathology)."""
    from database_scan_spark.catalog import load

    load(spark, SF_SMOKE, "region").count()
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    assert (
        spark.conf.get(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
        )
        == "true"
    )
