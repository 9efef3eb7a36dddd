"""Plan-shape assertions: the things that decide 100 TB behavior.

These tests read `.explain("formatted")` output — if a refactor
breaks predicate pushdown, column pruning, or a broadcast decision,
correctness tests stay green but these fail.
"""

from __future__ import annotations

import pathlib

from pyspark.sql import functions as F

from conftest import SF_SMOKE
from database_scan_spark.session import scoped_confs


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_reaches_scan(spark):
    from database_scan_spark.operators.relational import src_parquet_scan

    plan = _plan(src_parquet_scan(spark, SF_SMOKE))
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(l_quantity,45.0)" in plan.replace(" ", "")


def test_column_pruning_reaches_scan(spark):
    from database_scan_spark.operators.relational import src_parquet_scan

    plan = _plan(src_parquet_scan(spark, SF_SMOKE))
    # ReadSchema must carry only the 3 projected columns, not all 11
    read_schema = [line for line in plan.splitlines() if "ReadSchema" in line][0]
    assert "l_extendedprice" not in read_schema
    assert "l_quantity" in read_schema


def test_dimension_join_broadcasts(spark):
    from database_scan_spark.plans.candidate_parts import candidate_parts

    plan = _plan(candidate_parts(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan  # part enrich + main_sups side


def test_no_cartesian_in_multi_hop(spark):
    from database_scan_spark.operators.relational import join_multi_hop

    plan = _plan(join_multi_hop(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan


def test_topk_is_take_ordered(spark):
    from database_scan_spark.operators.relational import sort_topk

    plan = _plan(sort_topk(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan  # no global sort for top-k


def test_whole_stage_codegen_in_agg(spark):
    from database_scan_spark.operators.relational import agg_group_sums

    df = agg_group_sums(spark, SF_SMOKE)
    df.collect()  # finalize the AQE plan so codegen spans are visible
    simple = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )
    # '*(n)' prefixes mark whole-stage-codegen spans in simple mode
    assert "isFinalPlan=true" in simple and "*(" in simple


# (banned substrings, files allowed to use them, where to look); files
# are paths relative to the repo root
_STATIC_RULES = (
    # no operator pulls data to the driver (SURVEY §7.2 phase 5); the
    # harness legitimately materializes results
    (
        (".collect(", ".toPandas(", ".toLocalIterator("),
        {"database_scan_spark/testing.py"},
        ("database_scan_spark",),
    ),
    # catalog's reader pins are the only permanent session confs;
    # everything else goes through session.scoped_confs
    (
        (".conf.set(", ".conf.unset("),
        {"database_scan_spark/session.py", "database_scan_spark/catalog.py"},
        ("database_scan_spark", "tools", "bench.py"),
    ),
    # how the raw events.ts is read and normalised is decided once
    (
        ("nanosAsLong", "timestamp_micros(ts div 1000)"),
        {"database_scan_spark/catalog.py"},
        ("database_scan_spark", "tools", "bench.py"),
    ),
    # engine caches go through session.persist, which records them
    # for release at the next queries() entry
    (
        (".persist(", ".cache()"),
        {"database_scan_spark/session.py"},
        ("database_scan_spark",),
    ),
    # every stream starts in session.run_stream, which owns the fresh
    # checkpoint, the shuffle-partition pin, start and await
    (
        (".writeStream",),
        {"database_scan_spark/session.py"},
        ("database_scan_spark", "tools", "bench.py"),
    ),
    # tests and tools find their checkout through __file__: a hard-coded
    # checkout path (this checkout's own absolute path) makes a run from
    # another clone check (or write) the wrong tree
    (
        (str(pathlib.Path(__file__).resolve().parent.parent),),
        {"tests/test_scale_posture.py"},
        ("tests", "tools", "bench.py"),
    ),
)


def test_operators_never_collect():
    """Static scan for constructs only their owner module may use:
    driver-side materialization in the hot path, session conf changes,
    the raw events.ts reader shim, engine caches, stream starts and a
    hard-coded checkout path."""
    import pathlib

    repo = pathlib.Path(__file__).resolve().parent.parent
    offenders = []
    for banned, allowed, roots in _STATIC_RULES:
        for root in roots:
            path = repo / root
            for py in [path] if path.is_file() else sorted(path.rglob("*.py")):
                rel = py.relative_to(repo).as_posix()
                if rel in allowed:
                    continue
                src = py.read_text()
                offenders += [f"{rel}: {b}" for b in banned if b in src]
    assert not offenders, offenders


def test_partition_pruning_on_partitioned_write(spark):
    from database_scan_spark.operators.storage import sink_parquet_partitioned

    df = sink_parquet_partitioned(spark, SF_SMOKE)
    plan = _plan(df)
    assert "PartitionFilters" in plan
    assert "o_orderstatus" in [
        line for line in plan.splitlines() if "PartitionFilters" in line
    ][0]


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Bucketing pays the shuffle at write time: a join of two tables
    bucketed on the join key must plan with zero Exchange operators."""
    from database_scan_spark.operators.storage import write_bucketed

    li_tbl, o_tbl = write_bucketed(spark, SF_SMOKE)
    li = spark.table(li_tbl)
    o = spark.table(o_tbl)
    joined = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey", "l_partkey", "o_custkey"
    )
    # disable broadcast so the join exercises the bucket layout
    with scoped_confs(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        plan = _plan(joined)
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan

        # a fresh session re-attaches the existing bucket files via
        # DDL instead of rewriting; the re-registered tables must keep
        # the exchange-free layout (bucket ids live in file names)
        spark.sql(f"DROP TABLE IF EXISTS {li_tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {o_tbl}")
        li_tbl2, o_tbl2 = write_bucketed(spark, SF_SMOKE)
        li2, o2 = spark.table(li_tbl2), spark.table(o_tbl2)
        joined2 = li2.join(o2, li2.l_orderkey == o2.o_orderkey).select(
            "l_orderkey", "l_partkey", "o_custkey"
        )
        plan2 = _plan(joined2)
        assert "Exchange" not in plan2, plan2
        assert "SortMergeJoin" in plan2


def test_q4_exists_plans_semi_join(spark):
    """The EXISTS correlation must become a hash semi-join, not a
    per-row subquery (Q4's scale story)."""
    from database_scan_spark.operators.tpch_extra import tpch_q4_order_priority

    plan = _plan(tpch_q4_order_priority(spark, SF_SMOKE))
    assert "LeftSemi" in plan


def test_q9_part_filter_broadcasts(spark):
    """The filtered part dimension must broadcast into the lineitem
    fact scan — a shuffled dim join at 100 TB is the wrong plan."""
    from database_scan_spark.operators.tpch_extra import tpch_q9_product_profit

    plan = _plan(tpch_q9_product_profit(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan


def test_q22_anti_join_and_scalar_broadcast(spark):
    """NOT EXISTS must plan as a left-anti join; the scalar average
    must ride a broadcast, never a shuffle."""
    from database_scan_spark.operators.tpch_extra import tpch_q22_sales_opportunity

    plan = _plan(tpch_q22_sales_opportunity(spark, SF_SMOKE))
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_minhash_verify_prunes_before_shingle_explode(spark):
    """The LSH verification must NOT materialize a full-corpus shingle
    cache (memory-impossible at 100 TB): no InMemoryRelation, and the
    verification branch joins the broadcast candidate-doc list against
    the documents scan BEFORE its shingle explode (the explode runs on
    the pruned side, so the corpus is exploded exactly once — for the
    signatures)."""
    from database_scan_spark.operators.dedup import dedup_minhash_lsh

    df = dedup_minhash_lsh(spark, SF_SMOKE)
    plan = _plan(df)
    # the only cached relation is the tiny candidate-PAIR table; no
    # cached relation may carry a shingle column
    cached = [
        line for line in plan.splitlines() if "InMemoryTableScan" in line
    ]
    assert all("shingle" not in line for line in cached), cached
    # the verify branch broadcasts the candidate list into a hash join
    assert "BroadcastHashJoin" in plan


def test_compaction_reduces_file_count(spark):
    """The compaction rewrite must actually bin-pack: 64 fragment
    files in, ≤4 data files out, zero content change (content parity
    is the oracle's job in test_parity)."""
    import glob
    import os

    from database_scan_spark.operators._helpers import workdir
    from database_scan_spark.operators.storage import sink_compact_small_files

    sink_compact_small_files(spark, SF_SMOKE).collect()
    base = workdir(SF_SMOKE, "compact")
    n_frag = len(glob.glob(os.path.join(base, "fragmented", "*.parquet")))
    n_comp = len(glob.glob(os.path.join(base, "compacted", "*.parquet")))
    assert n_frag == 64, n_frag
    assert n_comp <= 4, n_comp


def test_clustered_write_files_are_disjoint(spark):
    """Range clustering must produce files whose l_shipdate footer
    stats form near-disjoint bands — that disjointness is what lets a
    selective scan skip whole files on min/max at 100 TB."""
    import glob
    import os

    import pyarrow.parquet as pq

    from database_scan_spark.operators._helpers import workdir
    from database_scan_spark.operators.storage import sink_clustered_write

    sink_clustered_write(spark, SF_SMOKE).collect()
    path = os.path.join(workdir(SF_SMOKE, "clustered"), "by_shipdate")
    bands = []
    for f in glob.glob(os.path.join(path, "*.parquet")):
        md = pq.ParquetFile(f).metadata
        idx = md.schema.names.index("l_shipdate")
        lo = min(md.row_group(i).column(idx).statistics.min for i in range(md.num_row_groups))
        hi = max(md.row_group(i).column(idx).statistics.max for i in range(md.num_row_groups))
        bands.append((lo, hi))
    assert len(bands) >= 4, bands
    bands.sort()
    for (_, prev_hi), (next_lo, _) in zip(bands, bands[1:]):
        assert next_lo >= prev_hi, bands  # bands may touch, never interleave


def test_decontaminate_broadcasts_eval_shingles(spark):
    """The eval shingle table is dimension-sized next to the corpus:
    the overlap join must be a broadcast hash join so the corpus-side
    shingle explode never shuffles."""
    from database_scan_spark.operators.dedup import dedup_decontaminate

    plan = _plan(dedup_decontaminate(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan


def test_outlier_iqr_broadcasts_fences(spark):
    """The per-group fence table (a handful of rows) must broadcast
    back onto the fact scan, never shuffle it."""
    from database_scan_spark.operators.sql_surface import filter_outlier_iqr

    plan = _plan(filter_outlier_iqr(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan


def test_pack_sequences_window_is_partitioned(spark):
    """Sequence packing must never plan a global (single-partition)
    window — per-source packing is the whole scale story."""
    from database_scan_spark.operators.sql_surface import wf_pack_sequences

    plan = _plan(wf_pack_sequences(spark, SF_SMOKE))
    assert "SinglePartition" not in plan
    assert "hashpartitioning(source" in plan


def test_cdc_upsert_is_single_shuffle(spark):
    """The latest-wins merge must resolve in ONE exchange on the merge
    key: the version window subsumes both the join and the dedup a
    naive MERGE would shuffle for separately."""
    from database_scan_spark.operators.sql_surface import wf_cdc_upsert

    df = wf_cdc_upsert(spark, SF_SMOKE)
    simple = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )
    assert simple.count("Exchange") == 1, simple
    assert "SinglePartition" not in simple


def test_topk_group_agg_has_no_window(spark):
    """The aggregation-based top-k must never fall back to a ranking
    window (that would reintroduce the per-group sort it exists to
    avoid)."""
    from database_scan_spark.operators.analytics_extra import topk_group_agg

    plan = _plan(topk_group_agg(spark, SF_SMOKE))
    assert "Window" not in plan
    assert "Aggregate" in plan


def test_reservoir_is_take_ordered(spark):
    """Weighted reservoir selection must compile to per-task top-k
    heaps (TakeOrderedAndProject), not Sort+Limit."""
    from database_scan_spark.operators.sampling import sample_reservoir

    plan = _plan(sample_reservoir(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan
    assert "GlobalLimit" not in plan


def test_pq_broadcasts_codebook_and_lut(spark):
    """PQ search must broadcast the codebook and the query LUT; the
    corpus side must never be broadcast or cross-joined."""
    from database_scan_spark.operators.similarity import sim_pq_adc

    plan = _plan(sim_pq_adc(spark, SF_SMOKE))
    assert plan.count("BroadcastExchange") >= 2
    assert "CartesianProduct" not in plan


def test_mv_incremental_scans_orders_once(spark):
    """The refresh plan reads the materialized base from scratch
    parquet + ONE delta scan of orders — a second full-orders scan
    would mean the 'incremental' view recomputes from scratch."""
    from database_scan_spark.operators.analytics_extra import wf_mv_incremental

    plan = _plan(wf_mv_incremental(spark, SF_SMOKE))
    orders_scans = plan.count("orders.parquet")
    assert orders_scans == 1, f"expected 1 orders scan, saw {orders_scans}"
    assert "mv_customer_orders" in plan


def test_salting_balances_synthesized_hot_key(spark):
    """The fixtures are uniform, so exercise the salting math on a
    synthesized 90%-hot-key distribution: after salting with the same
    pmod(hash(...), 8) expression join_salted uses, the hot key's
    rows must spread across all 8 shards with no shard holding more
    than 2x its fair share — the property that turns one straggler
    reducer into 8 parallel ones at cluster scale."""
    n, n_salts = 100_000, 8
    df = spark.range(n).select(
        F.when(F.col("id") % 10 != 0, F.lit(42)).otherwise(F.col("id")).alias("key"),
        F.col("id").alias("tiebreak"),
    )
    salted = df.withColumn(
        "salt", F.pmod(F.hash("key", "tiebreak"), F.lit(n_salts))
    )
    counts = [
        r["count"]
        for r in salted.filter(F.col("key") == 42).groupBy("salt").count().collect()
    ]
    hot_total = sum(counts)
    assert len(counts) == n_salts, "hot key must land on every shard"
    assert max(counts) < 2 * hot_total / n_salts, f"unbalanced shards: {counts}"


def test_embedding_cosine_has_no_cartesian(spark):
    """The exact ball-partition similarity join must never plan an
    unbounded cross product: candidates come from equi-joins on the
    cell key; the only nested-loop shapes are the bounded one-row
    centroid-array broadcasts."""
    from database_scan_spark.operators.dedup import dedup_embedding_cosine

    plan = _plan(dedup_embedding_cosine(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan


def test_levenshtein_blocking_is_hash_join(spark):
    """The length band must be an equi blocking key (exploded probe
    lengths), not a non-equi BroadcastNestedLoopJoin over the whole
    name dictionary — quadratic in vocabulary at scale."""
    from database_scan_spark.operators.dedup import dedup_levenshtein

    plan = _plan(dedup_levenshtein(spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_candidate_parts_no_global_window(spark):
    """Score normalization must be the one-row agg(max) + broadcast,
    not an empty-partition window: no Window operator and no
    full-row SinglePartition funnel in the flagship plan."""
    from database_scan_spark.plans.candidate_parts import candidate_parts

    plan = _plan(candidate_parts(spark, SF_SMOKE))
    assert "Window" not in plan


def test_bloom_prefilter_reaches_fact_side(spark):
    """join_bloom_prefilter must carry Catalyst's injected runtime
    bloom filter: bloom_filter_agg built from the selective dim,
    might_contain applied on the fact side before its shuffle — and
    must leave the session confs untouched."""
    from database_scan_spark.operators.storage import join_bloom_prefilter

    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    df = join_bloom_prefilter(spark, SF_SMOKE)
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == before
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "bloom_filter_agg" in opt and "might_contain" in opt
    plan = _plan(df)
    assert "might_contain" in plan


def test_twostar_cc_plan_has_no_cartesian(spark):
    from database_scan_spark.plans.cc_clusters import dedup_cluster_cc_twostar

    plan = _plan(dedup_cluster_cc_twostar(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_cbo_reorders_pathological_star(spark):
    """catalog_stats_cbo: ANALYZE'd stats must reorder the written
    (fact-first) join order — the fact relation joins LAST — and the
    optimized plan's output-cardinality estimate must be exact (25
    nations), proving the estimate flows from real statistics."""
    from database_scan_spark.operators.sql_surface import catalog_stats_cbo

    df = catalog_stats_cbo(spark, SF_SMOKE)
    opt = df._jdf.queryExecution().optimizedPlan()
    text = opt.toString()
    rel_order = [
        t
        for line in text.splitlines()
        for t in ("lineitem", "nation", "orders", "customer")
        if f"stats_{t}" in line and "Relation" in line
    ]
    # written order was (lineitem, nation, orders, customer); CBO must
    # push the fact table to the end of the join tree
    assert rel_order[-1] == "lineitem", rel_order
    assert "Join" in text and "Cartesian" not in text
    # stats() evaluates lazily under the CURRENT conf — re-open the CBO
    # window so the estimate comes from the ANALYZE'd statistics, not
    # the size-only fallback
    with scoped_confs(spark, {"spark.sql.cbo.enabled": "true"}):
        assert "rowCount=25" in opt.stats().toString()


def test_directional_asof_is_single_exchange(spark):
    """join_asof_forward / join_asof_nearest: purchase dedup is folded
    into the as-of pass (lag-based, partitioned by user_id only), so
    each directional as-of — nearest computes BOTH directions — costs
    exactly ONE shuffle; a (user_id, ts)-keyed dedup window would have
    added a second."""
    import re

    from database_scan_spark.operators.temporal import (
        join_asof_forward,
        join_asof_nearest,
    )

    for fn in (join_asof_forward, join_asof_nearest):
        plan = _plan(fn(spark, SF_SMOKE))
        n_exchange = len(re.findall(r"\n\(\d+\) Exchange", plan))
        assert n_exchange == 1, (fn.__name__, n_exchange)


def test_geo_radius_join_blocks_on_cells(spark):
    """geo_radius_join must plan the cell equi-join — never a
    coordinate cross product (the naive spatial join shape)."""
    from database_scan_spark.operators.geo import geo_radius_join

    plan = _plan(geo_radius_join(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the join keys are the grid cells
    joins = [l for l in plan.splitlines() if "Join" in l and "cx" in l]
    assert joins or "[cx" in plan, plan[:500]


def test_existence_project_plans_existence_join(spark):
    """join_existence_project must plan the EXISTS projection as an
    ExistenceJoin — no row-duplicating outer join + dedup, no per-row
    subquery re-execution."""
    from database_scan_spark.operators.sql_surface import join_existence_project

    df = join_existence_project(spark, SF_SMOKE)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "ExistenceJoin" in opt, opt[:400]


def test_mor_read_is_single_shuffle(spark):
    """The merge-on-read reconcile (latest-wins per key) must cost
    exactly ONE hash exchange — base and deltas union into one keyed
    window; a join-based merge would shuffle per delta file."""
    from database_scan_spark.operators.storage import (
        _mor_table,
        read_merge_on_read,
    )

    root = _mor_table(spark, SF_SMOKE)
    plan = _plan(read_merge_on_read(spark, root))
    assert plan.count("hashpartitioning(") == 1, plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_twap_window_and_agg_share_partitioning(spark):
    """TWAP's lead() window and the per-user aggregate must ride the
    SAME user_id hashpartitioning — a second hash exchange means the
    groupBy re-shuffled what the window already co-located."""
    from database_scan_spark.operators.windows import win_twap

    plan = _plan(win_twap(spark, SF_SMOKE))
    assert plan.count("hashpartitioning(") == 1, plan


def test_weighted_median_no_group_buffering(spark):
    """The weighted median must plan the windowed-cumsum shape: one
    hash exchange, NO percentile aggregate (which buffers each
    group's values) anywhere."""
    from database_scan_spark.operators.analytics_extra import (
        agg_weighted_median,
    )

    plan = _plan(agg_weighted_median(spark, SF_SMOKE))
    assert plan.count("hashpartitioning(") == 1, plan
    assert "percentile" not in plan.lower()


def test_attribution_single_window_pass(spark):
    """All three attribution models must ride ONE windowed pass — a
    per-model union would repeat the user_id shuffle."""
    from database_scan_spark.operators.analytics_extra import (
        analytic_attribution,
    )

    plan = _plan(analytic_attribution(spark, SF_SMOKE))
    assert plan.count(") Window") == 1, plan
    assert plan.count("hashpartitioning(") <= 2, plan


def test_point_in_polygon_is_row_local(spark):
    """The geofence test must fuse into the scan: no join operator
    and no hash exchange of the point table."""
    from database_scan_spark.operators.geo import geo_point_in_polygon

    plan = _plan(geo_point_in_polygon(spark, SF_SMOKE))
    assert "Join" not in plan, plan
    assert "hashpartitioning(" not in plan, plan


def test_dynamic_partition_pruning_fires(spark):
    """The DPP join must carry a dynamicpruning subquery on the
    fact's partition column — without it the partitioned fact is
    fully scanned and the op proves nothing."""
    from database_scan_spark.operators.storage import (
        join_dynamic_partition_pruning,
    )

    plan = _plan(join_dynamic_partition_pruning(spark, SF_SMOKE))
    assert "dynamicpruning" in plan.lower(), plan


def test_cusum_windows_partition_by_priority(spark):
    """win_cusum must never plan a SinglePartition window — every
    cumulative pass rides hashpartitioning(priority)."""
    from database_scan_spark.operators.windows import win_cusum

    plan = _plan(win_cusum(spark, SF_SMOKE))
    assert "Window" in plan
    for line in plan.splitlines():
        if "Exchange SinglePartition" in line:
            raise AssertionError(f"SinglePartition exchange in cusum: {line}")


def test_semdedup_pair_check_is_hash_join_on_cluster(spark):
    """The intra-cluster dup check must be an equi join (hash/SMJ) on
    the cluster id, never a CartesianProduct; the only BNLJ allowed
    is the bounded one-row centroid-array broadcast."""
    from database_scan_spark.operators.dedup import dedup_semdedup

    plan = _plan(dedup_semdedup(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "cluster" in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_phash_signature_is_single_arrow_pass(spark):
    """mm_phash_pairs must decode/hash in Arrow batches (MapInPandas),
    never BatchEvalPython, and candidates must come from equi joins."""
    from database_scan_spark.operators.multimodal import mm_phash_pairs

    plan = _plan(mm_phash_pairs(spark, SF_SMOKE))
    assert "BatchEvalPython" not in plan
    assert "MapInPandas" in plan or "ArrowEvalPython" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_neyman_weight_total_is_broadcast_not_window(spark):
    """The stratum-weight denominator must arrive as a broadcast
    one-row aggregate, not a global window over the strata."""
    from database_scan_spark.operators.sampling import sample_stratified_neyman

    plan = _plan(sample_stratified_neyman(spark, SF_SMOKE))
    assert "BroadcastExchange" in plan
    # the only windows allowed are the per-stratum membership ranks
    for line in plan.splitlines():
        if "Exchange SinglePartition" in line and "rows" not in line:
            raise AssertionError(f"global exchange in neyman: {line}")


def test_bootstrap_replicas_single_aggregation(spark):
    """The Poisson bootstrap must do all replica work in ONE keyed
    aggregation over the exploded scan — no join back to the fact,
    no Python."""
    from database_scan_spark.operators.analytics_extra import (
        analytic_bootstrap_ci,
    )

    plan = _plan(analytic_bootstrap_ci(spark, SF_SMOKE))
    assert "BatchEvalPython" not in plan
    # ONE parquet scan: replicas come from the explode, never a re-read
    # (the final rank window runs on the 32-row replica relation).
    # Formatted explain names each scan node twice: tree + details.
    assert plan.count("Scan parquet") == 2


def test_join_hint_matrix_materializes_each_strategy(spark):
    """Each hinted leg must plan its named physical join."""
    from database_scan_spark.operators.sql_surface import join_hint_matrix

    plan = _plan(join_hint_matrix(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" in plan
    assert "ShuffledHashJoin" in plan


def test_rrf_legs_end_in_take_ordered(spark):
    """Each retrieval leg pools via TakeOrderedAndProject — never a
    global sort of the scored corpus."""
    from database_scan_spark.operators.text_analysis import sim_rrf_fusion

    plan = _plan(sim_rrf_fusion(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan


def test_boilerplate_score_join_is_equi_hash_family(spark):
    """The shingle-df join must be an equi hash-family join (the tiny
    smoke fixture legitimately broadcasts; at corpus scale the same
    equi key plans a shuffled join) — never a nested loop."""
    from database_scan_spark.operators.text_analysis import (
        text_boilerplate_fraction,
    )

    plan = _plan(text_boilerplate_fraction(spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" not in plan
    assert any(j in plan for j in
               ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))


def test_fellegi_sunter_blocked_join_is_hash_based(spark):
    """Pair generation must run as an equi join on the blocking key —
    no nested-loop over the full part table."""
    from database_scan_spark.operators.dedup import dedup_fellegi_sunter

    plan = _plan(dedup_fellegi_sunter(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    # the PAIR generator is an equi hash-family join on the blocking
    # key; the remaining BroadcastNestedLoopJoins in the plan are the
    # one-row u-statistic scalar broadcasts (bounded by construction)
    assert any(j in plan for j in
               ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))


def test_kcore_survivor_filters_are_broadcast_semi(spark):
    """Each peel round filters edges via left-semi joins whose
    strategy AQE picks at runtime (r5: the survivor set of a
    fact-derived graph is unbounded, so a FORCED broadcast was an OOM
    cliff at scale). At this fixture size AQE must still choose
    broadcast — assert on the executed (AQE-final) plan, since the
    static plan has no size stats for the aggregated survivor sets."""
    from database_scan_spark.operators.stats_tests import graph_kcore

    df = graph_kcore(spark, SF_SMOKE)
    df.collect()  # resolve AQE
    plan = _plan(df)
    assert "LeftSemi" in plan
    assert "BroadcastHashJoin" in plan


def test_spearman_joint_histogram_has_partial_agg(spark):
    """The fact collapses through a partial+final hash aggregation
    (map-side combine) before any window touches it."""
    from database_scan_spark.operators.stats_tests import analytic_spearman

    plan = _plan(analytic_spearman(spark, SF_SMOKE))
    assert "HashAggregate" in plan
    assert "BroadcastHashJoin" in plan  # rank dims join back broadcast


def test_manifest_skipping_reads_fewer_files(spark):
    """The footer-manifest planner must select a strict subset of the
    clustered files for the 3-month predicate — file skipping is the
    whole point of the manifest; reading everything means the stats
    intersection is broken."""
    import glob
    import os

    from database_scan_spark.operators._helpers import workdir
    from database_scan_spark.operators.storage import storage_manifest_skipping

    df = storage_manifest_skipping(spark, SF_SMOKE)
    assert df.count() > 0
    path = os.path.join(workdir(SF_SMOKE, "manifest_skip"), "by_shipdate")
    n_total = len(glob.glob(os.path.join(path, "*.parquet")))
    plan = _plan(df)
    import re

    m = re.search(r"number of files read: (\d+)", plan)
    if m:  # formatted explain carries scan stats in some builds
        assert int(m.group(1)) < n_total
    # independent check: re-run the planner loop and count selections
    import datetime as dt

    import pyarrow.parquet as pq

    lo, hi = dt.datetime(1995, 6, 1), dt.datetime(1995, 9, 1)
    sel = 0
    for f in glob.glob(os.path.join(path, "*.parquet")):
        md = pq.ParquetFile(f).metadata
        idx = md.schema.names.index("l_shipdate")
        fmin = min(md.row_group(i).column(idx).statistics.min for i in range(md.num_row_groups))
        fmax = max(md.row_group(i).column(idx).statistics.max for i in range(md.num_row_groups))
        sel += 1 if (fmax >= lo and fmin < hi) else 0
    assert 0 < sel < n_total, (sel, n_total)


def test_deletion_vectors_never_rewrite_base(spark):
    """The whole point of position deletes: applying the delete and
    reading the live view must leave base parquet files byte-for-byte
    untouched (same mtimes) — only the sidecar exists alongside."""
    import glob
    import os

    from database_scan_spark.operators._helpers import workdir
    from database_scan_spark.operators.storage import storage_deletion_vectors

    storage_deletion_vectors(spark, SF_SMOKE).collect()
    base_glob = os.path.join(
        workdir(SF_SMOKE, "deletion_vectors"), "base", "**", "*.parquet"
    )
    before = {f: os.path.getmtime(f) for f in glob.glob(base_glob, recursive=True)}
    assert before, "base files must exist"
    storage_deletion_vectors(spark, SF_SMOKE).collect()  # re-run the read path
    after = {f: os.path.getmtime(f) for f in glob.glob(base_glob, recursive=True)}
    assert before == after


def test_sft_format_is_narrow_no_shuffle(spark):
    """wf_sft_format is pure string assembly: no Exchange in the plan
    beyond the small-file fan-out repartition, and no Python eval."""
    from database_scan_spark.operators.llm_prep import wf_sft_format

    plan = _plan(wf_sft_format(spark, SF_SMOKE))
    assert "BatchEvalPython" not in plan
    assert "SortMergeJoin" not in plan and "HashAggregate" not in plan


def test_curriculum_phase_map_is_broadcast(spark):
    """The bucket→phase map joins back as a broadcast (bucket relation
    is histogram-sized), never a shuffled join of the doc relation
    against itself; the only window runs over the bucket relation."""
    from database_scan_spark.operators.llm_prep import wf_curriculum_schedule

    plan = _plan(wf_curriculum_schedule(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_random_projection_is_narrow_map(spark):
    """JL projection must stay a narrow per-row map: no join, no agg,
    no Python boundary — just project over the scan."""
    from database_scan_spark.operators.similarity import sim_random_projection

    plan = _plan(sim_random_projection(spark, SF_SMOKE))
    for op in ("Join", "HashAggregate", "BatchEvalPython", "ArrowEvalPython"):
        assert op not in plan, op


def test_thumbnail_is_single_arrow_pass(spark):
    """mm_thumbnail_real: exactly one mapInPandas boundary over the
    blob table, no JVM-side shuffle after it."""
    from database_scan_spark.operators.multimodal import mm_thumbnail_real

    plan = _plan(mm_thumbnail_real(spark, SF_SMOKE))
    # one MapInPandas node in the tree (it prints once in the tree and
    # once in the detail section), and nothing after it but the sink
    assert plan.count("MapInPandas (") == 1
    assert "BatchEvalPython" not in plan
    assert "HashAggregate" not in plan  # cells reduce inside the batch fn


def test_heavy_change_topk_is_take_ordered(spark):
    """The top-N is TakeOrderedAndProject (bounded heaps), not a full
    global Sort; the midpoint bound joins as a broadcast."""
    from database_scan_spark.operators.analytics_extra import analytic_heavy_change

    plan = _plan(analytic_heavy_change(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_pretrain_batches_windows_partition_by_source(spark):
    """The packing window must partition by source (no single-reducer
    global sort); shuffles are the dedup agg, the packing window, and
    the shard manifest agg — all key-partitioned."""
    from database_scan_spark.plans.pretrain_batches import pipeline_pretrain_batches

    plan = _plan(pipeline_pretrain_batches(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    # no unpartitioned window: every Exchange is hashpartitioning,
    # except the final ≤PB_SHARDS-row ordered output
    import re
    singles = [
        ln for ln in plan.splitlines()
        if "Exchange SinglePartition" in ln
    ]
    assert not singles, singles


def test_null_aware_anti_is_broadcast_hash_not_per_row(spark):
    """NOT IN (subquery) must plan as hash anti joins (Spark's
    null-aware BroadcastHashJoin LeftAnti), never a per-row subquery
    re-execution or a cartesian product."""
    from database_scan_spark.operators.sql_surface import join_null_aware_anti

    plan = _plan(join_null_aware_anti(spark, SF_SMOKE))
    assert plan.count("BroadcastHashJoin LeftAnti") == 2
    assert "CartesianProduct" not in plan


def test_oph_densification_is_equi_join_per_doc(spark):
    """OPH's densification join must be hash-keyed on doc_id (the K×K
    band is a post-filter), never a cartesian; and the whole plan
    carries no Python boundary."""
    from database_scan_spark.operators.dedup import dedup_minhash_oph

    plan = _plan(dedup_minhash_oph(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cdc_chunk_windows_partition_by_doc(spark):
    """CDC chunking must never sort globally: every Exchange is hash
    partitioning (doc-keyed windows + the chunk-hash agg)."""
    from database_scan_spark.operators.dedup import dedup_cdc_chunks

    plan = _plan(dedup_cdc_chunks(spark, SF_SMOKE))
    singles = [ln for ln in plan.splitlines() if "Exchange SinglePartition" in ln]
    assert not singles, singles


def test_bloom_filter_bits_broadcast(spark):
    """The position set must reach the membership test as a broadcast
    (≤ m rows by construction) — a shuffled join would defeat the
    point of the filter."""
    from database_scan_spark.operators.dedup import dedup_bloom_archive

    plan = _plan(dedup_bloom_archive(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_prf_term_joins_broadcast(spark):
    """Both BM25 passes filter postings via a broadcast term join —
    the data-dependent expansion must keep the literal query's access
    path."""
    from database_scan_spark.operators.text_analysis import sim_prf_rocchio

    plan = _plan(sim_prf_rocchio(spark, SF_SMOKE))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "BatchEvalPython" not in plan


def test_winnowing_argmin_join_is_hash_keyed(spark):
    """The rightmost-argmin banded join must hash on (doc, hash) with
    the position band as a filter — no nested-loop blowup."""
    from database_scan_spark.operators.text_analysis import (
        text_winnowing_fingerprints,
    )

    plan = _plan(text_winnowing_fingerprints(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dsir_broadcasts_bucket_weights(spark):
    """DSIR's bucket-LM weight table (≤ DSIR_BUCKETS rows) must reach
    the token table as a broadcast — a shuffled join here would key
    the whole corpus's token exchange on `bucket`, exactly the shape
    the design forbids."""
    from database_scan_spark.operators.llm_prep import wf_dsir_select

    plan = _plan(wf_dsir_select(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_hll_register_agg_is_two_hash_aggs(spark):
    """The portable HLL must aggregate registers with hash aggregates
    (map-side combinable MAX), never a sort-based fallback, and must
    not shuffle anything wider than (type, register)."""
    from database_scan_spark.operators.composite import agg_hll_portable

    plan = _plan(agg_hll_portable(spark, SF_SMOKE))
    assert "HashAggregate" in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan  # no global-ordering operator anywhere


def test_gopher_rules_single_narrow_stage(spark):
    """Gopher rules are a pure projection: the plan must contain no
    exchange at all — one scan, one stage."""
    from database_scan_spark.operators.text_analysis import text_gopher_rules

    plan = _plan(text_gopher_rules(spark, SF_SMOKE))
    assert "Exchange" not in plan


def test_dsir_topk_is_take_ordered(spark):
    """DSIR's top-K must be per-partition heaps (TakeOrderedAndProject),
    never a global sort/window over the corpus-cardinality score table;
    the rank window runs only on the ≤K-row result."""
    from database_scan_spark.operators.llm_prep import wf_dsir_select

    plan = _plan(wf_dsir_select(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan


def test_no_raw_entity_unpartitioned_windows(spark):
    """The r5/r6 global_order retrofits must not regress: none of the
    retrofitted specs may plan an UNPARTITIONED window keyed directly
    on a raw fact/entity/value-dictionary column (single-task sort at
    scale). Allowed unpartitioned windows are the kernel's own bounded
    offsets pass (keyed _go_pid, <= n_buckets rows) and bounded
    post-aggregate relations (decile / bucket / day rows).

    ADVICE r5 fix: the assertion now checks the full raw_keys set —
    including 's' (analytic_auc's score dictionary) and 'v'
    (dq_drift_wasserstein's value dictionary), both retrofitted onto
    global_order in r6."""
    import re

    from database_scan_spark.registry import get

    raw_keys = {
        "o_totalprice", "r_days", "f_cnt", "m_sum", "revenue", "s", "v"
    }
    for name in (
        "agg_histogram_equidepth",
        "analytic_rfm",
        "analytic_pareto",
        "analytic_gains_table",
        "analytic_auc",
        "dq_drift_wasserstein",
    ):
        plan = _plan(get(name).fn(spark, SF_SMOKE))
        for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
            first = spec.split(",")[0].strip()
            base = re.split(r"[# ]", first)[0]
            assert base not in raw_keys, (
                f"{name}: unpartitioned window keyed on raw column "
                f"{first!r} — the single-task sort the retrofit removed"
            )
