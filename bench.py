#!/usr/bin/env python
"""Benchmark harness: run the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and print ONE compact JSON line LAST:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...,
     "n_queries": K, "detail": "BENCH_DETAIL.json"}

The driver captures a bounded stdout TAIL; at 97+ headliners a single
line carrying every per-query timing exceeds it and the round's bench
goes unparsed (VERDICT r2 "What's wrong" #1, BENCH_r02.json
``"parsed": null``). So stdout carries only the compact summary — the
``queries`` map holds the HOST-SPEED CANARY subset (BASELINE.md
normalization anchors) — and the full per-query map is written to
``BENCH_DETAIL.json`` next to this script, where the judge reads it
against BASELINE.md's per-query floor.

Queries run through tools/runner.py: the driver contract, noop sink
(count() alone lets Spark prune projections), caches drained outside
the clock. A warm pass over every headliner comes first, then two timed
runs each with the min kept, so the clock measures the plan, not
per-query first-touch costs (codegen JIT, Arrow import, fixture
staging) — see the warm-pass comment in main().
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [REPO, os.path.join(REPO, "tools")]

HEADLINE = [
    "candidate_parts",
    "agg_group_sums",
    "join_multi_hop",
    "dedup_by_id",
    "set_union_accumulate",
    "topk_per_group",
    "win_session",
    "win_tumbling",
    "udf_smiles_canonical",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "sim_topk_bruteforce",
    "text_quality",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q10_returned_items",
    "tpch_q13_customer_distribution",
    "tpch_q21_sole_blame_supplier",
    "join_bucketed",
    "join_asof",
    "pipeline_corpus_prep",
    "dedup_cluster_cc",
    "split_train_test",
    "dedup_decontaminate",
    "wf_pack_sequences",
    "wf_cdc_upsert",
    "win_rolling_zscore",
    "graph_pagerank",
    "sim_centroid_assign",
    "topk_group_agg",
    "agg_bitmap_distinct",
    "wf_mv_incremental",
    "dedup_substring_spans",
    "sim_pq_adc",
    # join_skew_unsalted is NOT timed per-round anymore (VERDICT r3
    # item 7 bench hygiene): it is the deliberate-pathology CONTROL arm
    # of the skew pair — ~8s of wall-clock each round demonstrating the
    # problem salting solves, with no plan that could regress
    # independently of its salted twin. The pair measurement stands in
    # BASELINE.md (unsalted 8.2s vs salted 2.2s at sf0.1 with AQE skew
    # handling off); the operator itself stays registered, oracled, and
    # driver-window-eligible. Only the salted target is a headliner.
    "join_skew_salted",
    "dedup_cluster_cc_twostar",
    "text_chunk_dedup",
    "join_bloom_prefilter",
    "agg_theta_distinct_union",
    "fn_variant_json",
    "catalog_stats_cbo",
    "join_asof_nearest",
    "geo_radius_join",
    # round-2 continuation additions
    "graph_label_propagation",
    "text_bpe_train",
    "storage_merge_on_read",
    "analytic_attribution",
    "agg_countmin_sketch",
    # round-2 final-session additions
    "dedup_semdedup",
    "sim_mmr_rerank",
    "analytic_survival",
    "mm_phash_pairs",
    "pipeline_media_curation",
    "analytic_bootstrap_ci",
    # round-2 sixth-session additions
    "text_keyword_rake",
    "text_hashing_vectorizer",
    "dedup_fellegi_sunter",
    "analytic_mannwhitney",
    "graph_kcore",
    "sim_rrf_fusion",
    "analytic_ndcg",
    "text_boilerplate_fraction",
    "pipeline_experiment_readout",
    "mm_audio_fingerprint",
    # round-2 (driver) first-session additions
    "sim_corpus_overlap",
    "join_pit_features",
    "storage_partition_evolution",
    "graph_scc",
    "storage_manifest_skipping",
    "sim_ivfpq",
    "sim_sq8_error",
    "mm_png_roundtrip",
    "analytic_msprt",
    "wf_compaction_plan",
    "win_sax_symbolize",
    "dedup_jaro_winkler",
    "storage_deletion_vectors",
    "win_decay_score",
    "wf_mixture_temperature",
    # round-2 (driver) second-session additions
    "wf_sft_format",
    "wf_curriculum_schedule",
    "sim_random_projection",
    "mm_thumbnail_real",
    "analytic_heavy_change",
    "pipeline_pretrain_batches",
    "dedup_bloom_archive",
    "text_watermark_detect",
    "storage_clustering_audit",
    "geo_geohash_encode",
    "stream_corpus_ingest",
    "dedup_minhash_oph",
    "dedup_cdc_chunks",
    "pipeline_model_eval",
    "analytic_shapley_attribution",
    "wf_provenance_chain",
    "mm_image_edge_density",
    # round-3 additions
    "text_gopher_rules",
    "text_token_fertility",
    "wf_dsir_select",
    "agg_hll_portable",
    "mm_resize",
    "dq_dup_rate_by_source",
    "text_ccnet_perplexity",
    "pipeline_quality_funnel",
    # round-10 additions: the hot-key-safe window rewrites (SCALE.md
    # "Sharded navigation windows") — benched so the constant-factor
    # cost vs their plain twins stays measured, not asserted
    "win_running_sum_sharded",
    "win_lag_lead_sharded",
    "win_ewma_sharded",
    # NOT a headliner: stream_tws_proctime_timer (and the other TWS
    # jobs) — at fixture scale ~95% of their wall-clock is the
    # per-partition transformWithState state-server handshake (14s for
    # 150 keys, flat in data volume), so timing them measures the TWS
    # protocol, not an operator plan. stream_corpus_ingest represents
    # streaming in the headline set; TWS correctness is gated by the
    # driver window + oracle instead.
]

# Per-query session confs applied around EXECUTION (set → run → restore).
# The skew pair runs with AQE's skew-join split off and a scaled-down
# advisory partition size: scale-down emulation of the cases salting is
# for — skewed aggregation groups / window partitions AQE cannot split,
# and engines without AQE. See operators/storage.py for the rationale.
EXTRA_CONFS: dict[str, dict[str, str]] = {
    name: {
        "spark.sql.adaptive.skewJoin.enabled": "false",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1m",
    }
    for name in ("join_skew_unsalted", "join_skew_salted")
}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import runner  # noqa: PLC0415

    # Queries run through the DRIVER CONTRACT (tools/runner.py): the
    # _released wrapper bounds the session to one query's persisted
    # caches, and runner drains them outside the clock. Raw registry
    # fns leaked every persisting headliner's caches into all later
    # timings (r9: 5 late-list floor flags on an otherwise idle host).
    spark = runner.engine_session("database-scan-spark-bench")

    # Warm pass (not measured), then a measured pass: time the SECOND
    # run of every headliner (VERDICT r7 item 2). The first run per
    # query pays one-time costs that are not the operator's plan —
    # whole-stage-codegen JIT, Arrow/pyarrow import, parquet footer
    # caches, and the marker-guarded fixture staging some queries do on
    # first touch (bucketed layouts, merge-on-read base+delta files,
    # partitioned/evolved/deletion-vector/clustered table copies, media
    # blob dirs). Measured first-vs-second run in one session at sf0.1:
    # mm_png_roundtrip 3.07→0.66s, graph_scc 5.0→1.45s,
    # storage_clustering_audit 8.1→1.3s, analytic_ndcg 1.75→1.19s —
    # on a loaded driver host those first-touch costs produced 17
    # spurious floor-gate flags in r7. The warm pass makes the timed
    # pass measure the read/compute path, matching how the per-query
    # floors in tools/floors.json were measured (warm, quiet host).
    runner.warm(spark, HEADLINE, sf_dir)

    # Jitter guard, SYMMETRIC (VERDICT r8 item 2): after the warm pass,
    # EVERY headliner gets two timed runs and reports the min; both raw
    # timings land in BENCH_DETAIL.json["runs"] so a masked retry is
    # auditable.
    queries: dict[str, float] = {}
    raw_runs: dict[str, list[float]] = {}
    for name in HEADLINE:
        t1, t2 = (b + e for b, e in runner.timed(spark, name, sf_dir))
        raw_runs[name] = [round(t1, 3), round(t2, 3)]
        queries[name] = round(min(t1, t2), 3)

    sf = os.path.basename(os.path.normpath(sf_dir)).replace("sf", "")
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    detail_path = os.path.join(REPO, "BENCH_DETAIL.json")
    detail = {
        "metric": "headline-query wall-clock, noop sink, local mode",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "runs": raw_runs,
        "sf": sf_val,
    }
    # Mechanical floor gate (VERDICT r5 item 7): tools/floors.json is
    # the ONE canonical per-query floor table (query → floor → reset
    # history); tools/gen_baseline.py renders it and applies the >2x
    # host-adjusted rule. Evaluated here so every bench run self-reports.
    try:
        import gen_baseline  # noqa: PLC0415

        if sf_val == gen_baseline.FLOOR_SF:
            floors_doc, _ = gen_baseline.load()
            ev = gen_baseline.evaluate(floors_doc, queries)
            detail["floor_check"] = {
                "host_speed": ev["host_speed"],
                "violations": ev["violations"],
                "unfloored": ev["unfloored"],
                "floors": "tools/floors.json",
            }
        else:  # floors are sf0.1-anchored; other SFs would gate garbage
            detail["floor_check"] = {
                "skipped": f"floors anchored at sf{gen_baseline.FLOOR_SF}; "
                f"this run is sf{sf_val}",
            }
    except Exception as exc:  # never let the gate break the bench line
        detail["floor_check"] = {"error": str(exc)[:200]}
    with open(detail_path, "w") as fh:
        json.dump(detail, fh, indent=1, sort_keys=True)
        fh.write("\n")
    # Durability (VERDICT r10 item 2): a later bench at a DIFFERENT
    # core count overwrites BENCH_DETAIL.json and destroys the earlier
    # run's evidence (r10's 32-core floor flag became unattributable
    # after the driver's 8-core run). Stamp a per-cpus copy too —
    # additions-only, the mutable path above stays the contract.
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    with open(detail_path.replace(".json", f"_c{cpus}.json"), "w") as fh:
        json.dump(detail, fh, indent=1, sort_keys=True)
        fh.write("\n")
    # Host-speed canaries (BASELINE.md normalization anchors): cheap,
    # plan-stable queries whose ratio to their floor separates VM drift
    # from real regressions without shipping the full per-query map.
    canaries = (
        "agg_group_sums", "text_quality", "dedup_minhash_lsh",
        "tpch_q3_shipping_priority", "candidate_parts",
    )
    result = {
        "metric": "headline-query wall-clock, noop sink, local mode",
        "value": detail["value"],
        "unit": "sec",
        "queries": {k: queries[k] for k in canaries if k in queries},
        "sf": sf_val,
        "n_queries": len(queries),
        "detail": "BENCH_DETAIL.json",
        "floor_violations": len(detail["floor_check"]["violations"])
        if "violations" in detail["floor_check"] else None,
        # Names, not just a count (VERDICT r10 item 2): the stdout line
        # must self-attribute its flags so a PERF round can name its
        # violator from artifacts alone even if the detail file is
        # later overwritten. Additions-only; normally an empty list.
        "floor_violation_names": detail["floor_check"].get("violations"),
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
