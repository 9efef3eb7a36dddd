"""Central registry: every named query/operator the engine exposes.

``__spark_entry__.queries()`` / ``oracle_sql()`` are thin views over
this list. Names follow SURVEY.md §2 Op ids; extensions use
``dedup_* / sim_* / text_* / mm_* / stream_*`` prefixes.
"""

from __future__ import annotations

import importlib

from .plans.candidate_parts import CANDIDATE_PARTS_ORACLE, candidate_parts
from .spec import QuerySpec

SPECS: list[QuerySpec] = [
    QuerySpec(
        name="candidate_parts",
        fn=candidate_parts,
        oracle=CANDIDATE_PARTS_ORACLE,
    ),
]


def _extend(specs: list[QuerySpec]) -> None:
    seen = {s.name for s in SPECS}
    for s in specs:
        if s.name in seen:
            raise ValueError(f"duplicate query name {s.name}")
        seen.add(s.name)
        SPECS.append(s)


# Registration order: the flagship above, then each module's SPECS in
# this order.
_MODULES: tuple[str, ...] = (
    "operators.relational",
    "operators.sources_sinks",
    "operators.composite",
    "operators.tpch_extra",
    "operators.storage",
    "operators.sql_surface",
    "operators.temporal",
    "operators.windows",
    "operators.functions_surface",
    "operators.dedup",
    "operators.similarity",
    "operators.text_analysis",
    "operators.sampling",
    "operators.multimodal",
    "operators.graph",
    "operators.geo",
    "operators.quality",
    "operators.llm_prep",
    "operators.analytics_extra",
    "operators.stats_tests",
    "plans.pipeline",
    "plans.corpus_prep",
    "plans.cc_clusters",
    "plans.incremental_ingest",
    "plans.rag_retrieval",
    "plans.media_curation",
    "plans.pretrain_batches",
    "plans.quality_funnel",
    "streaming.jobs",
)

for _mod in _MODULES:
    _extend(importlib.import_module(f".{_mod}", __package__).SPECS)

# The driver's correctness check runs the first 50 entries of SPECS, so
# the queries the latest change touched lead the list; everything else
# keeps registration order (the sort is stable). Now: the queries whose
# join order or aggregate grain changed so that no lineitem scan is a
# broadcast build side, then every streaming spec and the Python stream
# source (all start their streams through ``session.run_stream``), then
# the rest of the benchmark's workload queries.
FOCUS: tuple[str, ...] = (
    # lineitem streams, the filtered orders side builds
    "candidate_parts",
    "join_multi_hop",
    "set_union_accumulate",
    "set_difference",
    "set_intersection",
    "join_merge_inner_same_key",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q10_returned_items",
    "tpch_q21_sole_blame_supplier",
    # streaming/jobs.py
    "stream_tumbling",
    "stream_sliding",
    "stream_session",
    "stream_stateful_user_totals",
    "stream_stateful_running_total",
    "stream_tws_recent_events",
    "stream_tws_type_counts",
    "stream_dedup",
    "stream_stream_interval_join",
    "stream_foreach_batch_sink",
    "stream_mv_refresh",
    "stream_tws_inactivity_flush",
    "stream_tws_proctime_timer",
    "stream_tws_eventtime_timer",
    "stream_static_join",
    "stream_dedup_within_watermark",
    "stream_left_outer_interval_join",
    "sink_python_stream_datasource",
    "stream_update_vs_complete",
    "stream_watermark_late_drop",
    "stream_checkpoint_resume",
    "stream_chained_aggregations",
    "stream_pit_enrich",
    "stream_dlq_split",
    "stream_corpus_ingest",
    "src_python_stream_datasource",
    # perfbench workload "pipeline" (stream_corpus_ingest is above)
    "dedup_cluster_cc",
    "text_keyword_rake",
    "udf_smiles_canonical",
    "mm_audio_fingerprint",
    "wf_checkpoint_resume",
    "sink_python_datasource",
    "src_python_datasource",
    "text_quality",
    # perfbench workload "traversal_scaled" (the rest are above)
    "dedup_by_id",
)
_FOCUS_RANK = {name: i for i, name in enumerate(FOCUS)}
SPECS.sort(key=lambda s: _FOCUS_RANK.get(s.name, len(FOCUS)))


def get(name: str) -> QuerySpec:
    for s in SPECS:
        if s.name == name:
            return s
    raise KeyError(name)
