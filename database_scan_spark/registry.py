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
# keeps registration order (the sort is stable). Now: queries that lost
# a persist (the dedup family through its shingle and pair-set caches,
# then graph, k-anonymity and similarity), then the benchmark's
# workload queries.
FOCUS: tuple[str, ...] = (
    # caches that exchange reuse covered or one site read, dropped
    "dedup_method_matrix",
    "dedup_ngram_jaccard",
    "dedup_jaccard_prefix",
    "dedup_minhash_oph",
    "dedup_minhash_oph_sampled",
    "dedup_minhash_bbit",
    "dedup_minhash_mllib",
    "dedup_incremental_minhash",
    "dedup_cluster_cc_twostar",
    "dedup_keep_best",
    "dq_split_leakage_audit",
    "wf_dpo_pair_builder",
    "pipeline_corpus_prep",
    "pipeline_incremental_ingest",
    "graph_kcore",
    "graph_neighborhood_function",
    "graph_shortest_path",
    "wf_k_anonymity",
    "sim_ann_recall_matrix",
    # perfbench workload "traversal_scaled"
    "candidate_parts",
    "join_multi_hop",
    "set_union_accumulate",
    "dedup_by_id",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q10_returned_items",
    "tpch_q21_sole_blame_supplier",
    # perfbench workload "pipeline" (dedup_cluster_cc also lost the
    # shingle cache)
    "dedup_cluster_cc",
    "text_keyword_rake",
    "udf_smiles_canonical",
    "mm_audio_fingerprint",
    "stream_corpus_ingest",
    "wf_checkpoint_resume",
    "sink_python_datasource",
    "src_python_datasource",
    "text_quality",
)
_FOCUS_RANK = {name: i for i, name in enumerate(FOCUS)}
SPECS.sort(key=lambda s: _FOCUS_RANK.get(s.name, len(FOCUS)))


def get(name: str) -> QuerySpec:
    for s in SPECS:
        if s.name == name:
            return s
    raise KeyError(name)
