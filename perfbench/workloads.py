"""Workload definitions: a fixed query list, the fixture it runs on, and
how many timed passes fill one ``--seconds`` window.

Each workload is a closed loop with one client: the next query is
issued only after the previous one's action has returned. ``--seed``
fixes the generated fixture and the order of every pass.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    queries: tuple[str, ...]
    sf: float  # scale of the generated base fixture
    copies: int  # >1: queries run on tools/gen_scale_fixture.py output
    pass_s: float  # nominal warm pass length on a 4-core host


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="traversal_scaled",
            why=(
                "the paper's multi-hop candidate traversal and TPC-H joins on a 10-copy "
                "scaled fixture: scans, shuffles and joins do the work, the build layer little"
            ),
            queries=(
                "candidate_parts",
                "join_multi_hop",
                "set_union_accumulate",
                "dedup_by_id",
                "tpch_q3_shipping_priority",
                "tpch_q5_local_supplier_volume",
                "tpch_q10_returned_items",
                "tpch_q21_sole_blame_supplier",
            ),
            # sf0.01 x 10 copies: lineitem ~13 MB, orders ~2 MB on disk, both
            # under the 64 MB broadcast threshold. sf0.1 x 10 runs ~45 s a
            # pass on 4 cores and broadcasts out of a 2g driver heap, which
            # does not fit one run's time limit.
            sf=0.01,
            copies=10,
            pass_s=10.0,
        ),
        Workload(
            name="pipeline",
            why=(
                "fixpoint builds, Python/Arrow batches, Python data sources, a micro-batch "
                "stream and staged writes at sf0.01: driver-side build and per-stage cost dominate"
            ),
            queries=(
                # iterative: build-time fixpoint actions, persist/drain
                "dedup_cluster_cc",
                # corpus: explode + persist, Arrow UDF, mapInPandas. The other
                # iterative and corpus queries each cost 1.5-5 s a pass at
                # sf0.01 and are left out to keep a run inside its time budget
                "text_keyword_rake",
                "udf_smiles_canonical",
                "mm_audio_fingerprint",
                # ingest: foreachBatch stream, checkpoint stages, Python sink
                "stream_corpus_ingest",
                "wf_checkpoint_resume",
                "sink_python_datasource",
                "src_python_datasource",
                # corpus: cheap narrow map
                "text_quality",
            ),
            sf=0.01,
            copies=1,
            pass_s=7.0,
        ),
    )
}

# Package modules the workload queries live in (spec fn ``__module__``
# minus the package prefix); per-module layer metrics are reported for
# each, and anything else lands in "other".
MODULES = (
    "plans.candidate_parts",
    "operators.relational",
    "operators.composite",
    "operators.tpch_extra",
    "plans.cc_clusters",
    "operators.text_analysis",
    "operators.functions_surface",
    "operators.multimodal",
    "streaming.jobs",
    "plans.pipeline",
    "operators.sources_sinks",
    "other",
)


def passes_for(workload: Workload, seconds: float) -> int:
    """Timed full passes that fill ``seconds`` on the reference host.

    A fixed count per (workload, seconds) keeps the sample size, and so
    the tail percentile, identical on every run; a wall-clock stop
    would flip between N and N+1 passes on jitter alone."""
    return max(1, round(seconds / workload.pass_s))
