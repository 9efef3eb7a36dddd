"""pipeline_media_curation — cross-modality corpus curation.

The multimodal counterpart of ``plans/corpus_prep.py``: one composed
plan that gates EVERY media document through (1) the text-side
quality score of its caption/transcript, then (2) a modality-specific
rule — images drop perceptual-hash near-duplicates
(``mm_phash_pairs`` survivors only), audio drops clips whose
voiced fraction is under 30% (``mm_vad_segments`` signal) — and
emits the curated manifest with a reason code per document, the
relation a training-data loader consumes directly.

Generalizes the reference's one-modality gate-then-collect loops
(x2.2.py:238-247 filter→dedup→append shape) to a typed multimodal
corpus. All three legs reuse the SAME oracled kernels as their
standalone operators, so this composition is hash-checked end to end.

Scale: the three legs are each scan-parallel (Arrow decode maps,
keyed aggregates); the final assembly is two LEFT joins of
doc-keyed audit relations — no new shuffle shape beyond the legs'
own. Reason precedence is deterministic: low_quality beats the
modality rules beats 'ok'.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..spec import QuerySpec

QUALITY_FLOOR = 0.5
VOICED_MIN_PCT = 30  # keep audio with >= 30% voiced windows


def pipeline_media_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import (  # noqa: PLC0415
        _audio_stats_batches_fn,
        _media_table,
        mm_phash_pairs,
    )
    from ..operators.text_analysis import text_quality  # noqa: PLC0415

    q = text_quality(spark, sf_dir).select("doc_id", "quality_score")
    dups = (
        mm_phash_pairs(spark, sf_dir)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("is_dup", F.lit(1))
    )
    # voiced-window stats computed in-task (optimization r10, guide
    # §4.2 — see _audio_stats_batches_fn): the window relation never
    # leaves the Python worker, so the former persist + groupBy + join
    # of windows back against their own aggregate + second groupBy are
    # all gone; one decode pass, one per-doc row out.
    audio = _media_table(spark, sf_dir).mapInPandas(
        _audio_stats_batches_fn(),
        schema="doc_id long, n_win long, tot long, n_voiced long",
    ).select("doc_id", "n_win", "n_voiced")
    base = (
        q.join(dups, "doc_id", "left")
        .join(audio, "doc_id", "left")
        .withColumn(
            "modality",
            F.when(F.col("doc_id") % 2 == 0, F.lit("image")).otherwise(
                F.lit("audio")
            ),
        )
    )
    reason = (
        F.when(F.col("quality_score") < QUALITY_FLOOR, F.lit("low_quality"))
        .when(
            (F.col("modality") == "image") & F.col("is_dup").isNotNull(),
            F.lit("phash_dup"),
        )
        .when(
            (F.col("modality") == "audio")
            & (F.col("n_voiced") * 100 < VOICED_MIN_PCT * F.col("n_win")),
            F.lit("low_voice"),
        )
        .otherwise(F.lit("ok"))
    )
    return base.select(
        "doc_id",
        "modality",
        reason.alias("reason"),
        (reason == "ok").cast("int").alias("kept"),
    ).orderBy("doc_id")


def _oracle() -> str:
    from ..operators.multimodal import (  # noqa: PLC0415
        MM_AUDIO_ENERGY_ORACLE,
        MM_PHASH_PAIRS_ORACLE,
    )
    from ..operators.text_analysis import TEXT_QUALITY_ORACLE  # noqa: PLC0415

    return f"""
WITH q AS (
    SELECT doc_id, quality_score FROM ({TEXT_QUALITY_ORACLE})
),
dups AS (
    SELECT DISTINCT doc_b AS doc_id, 1 AS is_dup
    FROM ({MM_PHASH_PAIRS_ORACLE})
),
energy AS (
    SELECT * FROM ({MM_AUDIO_ENERGY_ORACLE})
),
tot AS (
    SELECT doc_id, COUNT(*) AS n_win, SUM(energy) AS tot
    FROM energy GROUP BY doc_id
),
voiced AS (
    SELECT e.doc_id, COUNT(*) AS n_voiced
    FROM energy e JOIN tot t ON e.doc_id = t.doc_id
    WHERE e.energy * t.n_win > t.tot
    GROUP BY e.doc_id
),
audio AS (
    SELECT t.doc_id, t.n_win, COALESCE(v.n_voiced, 0) AS n_voiced
    FROM tot t LEFT JOIN voiced v ON t.doc_id = v.doc_id
),
base AS (
    SELECT q.doc_id, q.quality_score, d.is_dup, a.n_win, a.n_voiced,
           CASE WHEN q.doc_id % 2 = 0 THEN 'image' ELSE 'audio' END
               AS modality
    FROM q
    LEFT JOIN dups d ON q.doc_id = d.doc_id
    LEFT JOIN audio a ON q.doc_id = a.doc_id
),
scored AS (
    SELECT doc_id, modality,
           CASE WHEN quality_score < {QUALITY_FLOOR} THEN 'low_quality'
                WHEN modality = 'image' AND is_dup IS NOT NULL
                    THEN 'phash_dup'
                WHEN modality = 'audio'
                     AND n_voiced * 100 < {VOICED_MIN_PCT} * n_win
                    THEN 'low_voice'
                ELSE 'ok' END AS reason
    FROM base
)
SELECT doc_id, modality, reason,
       CAST(CASE WHEN reason = 'ok' THEN 1 ELSE 0 END AS INTEGER) AS kept
FROM scored
ORDER BY doc_id
"""


SPECS = [
    QuerySpec(
        "pipeline_media_curation",
        pipeline_media_curation,
        _oracle(),
    )
]
