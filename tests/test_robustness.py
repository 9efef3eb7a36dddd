"""Driver-contract robustness probes (mirrors the verify recipe's
"worth probing" list): re-entrancy, bad paths, temp-view bleed."""

from __future__ import annotations

import pytest

from conftest import SF_CORRECTNESS, SF_SMOKE


def test_entry_twice_same_session(spark):
    """entry() must be re-runnable in one session (temp-view or
    cached-table name collisions would break the second call)."""
    import __spark_entry__ as e

    n1 = e.entry(spark).count()
    n2 = e.entry(spark).count()
    assert n1 == n2 > 0


def test_bad_sf_dir_raises_cleanly(spark):
    from database_scan_spark.operators.relational import src_parquet_scan
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):
        src_parquet_scan(spark, "/root/testdata/sf_nope").collect()


def test_query_after_param_bind(spark):
    """param_bind registers a session-global temp view named orders;
    subsequent path-loading queries must not be shadowed by it."""
    from database_scan_spark.operators.relational import agg_group_sums, param_bind
    from database_scan_spark.testing import assert_match, run_oracle
    from database_scan_spark.operators.relational import AGG_GROUP_SUMS_ORACLE

    param_bind(spark, SF_SMOKE).collect()  # leaves 'orders' view behind
    pdf = agg_group_sums(spark, SF_CORRECTNESS).toPandas()
    assert_match(pdf, run_oracle(AGG_GROUP_SUMS_ORACLE, SF_CORRECTNESS), "agg_group_sums")


def test_json_permissive_quarantines_planted_corrupt_rows(spark):
    """Every planted corrupt line must land in the corrupt-record
    column — none dropped, none crashing the read."""
    import os

    from database_scan_spark.operators._helpers import workdir
    from database_scan_spark.operators.relational import (
        _N_CORRUPT_PLANTED,
        src_json_permissive,
    )
    from pyspark.sql import functions as F

    src_json_permissive(spark, SF_SMOKE).collect()  # ensures files exist
    path = workdir(SF_SMOKE, "src_json_permissive")
    raw = (
        spark.read.schema(
            "n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT, _corrupt STRING"
        )
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(path)
        .cache()  # Spark disallows querying ONLY the corrupt column off raw files
    )
    try:
        assert raw.filter(F.col("_corrupt").isNotNull()).count() == _N_CORRUPT_PLANTED
    finally:
        raw.unpersist()


def test_data_source_registration_fails_loud(spark, monkeypatch):
    """Every data-source query registers its Python DataSource on each
    run through ``sources.register``: registering the real sink again,
    also from a ``newSession()`` session (which Spark refuses with
    DATA_SOURCE_ALREADY_EXISTS), must not raise. Anything that cannot
    be registered must fail the query right there, not later as a
    confusing DATA_SOURCE_NOT_FOUND, nor silently run the source an
    earlier query registered under the same name."""
    import pytest

    from database_scan_spark.sources import jsonl_sink, register
    from database_scan_spark.streaming.jobs import sink_python_stream_datasource

    register(spark, jsonl_sink.make_jsonl_stream_sink())
    register(spark, jsonl_sink.make_jsonl_stream_sink())
    register(spark.newSession(), jsonl_sink.make_jsonl_stream_sink())
    with pytest.raises(AttributeError):
        register(spark, object)
    monkeypatch.setattr(jsonl_sink, "make_jsonl_stream_sink", lambda: object)
    with pytest.raises(AttributeError):
        sink_python_stream_datasource(spark, SF_SMOKE)


def test_jsonl_sink_abort_leaves_no_committed_output(spark):
    """The Python DataSource writer's commit protocol under task
    failure: a write job with one injected failing partition must (a)
    fail the job, (b) commit NOTHING — no _SUCCESS manifest and no
    part files outside _staging — because abort() runs instead of
    commit(). Readers honoring the manifest therefore see
    all-or-nothing output."""
    import glob
    import os
    import shutil

    import pytest
    from pyspark.sql import functions as F

    from database_scan_spark.catalog import load
    from database_scan_spark.operators._helpers import workdir
    from database_scan_spark.sources import register
    from database_scan_spark.sources.jsonl_sink import make_jsonl_sink

    register(spark, make_jsonl_sink())
    out_dir = workdir(SF_SMOKE, "jsonl_sink_abort_test")
    shutil.rmtree(out_dir, ignore_errors=True)
    df = (
        load(spark, SF_SMOKE, "orders")
        .filter(F.col("o_custkey") < 50)
        .select("o_orderkey", "o_custkey")
        .repartition(4)
    )
    with pytest.raises(Exception, match="injected failure"):
        (
            df.write.format("edges_jsonl")
            .option("path", out_dir)
            .option("fail_partition", "2")
            .mode("append")
            .save()
        )
    assert not os.path.exists(os.path.join(out_dir, "_SUCCESS"))
    assert glob.glob(os.path.join(out_dir, "part-*.jsonl")) == []


def test_mor_staging_idempotent(spark):
    """storage_merge_on_read must be invocation-idempotent: a second
    call reuses the staged table (marker file) and returns identical
    audits — re-staging on every call would rewrite the delta log the
    compaction op depends on mid-flight."""
    from database_scan_spark.operators.storage import storage_merge_on_read

    a = storage_merge_on_read(spark, SF_SMOKE).toPandas()
    b = storage_merge_on_read(spark, SF_SMOKE).toPandas()
    assert a.sort_values("layer").to_dict("records") == b.sort_values(
        "layer"
    ).to_dict("records")


def test_mor_compact_preserves_merged_view(spark):
    """Compaction must be an equivalence transform: the compacted
    base's audit row equals the live merged view's, column for
    column."""
    from database_scan_spark.operators.storage import storage_mor_compact

    pdf = storage_mor_compact(spark, SF_SMOKE).toPandas().set_index("layer")
    for col in ("n_rows", "sum_price", "key_checksum"):
        assert pdf.loc["compacted", col] == pdf.loc["merged", col]


def test_csv_corrupt_recovery_restages_cleanly(spark):
    """A second invocation must read the already-staged CSV (marker)
    and corrupt-row counts must be stable."""
    from database_scan_spark.operators.sources_sinks import (
        src_csv_corrupt_recovery,
    )

    a = src_csv_corrupt_recovery(spark, SF_SMOKE).toPandas()
    b = src_csv_corrupt_recovery(spark, SF_SMOKE).toPandas()
    assert a["_corrupt"].notna().sum() == b["_corrupt"].notna().sum() == 8
    assert len(a) == len(b) == 25


def test_session_global_state_does_not_bleed(spark):
    """The three session-global binding mechanisms — param_bind's temp
    view, fn_sql_udf's SQL UDF, and param_execute_immediate's session
    variable — must interleave in ONE session without corrupting each
    other, and each must be idempotent on re-run."""
    from database_scan_spark.registry import SPECS

    specs = {sp.name: sp for sp in SPECS}
    first = {}
    order = ["param_bind", "fn_sql_udf", "param_execute_immediate"]
    for name in order:
        first[name] = specs[name].fn(spark, SF_SMOKE).toPandas()
    # re-run in reverse order: every result identical to its first run
    for name in reversed(order):
        again = specs[name].fn(spark, SF_SMOKE).toPandas()
        assert again.equals(first[name]), name


def test_gopher_rules_degenerate_docs(spark):
    """Edge inputs the fixture lacks: empty text, single word, all
    stopwords, non-alpha tokens — rules must evaluate (no div-by-zero:
    thresholds are integer cross-multiplications) and kept must be 0
    for each degenerate shape."""
    from database_scan_spark.operators.text_analysis import text_gopher_rules
    import database_scan_spark.operators.text_analysis as ta
    from unittest import mock

    docs = spark.createDataFrame(
        [
            (1, ""),            # empty: 1 empty token
            (2, "word"),        # single word, no stopwords
            (3, "the of a and the of a and"),  # all stopwords: mean len < 3
            (4, "1234 5678 9012 3456"),        # no alpha chars
        ],
        "doc_id long, text string",
    )
    with mock.patch.object(ta, "load", lambda _s, _d, _t: docs):
        rows = {r.doc_id: r for r in text_gopher_rules(spark, "ignored").collect()}
    assert rows[1].kept == 0 and rows[1].rule_word_count == 0
    assert rows[2].kept == 0  # below word floor
    assert rows[3].kept == 0  # fails word floor (8 < 50)
    assert rows[4].rule_alpha_ratio == 0 and rows[4].kept == 0


def test_hll_merge_property(spark):
    """HLL registers must be mergeable: max-merging the per-type
    registers and estimating equals running the estimator over the
    union directly — the property that makes the sketch usable as a
    partial aggregate at 100 TB."""
    from pyspark.sql import functions as F
    from database_scan_spark.catalog import load
    from database_scan_spark.operators._helpers import h32
    from database_scan_spark.operators.composite import _HLL_M, _HLL_W, _HLL_ALPHA

    ev = load(spark, SF_SMOKE, "events")
    h = h32(F.col("user_id").cast("string"))
    bucket = (h / F.lit(1 << _HLL_W)).cast("long")
    w = h % F.lit(1 << _HLL_W)
    rank = F.when(w == 0, F.lit(_HLL_W + 1)).otherwise(
        F.lit(_HLL_W + 1) - F.length(F.bin(w))
    )
    per_type = (
        ev.select("event_type", bucket.alias("b"), rank.alias("r"))
        .groupBy("event_type", "b").agg(F.max("r").alias("m_b"))
    )
    merged = per_type.groupBy("b").agg(F.max("m_b").alias("m_b"))
    direct = (
        ev.select(bucket.alias("b"), rank.alias("r"))
        .groupBy("b").agg(F.max("r").alias("m_b"))
    )
    assert {(r.b, r.m_b) for r in merged.collect()} == {
        (r.b, r.m_b) for r in direct.collect()
    }


def test_dsir_null_lang_parity(spark, tmp_path):
    """ADVICE r3 regression: a NULL-lang doc must land in the POOL on
    BOTH engines. Spark's ~eqNullSafe includes it in scoring; the
    oracle's pool filter must too (is_target computed with IS NOT
    DISTINCT FROM — a plain `WHERE NOT lang = 'en'` drops NULL rows).
    Runs the full spec vs oracle on a fixture clone whose documents
    table has two langs nulled out."""
    import os

    import duckdb

    from database_scan_spark.catalog import TABLES
    from database_scan_spark.operators.llm_prep import (
        WF_DSIR_SELECT_ORACLE,
        wf_dsir_select,
    )
    from database_scan_spark.testing import assert_match, run_oracle

    fix = tmp_path / "sf_nulllang"
    fix.mkdir()
    for name in TABLES:
        src = os.path.join(SF_SMOKE, f"{name}.parquet")
        if name != "documents" and os.path.exists(src):
            os.symlink(src, fix / f"{name}.parquet")
    duckdb.sql(
        f"""
        COPY (
            SELECT doc_id, text,
                   CASE WHEN doc_id % 97 IN (0, 1) THEN NULL ELSE lang END AS lang,
                   source, n_chars
            FROM read_parquet('{SF_SMOKE}/documents.parquet')
        ) TO '{fix}/documents.parquet' (FORMAT PARQUET)
        """
    )
    n_null = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{fix}/documents.parquet') WHERE lang IS NULL"
    ).fetchone()[0]
    assert n_null > 0, "fixture mutation produced no NULL langs"
    pdf = wf_dsir_select(spark, str(fix)).toPandas()
    assert_match(pdf, run_oracle(WF_DSIR_SELECT_ORACLE, str(fix)), "wf_dsir_select/null-lang")


def test_events_ts_reads_nanos_generation_exactly(spark, tmp_path):
    """The TIMESTAMP(NANOS) fixture generation: ``catalog.read_raw``
    surfaces ``ts`` as a raw long and ``catalog.events_ts`` turns it
    into the same microsecond instants. The values include ones a
    double division by 1000 truncates to the previous microsecond."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from database_scan_spark.catalog import events_ts, read_raw

    micros = [1_705_276_800_000_000, 1_705_276_800_000_016, 1_705_276_800_000_080]
    assert any(int(float(us * 1000) / 1000) != us for us in micros)
    pq.write_table(
        pa.table({"ts": pa.array([us * 1000 for us in micros], pa.timestamp("ns"))}),
        tmp_path / "events.parquet",
    )
    raw = read_raw(spark, str(tmp_path), "events")
    assert isinstance(raw.schema["ts"].dataType, T.LongType)
    got = raw.select(F.unix_micros(events_ts(raw.schema["ts"].dataType)).alias("us"))
    assert sorted(r.us for r in got.collect()) == micros
