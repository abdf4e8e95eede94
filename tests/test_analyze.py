"""Full-pipeline parity against the pure-Python reference-semantics oracle."""

from dataclasses import replace

import pytest

import oracle_ref
from timberjack_spark.fixtures import transcripts_pandas
from timberjack_spark.operators import aggregates as agg
from timberjack_spark.operators.analyze import (
    LogQuery,
    analyze,
    collect_report,
    matched,
    repetition_ratio,
    report_frames,
)

N = 3900  # 3 * 1300 — covers all form/level/template cycles


@pytest.fixture(scope="module")
def corpus(spark):
    pdf = transcripts_pandas(N)
    return pdf, spark.createDataFrame(pdf)


QUERIES = [
    LogQuery(),                                             # full stats, no filters
    LogQuery(pattern="ERROR"),                              # literal fast path
    LogQuery(pattern="Connection (timeout|refused)"),       # regex path
    LogQuery(level="ERROR"),                                # level filter
    LogQuery(level="error"),                                # case-insensitive level
    LogQuery(pattern="timeout", level="WARN"),              # AND of filters
    LogQuery(field_filters={"service": "api"}),             # JSON field equality
    LogQuery(field_filters={"user.role": "admin"}),         # nested flattened field
    LogQuery(field_filters={"service": "api", "level": "ERROR"}),  # AND of fields
    LogQuery(field_filters={"backup": "started"}),          # fallback contains-search
    LogQuery(mode="generic", pattern="ERROR"),              # generic parser on mixed text
    LogQuery(use_pandas_grok=True, pattern="ERROR"),        # Arrow grok stage
]


@pytest.mark.parametrize("q", QUERIES, ids=range(len(QUERIES)))
def test_pipeline_matches_oracle(spark, corpus, q):
    pdf, df = corpus
    expected = oracle_ref.analyze_lines(
        pdf["text"], pattern=q.pattern, level=q.level, fields=q.field_filters or None, mode=q.mode
    )
    res = analyze(df, q, cache=True)
    try:
        doc = collect_report(res, q)
        assert doc["total_count"] == expected["count"]
        got_levels = {r["level"]: r["count"] for r in doc["stats"]["log_levels"]}
        assert got_levels == dict(expected["levels"])
        got_trends = {t["timestamp"]: t["count"] for t in (doc["time_trends"] or [])}
        assert got_trends == dict(expected["trends"])
        assert doc["stats"]["unique_messages_count"] == len(expected["unique_messages"])
        # top-5 errors with deterministic tie-break
        exp_top = sorted(expected["error_types"].items(), key=lambda kv: (-kv[1], kv[0]))[:5]
        got_top = [(e["error_type"], e["count"]) for e in doc["stats"]["error_types"]]
        assert got_top == exp_top
        if expected["count"]:
            ratio = (1 - len(expected["unique_messages"]) / expected["count"]) * 100
            assert abs(doc["stats"]["repetition_ratio"] - ratio) < 1e-9
    finally:
        res["matched"].unpersist()


def test_line_counts_match_oracle(spark, corpus):
    pdf, df = corpus
    q = LogQuery(pattern="ERROR")
    expected = oracle_ref.analyze_lines(pdf["text"], pattern="ERROR")
    res = analyze(df, q)
    got = {r["line"]: r["cnt"] for r in res["line_counts"].collect()}
    assert got == dict(expected["line_counts"])


def test_show_unique_sorted(spark, corpus):
    pdf, df = corpus
    q = LogQuery(show_unique=True, pattern="Cache")
    expected = oracle_ref.analyze_lines(pdf["text"], pattern="Cache")
    res = analyze(df, q)
    doc = collect_report(res, q)
    assert doc["stats"]["unique_messages"] == sorted(expected["unique_messages"])


def test_empty_lines_dropped(spark):
    # F7 — the reference's line splitter never yields empty lines
    df = spark.createDataFrame([("",), ("2025-03-21 10:00:00,1 [ERROR] x",)], "text string")
    doc = collect_report(analyze(df, LogQuery()), LogQuery())
    assert doc["total_count"] == 1
    assert {r["level"] for r in doc["stats"]["log_levels"]} == {"ERROR"}


def test_empty_input_ratio_zero(spark):
    df = spark.createDataFrame([], "text string")
    q = LogQuery()
    doc = collect_report(analyze(df, q), q)
    assert doc["total_count"] == 0
    assert doc["stats"]["repetition_ratio"] == 0.0


def cached_report(df, q) -> dict:
    res = analyze(df, q, cache=True)
    try:
        return collect_report(res, q)
    finally:
        res["matched"].unpersist()


@pytest.mark.parametrize(
    "q",
    [LogQuery(), LogQuery(pattern="Cache"), LogQuery(pattern="no such token anywhere"), None],
    ids=["all", "cache", "no-match", "empty-input"],
)
def test_show_unique_report_equals_message_stats(spark, corpus, q):
    """The unique count and ratio taken from the collected key list equal the
    report without --show-unique and the message_stats aggregate, bit for bit."""
    _, df = corpus
    if q is None:
        df, q = spark.createDataFrame([], "text string"), LogQuery()
    with_list = cached_report(df, replace(q, show_unique=True))
    without = cached_report(df, q)
    assert with_list["stats"]["unique_messages"] == sorted(with_list["stats"]["unique_messages"])
    assert {**with_list["stats"], "unique_messages": None} == without["stats"]
    assert {**with_list, "stats": None} == {**without, "stats": None}
    ms = agg.message_stats(matched(df, q)).collect()[0]
    assert with_list["stats"]["unique_messages_count"] == ms["unique_cnt"]
    assert with_list["stats"]["repetition_ratio"] == ms["repetition_ratio"]


def test_repetition_ratio_matches_message_stats_on_every_small_pair(spark):
    """The driver ratio equals message_stats' Spark column bit for bit for
    every 1 <= unique <= total <= 60 (a reassociated formula differs on 848
    of these pairs)."""
    from pyspark.sql import functions as F

    n = spark.range(1, 61)
    tu = n.select(F.col("id").alias("t")).crossJoin(n.select(F.col("id").alias("u"))).filter("u <= t")
    rows = tu.select("t", "u", F.explode(F.sequence(F.lit(0).cast("long"), F.col("t") - 1)).alias("i"))
    keyed = rows.select("t", "u", (F.col("i") % F.col("u")).cast("string").alias("msg_key"))
    got = agg.message_stats(keyed.groupBy("t", "u")).collect()
    assert len(got) == 60 * 61 // 2
    for r in got:
        assert (r["cnt"], r["unique_cnt"]) == (r["t"], r["u"])
        assert repetition_ratio(r["u"], r["t"]) == r["repetition_ratio"], (r["u"], r["t"])


@pytest.mark.parametrize("q", QUERIES, ids=range(len(QUERIES)))
def test_narrow_spine_report_equals_wide(spark, corpus, q):
    """The report over the narrow persisted spine is the report over the full
    parsed frame (every source and parse column persisted)."""
    _, df = corpus
    q = replace(q, show_unique=True)
    wide = matched(df, q).persist()
    try:
        expected = collect_report(report_frames(wide, q), q)
    finally:
        wide.unpersist()
    assert cached_report(df, q) == expected


def test_unique_messages_sort_is_spark_string_order(spark):
    """The driver-side sort of the unique keys is Spark's binary string order,
    also past the BMP (UTF-16 order would put U+1F600 before U+FF5E)."""
    keys = ["b", "B", "a b", "\u00e9", "\uff5e", "\U0001f600", "\u00e9t\u00e9", "10", "9"]
    lines = [f"2025-03-21 10:00:00 [INFO] {k}" for k in keys] + [f"[WARN] {k}" for k in keys]
    df = spark.createDataFrame([(ln,) for ln in lines], "text string")
    q = LogQuery(show_unique=True)
    got = cached_report(df, q)["stats"]["unique_messages"]
    spark_order = matched(df, q).select("msg_key").distinct().orderBy("msg_key")
    assert got == [r["msg_key"] for r in spark_order.collect()]
    assert len(got) == len(keys)


def test_quantiles_approx_matches_exact_within_tolerance(spark):
    # q_events_quantiles uses exact percentile (oracle-exact); at 100 TB the
    # same plan swaps to percentile_approx (mergeable t-digest). Pin that the
    # swap is semantically safe on this distribution: approx within 1% of
    # exact at accuracy 10000
    from pyspark.sql import functions as F

    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    exact = ev.groupBy("event_type").agg(F.percentile("value", F.lit(0.5)).alias("m"))
    approx = ev.groupBy("event_type").agg(
        F.percentile_approx("value", F.lit(0.5), F.lit(10000)).alias("m")
    )
    e = {r["event_type"]: r["m"] for r in exact.collect()}
    a = {r["event_type"]: r["m"] for r in approx.collect()}
    for k in e:
        scale = max(abs(e[k]), 1e-9)
        assert abs(e[k] - a[k]) / scale < 0.01, (k, e[k], a[k])


def test_approx_count_distinct_within_tolerance(spark):
    # the exact count_distinct in d_doc_dedup_stats/t_conv_stats swaps to
    # approx_count_distinct (HyperLogLog++, mergeable sketch) at corpus
    # scale; pin that the swap is semantically safe at rsd=0.01
    from pyspark.sql import functions as F

    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    exact = ev.agg(F.count_distinct("user_id")).first()[0]
    approx = ev.agg(F.approx_count_distinct("user_id", 0.01)).first()[0]
    assert abs(exact - approx) / exact < 0.03, (exact, approx)
