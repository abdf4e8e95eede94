"""Extraction semantics: reference quirks + expr-vs-pandas-grok equality."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

import oracle_ref
from timberjack_spark.fixtures import transcripts_pandas, transcripts_path
from timberjack_spark.functions.extract import (
    _ERROR_TYPE_JVM_RE,
    _LEVEL_JVM_RE,
    MODES,
    with_parsed,
)
from timberjack_spark.functions.grok import grok_batch, with_parsed_pandas
from timberjack_spark.functions.patterns import ERROR_TYPE_RE, LEVEL_RE, LEVEL_WORDS

EDGE_LINES = [
    "2025-03-21 14:00:00,123 [ERROR] Database connection failed",
    "2025-03-21T14:00:00 [WARN] iso timestamp does not match generic regex",
    "error: lowercase colon form",
    "[info] lowercase bracket form",
    "INFO: at start [ERROR] later",          # leftmost-first: colon form wins
    "no level or timestamp in this line",
    "",
    "ends with bracket ]",
    "a]b]c",
    "one ] bracket only at position",
    '{"timestamp":"2025-03-21T14:00:00.123Z","level":"ERROR","message":"Database connection failed"}',
    '{"time":"2025-03-21 09:00:00","severity":"warn","msg":"fallback keys"}',
    '{"level":5,"message":"numeric level"}',
    '{"level":true,"text":"bool level"}',
    "{not valid json [DEBUG] 2025-01-01 01:02:03}",
    '{"nolevel":"here"} [TRACE] trailing',
    "Connection timeout in NetworkClient.java:86",
    "API rate limit exceeded plus OutOfMemoryError later",
    # non-ASCII / control whitespace: the Arrow grok trim must agree with
    # Catalyst btrim on exactly the Unicode White_Space set — NBSP is trimmed
    # (flips is_jsonish), \x1c-\x1f are NOT (Arrow's utf8_trim_whitespace
    # would strip them; measured divergence, fixed via utf8_trim + _WS)
    '\xa0{"level":"WARN","message":"nbsp-framed json"}\xa0',
    '\x1c{"level":"WARN","message":"fs-framed non-json"}\x1c',
    "2025-03-21 14:00:00 [ERROR] tab]\tmsg key needs trim\x1c",
    # error_type lookbehind edges (a match never starts mid letter-run) and
    # level derivation from the single LEVEL_RE group-0 match
    "xConnection timeout while dialing",
    "FooBarException thrown",
    "bare Exception only",
    "ExceptionFooException nested",
    "a500 Internal Server Error from upstream",
    "OutOfMemoryError: heap space",
    "[warning] lowercase long bracket",
    "WARNING: long colon form",
]


@pytest.fixture(scope="module")
def edges(spark):
    df = spark.createDataFrame([(t,) for t in EDGE_LINES], "text string")
    return {r["text"]: r for r in with_parsed(df, mode="auto").collect()}


def test_bracket_level(edges):
    r = edges[EDGE_LINES[0]]
    assert r["level"] == "ERROR"
    assert r["ts_raw"] == "2025-03-21 14:00:00"
    assert r["bucket"] == "2025-03-21 14"
    assert r["msg_key"] == "Database connection failed"


def test_iso_timestamp_not_matched_by_generic_regex(edges):
    assert edges[EDGE_LINES[1]]["ts_raw"] == ""


def test_colon_form_keeps_colon_uppercased(edges):
    assert edges["error: lowercase colon form"]["level"] == "ERROR:"
    assert edges["WARNING: long colon form"]["level"] == "WARNING:"
    assert edges["OutOfMemoryError: heap space"]["level"] == "ERROR:"


def test_bracket_lowercase_uppercased(edges):
    assert edges["[info] lowercase bracket form"]["level"] == "INFO"
    assert edges["[warning] lowercase long bracket"]["level"] == "WARNING"


def test_leftmost_alternative_wins(edges):
    assert edges["INFO: at start [ERROR] later"]["level"] == "INFO:"


def test_no_level(edges):
    assert edges["no level or timestamp in this line"]["level"] == ""


def test_msg_key_split_semantics(edges):
    assert edges["ends with bracket ]"]["msg_key"] == ""     # trailing empty part
    assert edges["a]b]c"]["msg_key"] == "b"
    assert edges["one ] bracket only at position"]["msg_key"] == "bracket only at position"
    assert edges["no level or timestamp in this line"]["msg_key"] == "no level or timestamp in this line"


def test_json_level_and_ts(edges):
    r = edges[EDGE_LINES[10]]
    assert r["level"] == "ERROR"
    assert r["ts_raw"] == "2025-03-21T14:00:00.123Z"
    assert r["bucket"] == "2025-03-21T14"                    # keeps the 'T'
    assert r["message"] == "Database connection failed"


def test_json_fallback_keys_preserve_case(edges):
    r = edges[EDGE_LINES[11]]
    assert r["level"] == "warn"                              # JSON level NOT uppercased
    assert r["ts_raw"] == "2025-03-21 09:00:00"
    assert r["message"] == "fallback keys"


def test_json_numeric_and_bool_levels(edges):
    assert edges[EDGE_LINES[12]]["level"] == "5"
    assert edges[EDGE_LINES[13]]["level"] == "true"


def test_malformed_json_falls_back_to_generic(edges):
    r = edges["{not valid json [DEBUG] 2025-01-01 01:02:03}"]
    assert r["level"] == "DEBUG"
    assert r["ts_raw"] == "2025-01-01 01:02:03"


def test_json_without_level_key_falls_back(edges):
    assert edges['{"nolevel":"here"} [TRACE] trailing']["level"] == "TRACE"


def test_error_type_leftmost(edges):
    assert edges["Connection timeout in NetworkClient.java:86"]["error_type"] == "Connection timeout"
    # leftmost match: "rate limit..." is not in ERROR_TYPE_RE; OutOfMemoryError matches [A-Za-z]+Error
    assert edges["API rate limit exceeded plus OutOfMemoryError later"]["error_type"] == "OutOfMemoryError"
    # a match never starts mid letter-run, so the JVM pattern's lookbehind
    # changes nothing: it only skips offsets that cannot be leftmost
    assert edges["xConnection timeout while dialing"]["error_type"] == "xConnection timeout"
    assert edges["FooBarException thrown"]["error_type"] == "FooBarException"
    assert edges["bare Exception only"]["error_type"] == ""
    assert edges["ExceptionFooException nested"]["error_type"] == "ExceptionFooException"
    assert edges["a500 Internal Server Error from upstream"]["error_type"] == "500 Internal Server Error"
    assert edges["OutOfMemoryError: heap space"]["error_type"] == "OutOfMemoryError"


@pytest.mark.parametrize("mode", MODES)
def test_modes_match_python_reference_on_edges(spark, mode):
    """Every mode runs the same staged projection; pin each against the
    line-at-a-time reference on the edge lines."""
    df = spark.createDataFrame([(t,) for t in EDGE_LINES], "text string")
    got = {r["text"]: tuple(r)[1:] for r in with_parsed(df, mode=mode).collect()}
    for ln in EDGE_LINES:
        p = oracle_ref.parse_line(ln, mode)
        ts = oracle_ref.extract_ts(ln, p["ts"])
        em = oracle_ref.ERR_RE.search(ln)
        want = (oracle_ref.extract_level(ln, p["level"]), ts, ts[:13], p["message"],
                em.group(1) if em else "", oracle_ref.msg_key(ln))
        assert got[ln] == want, ln


def test_grok_batch_matches_expr_on_edges(spark):
    df = spark.createDataFrame([(t,) for t in EDGE_LINES], "text string")
    expr = with_parsed(df, mode="auto").toPandas().sort_values("text").reset_index(drop=True)
    pud = with_parsed_pandas(df).toPandas().sort_values("text").reset_index(drop=True)
    pd.testing.assert_frame_equal(expr, pud)


def test_grok_batch_matches_expr_on_fixture(spark):
    pdf = transcripts_pandas(2600)
    df = spark.createDataFrame(pdf[["text"]])
    expr = with_parsed(df, mode="auto").toPandas()
    local = grok_batch(pdf["text"].reset_index(drop=True))
    for c in ["level", "ts_raw", "bucket", "message", "error_type", "msg_key"]:
        assert list(expr[c]) == list(local[c]), c


def test_unicode_whitespace_matches_all_engines(spark):
    """ADVICE r03: the reference's Rust \\s is Unicode, so an NBSP-separated
    'Connection\\u00a0timeout' must extract in every engine. WS_CLASS carries
    the White_Space codepoints literally — pin tri-engine agreement (Catalyst,
    DuckDB RE2, pure-Python oracle) on exactly that scenario."""
    import duckdb

    from oracle_ref import ERR_RE

    lines = [
        "Connection timeout while calling upstream",   # NBSP
        "Connection timeout thin-space variant",        # THIN SPACE
        "Connection timeout plain-space control",
        "Connectiontimeout no separator -> no match",
    ]
    df = spark.createDataFrame([(t,) for t in lines], "text string")
    spark_got = [
        r["e"]
        for r in df.select(F.regexp_extract("text", ERROR_TYPE_RE, 1).alias("e"))
        .orderBy("text").collect()
    ]
    con = duckdb.connect()
    duck_got = [
        r[0]
        for r in con.execute(
            "SELECT coalesce(regexp_extract(t, ?, 1), '') FROM (SELECT unnest(?) AS t) ORDER BY t",
            [ERROR_TYPE_RE, lines],
        ).fetchall()
    ]
    py_got = [
        (m.group(1) if (m := ERR_RE.search(t)) else "") for t in sorted(lines)
    ]
    assert spark_got == duck_got == py_got
    assert sum(1 for g in spark_got if g) == 3  # the three separated variants match


# Inputs that probe each rewrite of the JVM twins: every level word in upper,
# lower and mixed case and both forms (the first-character class), near-miss
# levels and a non-ASCII letter that Unicode case folding would map to 'S',
# and the letter-run / whitespace-run edges of the error-type alternatives.
TWIN_ADVERSARIAL_LINES = [
    f"at {form}"
    for w in LEVEL_WORDS
    for v in (w, w.lower(), "".join(c.lower() if i % 2 else c for i, c in enumerate(w)))
    for form in (f"[{v}] msg", f"{v}: msg")
] + [
    "[Fine]", "fInE:", "WARNINGS:", "xWARN:", "\u017fEVERE:",
    "Foo\u2003\u2003timeout", "Foo \t timeout", "ABCtimeout", "Connectiontimeout",
    "xConnection timeout", "FooExceptionBarError", "a401 Unauthorized",
    "503 Service Unavailable",
    "Q" * 4991 + "Exception",
]


@pytest.mark.parametrize("source", ["edges", "sf0.001", "adversarial"])
def test_jvm_twins_match_canonical_patterns(spark, source):
    """The fail-fast JVM twins return the canonical patterns' leftmost match
    (level group 0, error type group 1) row by row, on the JVM itself, so
    the check isolates the rewrite from dialect differences. The error twin
    runs without the contains prefilter."""
    if source == "sf0.001":
        df = spark.read.parquet(transcripts_path(source)).select("text")
    else:
        lines = EDGE_LINES if source == "edges" else TWIN_ADVERSARIAL_LINES
        df = spark.createDataFrame([(t,) for t in lines], "text string")
    level_c, level_t = (F.regexp_extract("text", p, 0) for p in (LEVEL_RE, _LEVEL_JVM_RE))
    err_c, err_t = (F.regexp_extract("text", p, 1) for p in (ERROR_TYPE_RE, _ERROR_TYPE_JVM_RE))
    mismatch = (level_c != level_t) | (err_c != err_t)
    out = df.agg(
        F.count_if(mismatch).alias("bad"),
        F.count_if(level_c != "").alias("levels"),
        F.count_if(err_c != "").alias("errors"),
        F.slice(F.collect_list(F.when(mismatch, F.substring("text", 1, 200))), 1, 5).alias("ex"),
    ).first()
    assert out["bad"] == 0, out["ex"]
    # the inputs exercise both patterns, not just their no-match paths
    assert out["levels"] > 0 and out["errors"] > 0
