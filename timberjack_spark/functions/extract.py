"""Expression-based parse/projection stage (the JVM fast path).

Lifts a raw text column into the engine's parsed columns using only built-in
Catalyst expressions (``regexp_extract``, ``get_json_object``, ``split`` — all
whole-stage-codegen'd), so the hot path never leaves the JVM. The vectorized
pandas-UDF twin lives in :mod:`timberjack_spark.functions.grok`; a pytest pins
the two to identical output.

Semantics mirror the reference parsers:
* generic: /root/reference/src/parser/generic.rs:28-58 (level group-0/group-1
  quirk, 13-char timestamp truncation),
* json: /root/reference/src/parser/json.rs:125-149 (first-present-key lookup,
  malformed JSON -> nulls),
* the generic-regex fallback applied on top of parser output:
  /root/reference/src/analyzer.rs:230-282.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .patterns import (
    BUCKET_LEN,
    ERROR_TYPE_RE,
    JSON_LEVEL_KEYS,
    JSON_MESSAGE_KEYS,
    JSON_TIMESTAMP_KEYS,
    LEVEL_RE,
    LEVEL_WORDS,
    TIMESTAMP_RE,
    WS_CODEPOINTS,
)

MODES = ("generic", "json", "auto")


def _json_path(key: str) -> str:
    # bracket syntax survives keys like "@timestamp"
    return f"$['{key}']" if not key.replace("_", "").replace(".", "").isalnum() else f"$.{key}"


# Unicode White_Space — the exact set Rust's str::trim (the reference,
# src/analyzer.rs / parser) strips. Round 2 trimmed only the 6 ASCII
# whitespace chars, which diverged BOTH from the reference and from the
# engine's own Arrow grok path (pyarrow utf8_trim_whitespace strips Unicode
# whitespace): an NBSP around a JSON line flipped is_jsonish on one path but
# not the other. The DuckDB oracle (plans/oracle.py:WS_SQL) and the Python
# fuzzer reference (tests/oracle_ref.py:WS) carry the same explicit set.
_WS = "".join(chr(cp) for cp in WS_CODEPOINTS)


def ws_trim(col: Column) -> Column:
    """Whitespace trim matching the reference's Rust ``str::trim`` (Unicode
    White_Space). Spark's ``F.trim`` strips ONLY spaces — a tab after the
    first ``]`` or around a JSON line silently diverges (found by the
    hypothesis fuzzer, not the example tests)."""
    return F.btrim(col, F.lit(_WS))


# every ERROR_TYPE_RE alternative requires one of these case-sensitive literals,
# so a cheap multi-contains prefilter (memchr-class, not regex) soundly skips
# the regex on non-candidate rows
_ERROR_TYPE_LITERALS = ["Exception", "Error", "timeout", "Unauthorized", "Unavailable"]


# JVM-only twins of the two hot canonical patterns. java.util.regex has no
# literal prefilter for an alternation: an unanchored search retries every
# alternative at every offset of the line. Each twin fails fast on offsets
# that cannot start a match and returns the same leftmost match (same group 0
# and group 1) as its canonical pattern on every input. RE2 (the DuckDB
# oracle) has no lookaround, so the oracle SQL keeps the canonical patterns;
# tests/test_extract.py pins twin == canonical row by row on the JVM.
#
# _LEVEL_JVM_RE = (?=(?i:[\[EWIDTSF]))(?:LEVEL_RE). Every alternative of
# LEVEL_RE starts with '[' or with the first letter of a level word, so the
# lookahead rejects only offsets where no alternative can match. It sits under
# the same (?i) flag as the words; Java folds case ASCII-only without
# UNICODE_CASE, so it admits exactly the characters the words' first letters
# admit (no 'ſ' for S). It is zero-width and non-capturing: the alternatives
# are tried in the same order at the same offsets, and groups are unchanged.
_LEVEL_FIRST = "".join(dict.fromkeys(w[0] for w in LEVEL_WORDS))
_LEVEL_JVM_RE = r"(?=(?i:[\[" + _LEVEL_FIRST + "]))(?:" + LEVEL_RE + ")"

# _ERROR_TYPE_JVM_RE = (?=[A-Za-z45])((?<![A-Za-z])(?:[A-Za-z]+Exception|
#   [A-Za-z]+Error|[A-Za-z]++<WS>++timeout)|Connection timeout|500 ...|401 ...
#   |503 ...), three rewrites of ERROR_TYPE_RE, each keeping the match:
# 1. First-character lookahead: every alternative starts with a letter, '4'
#    or '5'.
# 2. One letter-run lookbehind shared by the three [A-Za-z]+ alternatives (a
#    zero-width assertion distributes over an alternation at one offset). A
#    match of those three, or of 'Connection timeout', that starts mid
#    letter-run implies an earlier match of alternative 1-3 at the run's first
#    letter. So at the leftmost match offset those three never start mid-run:
#    the lookbehind only skips attempts that cannot win, and it stops the
#    O(run^2) retries of every offset of a long letter run.
# 3. Possessive quantifiers in the timeout alternative: a letter is never
#    whitespace and whitespace is never 't', so giving back a letter or a
#    whitespace character can never let the rest match.
# The alternatives keep their order and group 1 stays the outer group.
_ERR_ALTS = ERROR_TYPE_RE[1:-1].split("|")
_ERROR_TYPE_JVM_RE = (
    "(?=[A-Za-z45])((?<![A-Za-z])(?:"
    + "|".join([*_ERR_ALTS[:2], _ERR_ALTS[2].replace("+", "++")])
    + ")|"
    + "|".join(_ERR_ALTS[3:])
    + ")"
)


def error_type(text: Column) -> Column:
    """Leftmost error-signature match over the whole raw line ('' = no match)."""
    candidate = F.lit(False)
    for lit in _ERROR_TYPE_LITERALS:
        candidate = candidate | text.contains(lit)
    return F.when(candidate, F.regexp_extract(text, _ERROR_TYPE_JVM_RE, 1)).otherwise(F.lit(""))


def message_key(text: Column) -> Column:
    """The unique-messages key: substring between the first and second ']' of the
    RAW line, trimmed; whole line when the line has fewer than two ']'-separated
    parts (reference: src/analyzer.rs:349-355 — applied to the raw matched line
    even under the JSON parser)."""
    parts = F.split(text, r"\]")
    return F.when(F.size(parts) >= 2, ws_trim(F.element_at(parts, 2))).otherwise(text)


def is_jsonish(text: Column) -> Column:
    """Row-level analog of the reference's sampled format detection: a trimmed
    line framed by braces takes the JSON parse path (invalid JSON inside still
    falls back per-field, matching parse-failure -> generic-fallback)."""
    t = ws_trim(text)
    return t.startswith("{") & t.endswith("}")


def with_parsed(df: DataFrame, text_col: str = "text", mode: str = "auto") -> DataFrame:
    """Append the parse projection (level, ts_raw, bucket, message, error_type,
    msg_key) to ``df``; one staged projection serves every mode.

    Each costly per-row value is a column of its own stage, computed once:

    1. ``_js = is_jsonish(text)`` (auto mode), below the ``json_tuple``
       Generate that extracts all 15 candidate JSON keys in ONE Jackson parse
       of the trimmed text. The Generate's input is null on non-JSON rows, so
       every ``_j*`` output is null there and "JSON wins" is just
       ``coalesce(json_value, generic_value)``.
    2. ``_lv0`` = ``LEVEL_RE`` group 0 (run as its fail-fast JVM twin), null
       on rows where the JSON level wins, and ``_ts`` = JSON timestamp else
       ``TIMESTAMP_RE`` group 1.
    3. ``level`` comes from ``_lv0`` by string ops only (bracket form -> the
       word inside, colon form -> the whole match, both uppercased; no second
       regex scan); ``bucket`` is a prefix of ``_ts``.

    The stages must stay separate Projects. A value that sits in a CASE WHEN
    branch is only conditionally evaluated, and Catalyst's subexpression
    elimination shares only expressions that some consumer always evaluates,
    so a single flat projection re-ran the level regex for each of its
    references. ``CollapseProject`` never inlines a non-cheap expression that
    the stage above references more than once, so ``_lv0`` stays a column of
    its own, and ``_ts`` is inlined only where one of ``ts_raw``/``bucket`` is
    read; ``tests/test_plans.py`` pins one ``LEVEL_RE`` scan and one
    ``is_jsonish`` trim per row.
    """
    if mode not in MODES:
        raise ValueError(f"mode must be one of {MODES}")
    pre, jt, stages, temps = _parse_stages(text_col, mode)
    if pre:
        df = df.withColumns(dict(pre))
    if jt is not None:
        df = df.select("*", jt)
    for cols in stages:
        df = df.withColumns(dict(cols))
    return df.drop(*temps)


@lru_cache(maxsize=8)
def _parse_stages(text_col: str, mode: str):
    """Expression trees of the staged parse projection, built once per
    (text_col, mode) and reused across queries: Column objects are unresolved
    expressions bound to the process-wide py4j gateway (not a session), and
    constructing this tree costs hundreds of py4j round-trips — measurable
    driver-side serial time (~0.2 s) on every run of a parse query."""
    text = F.col(text_col)
    keys = JSON_LEVEL_KEYS + JSON_TIMESTAMP_KEYS + JSON_MESSAGE_KEYS
    json_cols = {} if mode == "generic" else {k: f"_j{i}" for i, k in enumerate(keys)}
    pre: dict[str, Column] = {}
    jt = None
    if json_cols:
        # Jackson parses the TRIMMED text: the reference trims (Rust str::trim)
        # before serde-parsing, and Jackson rejects JSON framed by non-JSON
        # whitespace (NBSP etc.) that ws_trim strips. In auto mode the input
        # is gated on is_jsonish: a null input skips the parse attempt — on a
        # 7.7%-JSON corpus the JSON stage measured 8-13 s ungated vs 2.5 s
        # gated per 24M rows (Jackson charges for every failed parse).
        if mode == "json":
            jt_input = ws_trim(text)
        else:
            pre["_js"] = is_jsonish(text)
            jt_input = F.when(F.col("_js"), ws_trim(text))
        jt = F.json_tuple(jt_input, *json_cols).alias(*json_cols.values())

    # analyzer.rs:230-245 / 274-281: parser level/ts/message (first present
    # key), else the generic extraction on the raw line. Generic mode has no
    # _j columns, and coalesce(generic) is generic.
    def json_or(kset: list[str], generic: Column) -> Column:
        return F.coalesce(*[F.col(json_cols[k]) for k in kset if k in json_cols], generic)

    json_level = json_or(JSON_LEVEL_KEYS, F.lit(None))
    stage2 = {
        "_lv0": F.when(json_level.isNull(), F.regexp_extract(text, _LEVEL_JVM_RE, 0)),
        "_ts": json_or(JSON_TIMESTAMP_KEYS, F.regexp_extract(text, TIMESTAMP_RE, 1)),
    }
    m0 = F.col("_lv0")
    # bracket form "[word]" -> word; colon form "word:" keeps the colon; "" -> ""
    generic_level = F.upper(
        F.when(m0.startswith("["), m0.substr(F.lit(2), F.length(m0) - 2)).otherwise(m0)
    )
    stage3 = {
        "level": json_or(JSON_LEVEL_KEYS, generic_level),
        "ts_raw": F.col("_ts"),
        "bucket": F.substring(F.col("_ts"), 1, BUCKET_LEN),
        "message": json_or(JSON_MESSAGE_KEYS, text),
        "error_type": error_type(text),
        "msg_key": message_key(text),
    }
    # cached and shared by every caller: hand out immutable (name, column) pairs
    temps = (*pre, *json_cols.values(), *stage2)
    return tuple(pre.items()), jt, (tuple(stage2.items()), tuple(stage3.items())), temps
