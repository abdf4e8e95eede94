"""Vectorized Arrow/pandas-UDF grok stage (the north-rule extraction path).

One pandas UDF scans the text column once per Arrow batch and returns a struct
of every extracted column — level, timestamp, hour bucket, message, error
signature, unique-message key — so multi-pattern extraction costs a single pass
over the strings. Regexes are compiled once per executor (module import), and
all string work is ``pd.Series.str`` / batch-level, never a per-row Spark UDF.

Output is pinned by test to be identical to the pure-Catalyst projection in
:mod:`timberjack_spark.functions.extract`, which is the engine's parse path in
every mode. This UDF runs only when a query opts in (``LogQuery.use_pandas_grok``,
``Timber.pandas_grok()``, the ``t_level_histogram_grok`` query). The expression path
wins by default because it stays inside the JVM's generated code: Catalyst
prunes the parse columns a query never reads (a count needs none of them) and
pushes filters beneath the projection, while this UDF ships every row through
Arrow to a Python worker and computes all six columns for each. Both paths
evaluate each regex at most once per row.
"""

from __future__ import annotations

import json
import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from .extract import _WS
from .patterns import (
    BUCKET_LEN,
    ERROR_TYPE_RE,
    JSON_LEVEL_KEYS,
    JSON_MESSAGE_KEYS,
    JSON_TIMESTAMP_KEYS,
    LEVEL_RE,
    TIMESTAMP_RE,
    WS_CLASS,
)

import pyarrow as pa
import pyarrow.compute as pc

# One leftmost-first pattern, two groups: g1 = whole level match, g2 = bracket word.
_LEVEL_BOTH = re.compile(
    r"(\[(?i:(ERROR|WARN|INFO|DEBUG|TRACE|SEVERE|WARNING|FINE))\]"
    r"|(?i:ERROR|WARN|INFO|DEBUG|TRACE|SEVERE|WARNING|FINE):)"
)
_TS = re.compile(TIMESTAMP_RE)
_ERR = re.compile(ERROR_TYPE_RE)

# RE2 twins (pyarrow.compute.extract_regex needs NAMED groups). Same leftmost
# semantics for these alternations; RE2 executes them ~50x faster than the
# CPython re loop under pandas .str.extract (measured 0.5 s vs 27.7 s per 1M
# rows on the bench corpus).
_LEVEL_RE2 = (
    r"(?P<m0>\[(?i:(?P<m1>ERROR|WARN|INFO|DEBUG|TRACE|SEVERE|WARNING|FINE))\]"
    r"|(?i:ERROR|WARN|INFO|DEBUG|TRACE|SEVERE|WARNING|FINE):)"
)
_TS_RE2 = r"(?P<ts>\d{4}-\d{2}-\d{2}" + WS_CLASS + r"+\d{2}:\d{2}:\d{2})"
_ERR_RE2 = (
    r"(?P<e>[A-Za-z]+Exception|[A-Za-z]+Error|[A-Za-z]+" + WS_CLASS + r"+timeout"
    r"|Connection timeout|500 Internal Server Error|401 Unauthorized"
    r"|503 Service Unavailable)"
)
# message key: the segment between the first and second ']' (or end of line);
# no match = the line has no ']' at all -> whole line is the key
_MSG_RE2 = r"^[^\]]*\](?P<seg>[^\]]*)"

GROK_SCHEMA = T.StructType(
    [
        T.StructField("level", T.StringType()),
        T.StructField("ts_raw", T.StringType()),
        T.StructField("bucket", T.StringType()),
        T.StructField("message", T.StringType()),
        T.StructField("error_type", T.StringType()),
        T.StructField("msg_key", T.StringType()),
    ]
)


def _json_first(obj: dict, keys: list[str]) -> str | None:
    for k in keys:
        v = obj.get(k)
        if isinstance(v, str):
            return v
        if isinstance(v, bool):
            return str(v).lower()
        if isinstance(v, (int, float)):
            return json.dumps(v)
    return None


def grok_batch(text: pd.Series) -> pd.DataFrame:
    """Batch grok on Arrow compute kernels (RE2), byte-equal to the Catalyst
    expression path (pinned by test).

    The generic extractions run as four ``pc.extract_regex`` passes — RE2 over
    the Arrow buffer, ~50x faster than the previous pandas ``.str.extract``
    (CPython re called per row under the hood). Only the JSON rows fall back
    to a per-row ``json.loads`` loop, because the first-present-key semantics
    with serde-style value stringification are not expressible as a regex.
    """
    s = text.fillna("").reset_index(drop=True)
    arr = pa.Array.from_pandas(s, type=pa.string())
    empty = pa.scalar("", pa.string())

    lv = pc.extract_regex(arr, _LEVEL_RE2)
    m0, m1 = pc.struct_field(lv, "m0"), pc.struct_field(lv, "m1")
    # extract_regex reports NON-PARTICIPATING groups as "" (not null): the
    # colon form leaves m1 == "" and the bracket word must not be shadowed
    level = pc.utf8_upper(
        pc.coalesce(pc.if_else(pc.not_equal(m1, empty), m1, m0), empty)
    )
    ts_raw = pc.coalesce(pc.struct_field(pc.extract_regex(arr, _TS_RE2), "ts"), empty)
    err = pc.coalesce(pc.struct_field(pc.extract_regex(arr, _ERR_RE2), "e"), empty)
    seg = pc.struct_field(pc.extract_regex(arr, _MSG_RE2), "seg")
    # utf8_trim with the EXPLICIT Unicode White_Space set (extract.py:_WS):
    # Arrow's utf8_trim_whitespace additionally strips \x1c-\x1f (utf8proc
    # "whitespace", like Python str.strip), which the Catalyst path and the
    # Rust reference do NOT — measured divergence, pinned by the parity test
    msg_key = pc.coalesce(pc.utf8_trim(seg, characters=_WS), arr)

    trimmed = pc.utf8_trim(arr, characters=_WS)
    jmask = pc.and_(
        pc.starts_with(trimmed, pattern="{"), pc.ends_with(trimmed, pattern="}")
    )

    level_np = level.to_numpy(zero_copy_only=False)
    ts_np = ts_raw.to_numpy(zero_copy_only=False)
    message_np = s.to_numpy(dtype=object, copy=True)

    jidx = np.flatnonzero(jmask.to_numpy(zero_copy_only=False))
    if jidx.size:
        # JSON rows only: parse each candidate once per batch (a loop inside
        # one Arrow batch on the executor, not a per-row Spark UDF); overrides
        # accumulate into (positions, values) and land as ONE fancy-index
        # write per column — per-element pandas .iat setitem was 10s/1M rows
        j_lines = trimmed.take(pa.array(jidx)).to_pylist()
        ov = {k: ([], []) for k in ("level", "ts", "msg")}
        for pos, line in zip(jidx, j_lines):
            try:
                obj = json.loads(line)
            except (ValueError, RecursionError):
                continue
            if not isinstance(obj, dict):
                continue
            for key, keys in (
                ("level", JSON_LEVEL_KEYS),
                ("ts", JSON_TIMESTAMP_KEYS),
                ("msg", JSON_MESSAGE_KEYS),
            ):
                v = _json_first(obj, keys)
                if v is not None:
                    ov[key][0].append(pos)
                    ov[key][1].append(v)
        for key, arr_np in (("level", level_np), ("ts", ts_np), ("msg", message_np)):
            pos, vals = ov[key]
            if pos:
                arr_np[np.asarray(pos)] = np.asarray(vals, dtype=object)

    ts_s = pd.Series(ts_np)
    return pd.DataFrame(
        {
            "level": pd.Series(level_np),
            "ts_raw": ts_s,
            "bucket": ts_s.str[:BUCKET_LEN],
            "message": pd.Series(message_np),
            "error_type": err.to_pandas(),
            "msg_key": msg_key.to_pandas(),
        }
    )


@pandas_udf(GROK_SCHEMA)
def grok_udf(text: pd.Series) -> pd.DataFrame:
    return grok_batch(text)


def with_parsed_pandas(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Pandas-UDF twin of ``extract.with_parsed`` (mode='auto')."""
    g = grok_udf(F.col(text_col)).alias("_g")
    return df.withColumn("_g", g).select("*", "_g.*").drop("_g")
