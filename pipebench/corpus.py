"""Seeded transcript corpora for the benchmark workloads.

Every row is a pure function of (row index, seed, profile): the generator is
``spark.range`` plus built-in column expressions, so no Python runs per row and
the same seed always yields the same parquet. Each workload's corpus is
written to a directory of its own.

The grammar follows the engine's fixture grammar (``timberjack_spark.fixtures``):
bracket plaintext ``YYYY-MM-DD HH:MM:SS,mmm [LEVEL] MESSAGE``, colon-form
``LEVEL: MESSAGE``, malformed lines with no level or timestamp, and JSON log
lines with nested objects. A profile sets the mix and shape.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import asdict, dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from timberjack_spark.fixtures import ROLES, SERVICES, TEMPLATES, TOOLS

# Levels as they appear in text, with repeats as weights. Lower-case and the
# rarer LEVEL_RE words keep the case-insensitive alternation honest.
LEVEL_WORDS = ["ERROR", "WARN", "INFO", "INFO", "INFO", "DEBUG", "DEBUG", "TRACE", "WARNING", "SEVERE",
               "error", "warn", "info", "debug"]
# A tool that no dimension row knows: its rows reach enrich unmatched.
UNKNOWN_TOOL = "browser"
# Filler for long lines: no level word, error signature, anomaly token or "]".
FILLER = "payload shard=7 region=eu-west span=a1b2c3 attrs=k1,k2 items=12 cursor=9f3e "
BASE_TS = "2025-03-21 00:00:00"
N_FILES = 32


@dataclass(frozen=True)
class Profile:
    """Input properties the pipeline's behaviour depends on (shares are 0..1)."""

    json_share: float
    colon_share: float
    malformed_share: float
    pad_chars: int  # filler appended to each message: sets line length
    hot_share: float  # turns owned by one hot conversation (bucket skew)
    distinct_share: float  # messages made unique by a per-row reference
    unknown_tool_share: float = 0.02


# ~1/13 each JSON, colon-form and malformed, short lines, as the fixture grammar.
FLAGSHIP = Profile(json_share=1 / 13, colon_share=1 / 13, malformed_share=1 / 13,
                   pad_chars=0, hot_share=0.0, distinct_share=0.05)
PROFILES = {
    "flagship": FLAGSHIP,
    # JSON-heavy, longer and mostly distinct text: the report's high-cardinality
    # line and message aggregates, parsed mostly by the json_tuple branch.
    "report": Profile(json_share=0.6, colon_share=0.05, malformed_share=0.05,
                      pad_chars=60, hot_share=0.0, distinct_share=0.9),
    # the flagship grammar with one conversation owning 12% of turns
    "resume": Profile(**{**asdict(FLAGSHIP), "hot_share": 0.12}),
    "stream": FLAGSHIP,
}


def _u(seed: int, salt: int) -> Column:
    """Uniform [0, 1) per row, independent across salts."""
    return F.pmod(F.xxhash64(F.col("id"), F.lit(seed), F.lit(salt)), F.lit(1_000_003)) / F.lit(1_000_003.0)


def _pick(options: list[str], u: Column) -> Column:
    idx = (F.floor(u * len(options)) + 1).cast("int")
    return F.element_at(F.array(*[F.lit(o) for o in options]), idx)


def corpus_df(spark: SparkSession, n: int, seed: int, p: Profile) -> DataFrame:
    """The n-turn corpus for ``seed`` under profile ``p`` (lazy, no Python per row)."""
    df = spark.range(0, n, 1, N_FILES)
    i = F.col("id")
    hot = _u(seed, 1) < p.hot_share
    conv = F.when(hot, F.lit("conv-hot")).otherwise(F.format_string("conv-%07d", (i / 20).cast("long")))
    turn = F.when(hot, i).otherwise(i % 20).cast("int")
    role = _pick(ROLES, _u(seed, 2))
    tool = F.when(_u(seed, 3) < p.unknown_tool_share, F.lit(UNKNOWN_TOOL)).otherwise(_pick(TOOLS, _u(seed, 4)))
    ts = F.to_timestamp(F.lit(BASE_TS)) + F.make_dt_interval(secs=i.cast("double"))
    lv = _pick(LEVEL_WORDS, _u(seed, 5))
    distinct = F.when(
        _u(seed, 6) < p.distinct_share,
        F.concat(F.lit(" ref="), F.hex(F.xxhash64(i, F.lit(seed), F.lit(7)))),
    ).otherwise(F.lit(""))
    pad = F.lit((" " + FILLER * (p.pad_chars // len(FILLER) + 1))[: p.pad_chars] if p.pad_chars else "")
    msg = F.concat(_pick(TEMPLATES, _u(seed, 8)), distinct, pad)
    ms = F.format_string("%03d", (i % 1000).cast("int"))
    svc = _pick(SERVICES, _u(seed, 9))
    uid = (F.lit(1000) + F.pmod(F.xxhash64(i, F.lit(seed), F.lit(10)), F.lit(50))).cast("string")
    upper_lv = F.upper(lv)

    plain = F.concat(F.date_format(ts, "yyyy-MM-dd HH:mm:ss"), F.lit(","), ms, F.lit(" ["), lv, F.lit("] "), msg)
    colon = F.concat(lv, F.lit(": "), msg)
    malformed = F.concat(F.lit("plain text with nothing to parse seq "), i.cast("string"), pad)
    json_line = F.concat(
        F.lit('{"timestamp":"'), F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss"), F.lit("."), ms,
        F.lit('Z","level":"'), upper_lv,
        F.lit('","service":"'), svc,
        F.lit('","user_id":"'), uid,
        F.lit('","message":"'), msg,
        F.lit('","request_id":"req-'), i.cast("string"),
        F.lit('","status":'), F.when(upper_lv == "ERROR", F.lit("500")).otherwise(F.lit("200")),
        F.lit(',"response_time":'), (i % 500).cast("string"),
        F.when(svc == "api", F.lit(
            ',"request":{"method":"GET","path":"/api/v1/users","headers":{"content-type":"application/json"}}'
        )).otherwise(F.lit("")),
        F.when(svc == "auth", F.concat(
            F.lit(',"user":{"id":"user_'), uid, F.lit('","role":"admin"}')
        )).otherwise(F.lit("")),
        F.when(upper_lv == "ERROR", F.concat(
            F.lit(',"error":{"type":"NullPointerException","code":'), (i % 5000).cast("string"), F.lit("}")
        )).otherwise(F.lit("")),
        F.lit("}"),
    )
    u = _u(seed, 11)
    text = (
        F.when(u < p.json_share, json_line)
        .when(u < p.json_share + p.colon_share, colon)
        .when(u < p.json_share + p.colon_share + p.malformed_share, malformed)
        .otherwise(plain)
    )
    return df.select(
        conv.alias("conv_id"),
        turn.alias("turn_idx"),
        role.alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        ts.cast("timestamp_ntz").alias("ts"),
    )


def build(work_dir: str, spark: SparkSession, workload: str, seed: int, n: int) -> str:
    """Write the workload's n-turn corpus for ``seed`` to ``work_dir/corpus/<workload>``
    and return its path.

    The corpus is rebuilt in every run and the previous one removed: the
    generator job is a run's first Spark job, and skipping it on a cache hit
    would move its JVM warm-up into the timed set-up.
    """
    path = os.path.join(work_dir, "corpus", workload)
    shutil.rmtree(path, ignore_errors=True)
    corpus_df(spark, n, seed, PROFILES[workload]).write.parquet(path)
    return path
