"""Aggregation suite (reference §2.4/§2.5 — A1..A9, K1..K5).

Every aggregate is a plain DataFrame ``groupBy``/``agg``: Spark's hash
aggregation runs the reference's partial->final merge contract
(/root/reference/src/analyzer.rs:496-549) natively — counts add map-side,
partials merge after one shuffle on the group key. Display sorts are part of
the query (deterministic tie-breaks replace the reference's hash-order
nondeterminism, SURVEY.md §7.0/§7.3), with one exception: the unique-message
list (K4) is collected in full for display, so the report sorts it on the
driver (``operators.analyze.collect_report``) instead of paying a range-sort
sample job and a second exchange of every distinct key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.patterns import MAX_STORED_LINES


def total_count(df: DataFrame) -> DataFrame:
    """A1 — 'Felled: N logs'."""
    return df.agg(F.count(F.lit(1)).alias("cnt"))


def level_histogram(df: DataFrame) -> DataFrame:
    """A5/K2 — count per extracted level, count-desc (level asc tie-break).

    Matches the reference exactly: rows whose level could not be extracted
    contribute to an empty-string bucket (src/analyzer.rs:336-341 has no
    emptiness guard), and colon-form levels ("ERROR:") are distinct keys.
    """
    return (
        df.groupBy("level")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("level"))
    )


def time_trends(df: DataFrame) -> DataFrame:
    """A4/K3 — count per 13-char hour bucket, lexicographic; rows without a
    timestamp join no bucket (src/analyzer.rs:327-335)."""
    return (
        df.filter(F.col("bucket") != "")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("bucket")
    )


def error_types(df: DataFrame) -> DataFrame:
    """A6 — count per extracted error signature (non-matching rows contribute
    nothing), count-desc with error_type tie-break."""
    return (
        df.filter(F.col("error_type") != "")
        .groupBy("error_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("error_type"))
    )


def top_errors(df: DataFrame, n: int = 5) -> DataFrame:
    """K1 — top-N error signatures with 1-based rank.

    The global row_number window runs on the tiny aggregated histogram (at most
    a few dozen signatures), so the single-partition window is not a scale
    hazard — the heavy lifting happened in the distributed groupBy.
    """
    hist = (
        df.filter(F.col("error_type") != "")
        .groupBy("error_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy(F.desc("cnt"), F.asc("error_type"))
    return hist.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= n)


def unique_messages(df: DataFrame) -> DataFrame:
    """A7 (--show-unique) — distinct unique-message keys, unordered. The K4
    alphabetical display order is a driver-side ``sorted()`` in
    ``operators.analyze.collect_report``, which also takes the unique count
    from the list's length."""
    return df.select(F.col("msg_key").alias("message")).distinct()


def message_stats(df: DataFrame) -> DataFrame:
    """A1+A7+A8 in one pass — total count, distinct messages, repetition ratio
    ``(1 - unique/count) * 100`` (0.0 on empty input; src/formatter.rs:106-111)."""
    return df.agg(
        F.count(F.lit(1)).alias("cnt"),
        F.count_distinct(F.col("msg_key")).alias("unique_cnt"),
        F.coalesce(
            (F.lit(1.0) - F.try_divide(F.count_distinct(F.col("msg_key")), F.count(F.lit(1)))) * 100.0,
            F.lit(0.0),
        ).alias("repetition_ratio"),
    )


def line_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """A2 — per-distinct-line occurrence counts (the 'line [xN]' display),
    count-desc, line asc tie-break."""
    return (
        df.groupBy(F.col(text_col).alias("line"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("line"))
    )


def matched_sample(df: DataFrame, text_col: str = "text", limit: int = MAX_STORED_LINES) -> DataFrame:
    """A3 — bounded distinct-line sample for display (canonicalized to a
    deterministic order; the reference's cap-then-merge order is nondeterministic
    in its parallel path, SURVEY.md §7.0)."""
    return line_counts(df, text_col).limit(limit)
