"""Stable turn ordering + skew handling.

The reference's input order is implicit single-threaded file order; under
distribution the per-turn text-equality contract needs an explicit total order:
``row_number() over (partition by conv_id order by turn_idx, ts)``.

Skew: one hot conversation (the fixture plants conv-000000 with 10% of all
rows) breaks naive hash partitioning on conv_id — one task gets 10% of the
corpus. Remedies here:
  * ``salted_count_by`` — spread a hot key over ``n_salts`` groups with a
    partial count per (key, salt), then a final sum per key;
  * AQE skew-join/coalesce stays enabled in the session (session.py) for the
    join/shuffle paths Spark can re-plan at runtime.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def with_turn_order(df: DataFrame) -> DataFrame:
    """Deterministic per-conversation ordering (verification contract).

    The window shuffles on conv_id — for the hot conversation that is one big
    partition, the price of a total per-conversation order. Queries that only
    need per-turn identity (not a rank) should join on (conv_id, turn_idx)
    instead and skip the window entirely.
    """
    w = Window.partitionBy("conv_id").orderBy(F.col("turn_idx"), F.col("ts"))
    return df.withColumn("turn_rank", F.row_number().over(w))


def salt_col(key: Column, n_salts: int) -> Column:
    """Deterministic salt derived from content (no rand(): keeps retries/resume
    idempotent). Uses a second independent column hash when available."""
    return F.pmod(F.xxhash64(key), F.lit(n_salts))


def salted_count_by(
    df: DataFrame, key: str, n_salts: int = 16, salt_src: str = "turn_idx"
) -> DataFrame:
    """Two-phase count for skewed keys: partial count per (key, salt), then
    final sum per key — the classic salting pattern. For plain counts Spark's
    map-side partial aggregation already does this; this operator exists for
    cases where the first shuffle must be forced wider (e.g. after a narrow
    source with few input splits). The salt is derived deterministically from
    ``salt_src`` — any column with per-row variety within a hot key
    (transcripts: turn_idx; events: event_id; documents: doc_id) — so two runs
    place the same row in the same group (no rand()), and the operator works
    on any table, not just transcripts."""
    salt = salt_col(F.col(salt_src), n_salts).alias("_salt")
    partial = df.groupBy(F.col(key), salt).agg(F.count(F.lit(1)).alias("_c"))
    return partial.groupBy(key).agg(F.sum("_c").alias("cnt"))
