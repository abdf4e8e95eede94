"""The benchmark workloads: one terminal call each, plus its output check.

Every run builds a fresh DataFrame plan (re-collecting one instance would reuse
its shuffle output) and gets its own output and checkpoint directories, passed
explicitly and deleted afterwards by the caller.

Library functions are looked up through their modules at call time, so the
traced run can wrap them from outside (see ``spans.Tracer``).
"""

from __future__ import annotations

import os
import re
import time
from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from timberjack_spark import api, fixtures
from timberjack_spark.functions import extract
from timberjack_spark.operators import enrich, route
from timberjack_spark.sources import checkpoint
from timberjack_spark.streaming import pipeline

import oracle

RESUME_BUCKETS, RESUME_GROUP, RESUME_FAIL_AFTER = 16, 4, 2


@dataclass
class Ctx:
    spark: SparkSession
    corpus: str
    expected: dict
    run_id: str = ""


def enriched(spark: SparkSession, corpus: str):
    """parse -> route -> enrich over a fresh read of the corpus."""
    df = spark.read.parquet(corpus)
    return enrich.enrich(
        route.with_category(extract.with_parsed(df)),
        fixtures.dim_role_df(spark),
        fixtures.dim_tool_df(spark),
    )


class Flagship:
    """enrich(with_category(with_parsed(df))) -> groupBy(category, level).count()."""

    name = "flagship"
    oracle_parts = ("counts",)
    turns = 400_000

    def call(self, ctx: Ctx, run_dir: str):
        return enriched(ctx.spark, ctx.corpus).groupBy("category", "level").count().collect()

    def check(self, ctx: Ctx, out) -> str | None:
        got = sorted([r[0], r[1], r[2]] for r in out)
        return None if got == ctx.expected["cat_level"] else "(category, level) counts differ"


class Report:
    """Timber.read(...).trend().stats(show_unique=True).report()."""

    name = "report"
    oracle_parts = ("report",)
    turns = 64_000

    def call(self, ctx: Ctx, run_dir: str):
        return api.Timber.read(ctx.spark, ctx.corpus).trend().stats(show_unique=True).report()

    def check(self, ctx: Ctx, out) -> str | None:
        got, want = oracle.report_summary(out), ctx.expected["report"]
        bad = [k for k in want if got.get(k) != want[k]]
        return f"report fields differ: {bad}" if bad else None


class Resume:
    """Crash after two commit groups of a 16-bucket resumable fan-out, then resume."""

    name = "resume"
    oracle_parts = ("counts",)
    turns = 60_000

    def call(self, ctx: Ctx, run_dir: str):
        base = os.path.join(run_dir, "fanout")
        try:
            checkpoint.run_resumable_fanout(
                enriched(ctx.spark, ctx.corpus), base, n_buckets=RESUME_BUCKETS,
                commit_group_size=RESUME_GROUP, fail_after_groups=RESUME_FAIL_AFTER,
            )
        except RuntimeError as e:
            if "injected failure" not in str(e):
                raise
        else:
            raise RuntimeError("the injected crash did not happen")
        t1 = time.perf_counter()
        res = checkpoint.run_resumable_fanout(
            enriched(ctx.spark, ctx.corpus), base, n_buckets=RESUME_BUCKETS, commit_group_size=RESUME_GROUP,
        )
        return {"result": res, "base": base, "resume_s": time.perf_counter() - t1}

    def check(self, ctx: Ctx, out) -> str | None:
        want = oracle.totals(ctx.expected["cat_level"], 0)
        res = out["result"]
        done = RESUME_GROUP * RESUME_FAIL_AFTER
        if len(res["skipped"]) != done or len(res["processed"]) != RESUME_BUCKETS - done:
            return f"resume skipped {len(res['skipped'])} and processed {len(res['processed'])} buckets"
        if res["counts"] != want:
            return "ledger per-sink totals differ"
        sinks = ctx.spark.read.parquet(os.path.join(out["base"], "data"))
        back = {r[0]: r[1] for r in sinks.groupBy("category").agg(F.count(F.lit(1))).collect()}
        return None if back == want else "sink read-back differs from the oracle"


class Stream:
    """run_stream_once: availableNow drain of the corpus directory."""

    name = "stream"
    oracle_parts = ("windows",)
    turns = 120_000

    def call(self, ctx: Ctx, run_dir: str):
        qname = "pipebench_stream_" + re.sub(r"\W", "_", ctx.run_id)
        table = pipeline.run_stream_once(ctx.spark, ctx.corpus, query_name=qname, checkpoint_dir=run_dir)
        rows = table.collect()
        ctx.spark.catalog.dropTempView(qname)
        return rows

    def check(self, ctx: Ctx, out) -> str | None:
        ok = oracle.window_summary(out) == ctx.expected["windows"]
        return None if ok else "windowed level counts differ"


WORKLOADS = {w.name: w for w in (Flagship(), Report(), Resume(), Stream())}
