"""Capture the PER-ROUND plan of the connected-components loop (the query
explain only shows the post-loop checkpointed RDD scans, so the round
structure needs its own capture). Broadcast joins are disabled for the
capture: at sf0.01 the label table broadcasts, but the claim under test is
the at-scale shape, where the label table is the full edge-endpoint set and
every label join is a shuffle. Writes plans/r06/cc_round_{r5,r6}.txt.

Usage: python tools/cc_round_plan.py
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from timberjack_spark.session import get_spark


def main() -> None:
    spark = get_spark(cores=4, app_name="cc-round-plan")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    edges = spark.range(10_000).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    sym = (
        edges.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
        .unionByName(edges.select(F.col("id_b").alias("a"), F.col("id_a").alias("b")))
        .localCheckpoint(eager=False)
    )
    labels = (
        sym.select(F.col("a").alias("nid"))
        .distinct()
        .select("nid", F.col("nid").cast("long").alias("lbl"))
        .localCheckpoint(eager=True)
    )

    # --- r5 round shape: propagate join -> label-table re-join -> jump ---
    nbr = (
        sym.join(labels.select(F.col("nid").alias("b"), F.col("lbl").alias("_blbl")), "b")
        .groupBy("a")
        .agg(F.min("_blbl").alias("_nlbl"))
    )
    step5 = labels.join(nbr.select(F.col("a").alias("nid"), "_nlbl"), "nid", "left").select(
        "nid",
        F.col("lbl").alias("_old"),
        F.least("lbl", F.coalesce("_nlbl", "lbl")).alias("lbl"),
    )

    # --- r6 round shape: self-loop edges fold the old label into the ONE
    # propagate aggregate; the label-table re-join is gone ---
    sym6 = sym.unionByName(
        labels.select(F.col("nid").alias("a"), F.col("nid").alias("b"))
    ).localCheckpoint(eager=False)
    step6 = (
        sym6.join(labels.select(F.col("nid").alias("b"), F.col("lbl").alias("_blbl")), "b")
        .groupBy("a")
        .agg(
            F.min("_blbl").alias("lbl"),
            F.min(F.when(F.col("a") == F.col("b"), F.col("_blbl"))).alias("_old"),
        )
        .select(F.col("a").alias("nid"), "_old", "lbl")
    )

    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r06")
    os.makedirs(out_dir, exist_ok=True)
    for name, step in (("cc_round_r5", step5), ("cc_round_r6", step6)):
        jumped = step.join(
            step.select(F.col("nid").alias("_p"), F.col("lbl").alias("_plbl")),
            F.col("lbl") == F.col("_p"),
            "left",
        ).select("nid", "_old", F.least("lbl", F.coalesce("_plbl", "lbl")).alias("lbl"))
        buf = io.StringIO()
        with redirect_stdout(buf):
            jumped.explain("formatted")
        txt = buf.getvalue()
        n_ex = txt.count("Exchange")
        path = os.path.join(out_dir, f"{name}.txt")
        with open(path, "w") as f:
            f.write(
                "-- ONE CC round (step + pointer jump), broadcast disabled to show\n"
                "-- the at-scale shuffle structure; Exchange count: %d\n" % n_ex
            )
            f.write(txt)
        print(name, "Exchange count:", n_ex)
    spark.stop()


if __name__ == "__main__":
    main()
