"""Streaming flavor: stream==batch equivalence + stateful operator."""

import datetime as dt
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from timberjack_spark.fixtures import transcripts_df
from timberjack_spark.functions.extract import with_parsed
from timberjack_spark.operators.route import with_category
from timberjack_spark.streaming.pipeline import (
    run_session_stats_once,
    run_stream_dedup_once,
    run_stream_once,
    run_stream_session_windows_once,
    session_windows_agg,
)

N = 5000


@pytest.fixture(scope="module")
def src_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("stream_src") / "transcripts")
    transcripts_df(spark, N, partitions=8).write.parquet(d)
    return d


def _level_counts(rows):
    return {(r["win_start"], r["level"]): r["cnt"] for r in rows}


def _batch_level_counts(spark, src_dir):
    batch = with_parsed(spark.read.parquet(src_dir))
    return _level_counts(
        batch.groupBy(F.date_trunc("hour", F.col("ts")).alias("win_start"), "level")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )


def test_stream_equals_batch(spark, src_dir):
    got = _level_counts(run_stream_once(spark, src_dir, query_name="t_stream_eq").collect())
    assert got == _batch_level_counts(spark, src_dir)


def test_drain_removes_its_temporary_checkpoint(spark, src_dir, tmp_path, monkeypatch):
    """A drain without checkpoint_dir deletes the checkpoint it created; the
    memory sink keeps its rows in the driver, so the table still collects."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    table = run_stream_once(spark, src_dir, query_name="t_stream_tmp_ckpt")
    assert os.listdir(tmp_path) == []
    assert _level_counts(table.collect()) == _batch_level_counts(spark, src_dir)


def test_stream_dedup_equals_batch(spark, src_dir):
    """Streaming exact dedup emits each distinct msg_key exactly once:
    the drained set == batch DISTINCT, with no repeated row."""
    got = [r["msg_key"] for r in run_stream_dedup_once(
        spark, src_dir, query_name="t_stream_dedup"
    ).collect()]
    batch = with_parsed(spark.read.parquet(src_dir)).select("msg_key").distinct()
    assert len(got) == len(set(got))
    assert set(got) == {r["msg_key"] for r in batch.collect()}


def _write_session_events(d):
    """3 users x 200 events, 10-min steps (< the 30-min gap, so each user is
    ONE long session) split across 4 time-ordered files: every file boundary
    splits an open session, forcing the cross-batch merge path. Returns the
    file paths in event-time order."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (i * 3 + u, t0 + dt.timedelta(minutes=10 * i + u), u, "click", 1.0, "{}")
        for i in range(200)
        for u in range(3)
    ]
    rows.sort(key=lambda r: r[1])
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows]),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows]),
        }
    )
    step = 150
    paths = [str(d / f"part-{i:03d}.parquet") for i in range(4)]
    for i, path in enumerate(paths):
        pq.write_table(tbl.slice(i * step, step), path)
    return paths


def _sessions(rows):
    return {(r["user_id"], r["session_start"]): r["n_events"] for r in rows}


def test_stream_session_windows_equals_batch(spark, tmp_path_factory):
    """Session-window agg drained as a multi-batch stream == the SAME
    aggregation run in batch (shared program: session_windows_agg), on data
    whose sessions genuinely straddle the micro-batch file boundaries."""
    d = tmp_path_factory.mktemp("sesswin_src")
    _write_session_events(d)

    got = _sessions(
        run_stream_session_windows_once(
            spark, str(d), query_name="t_stream_sesswin", max_files_per_trigger=1
        ).collect()
    )
    expected = _sessions(session_windows_agg(spark.read.parquet(str(d))).collect())
    assert got == expected
    # the merge actually happened: one session of 200 events per user
    assert sorted(got.values()) == [200, 200, 200]


def test_stream_session_windows_out_of_order(spark, tmp_path_factory):
    """Disorder: the files arrive in REVERSE event-time order (the file with
    the latest events has the oldest mtime, and the file source lists by
    mtime), so at the default two files per trigger the second micro-batch
    carries events that precede every open session and must merge backwards.
    The drain still equals batch: one 200-event session per user."""
    d = tmp_path_factory.mktemp("sesswin_disorder_src")
    paths = _write_session_events(d)
    t_arrive = dt.datetime(2024, 6, 1).timestamp()
    for k, path in enumerate(reversed(paths)):
        os.utime(path, (t_arrive + 60 * k, t_arrive + 60 * k))

    got = _sessions(
        run_stream_session_windows_once(
            spark, str(d), query_name="t_stream_sesswin_disorder"
        ).collect()
    )
    expected = _sessions(session_windows_agg(spark.read.parquet(str(d))).collect())
    assert got == expected
    assert sorted(got.values()) == [200, 200, 200]


def test_stateful_session_stats(spark, src_dir):
    out = run_session_stats_once(spark, src_dir, query_name="t_sessions")
    # memory sink in update mode may carry one row per trigger; take the last
    # update per conversation (max n_turns is monotonically the latest)
    rows = out.groupBy("conv_id").agg(
        F.max("n_turns").alias("n_turns"), F.max("n_errors").alias("n_errors")
    )
    got = {r["conv_id"]: (r["n_turns"], r["n_errors"]) for r in rows.collect()}
    batch = with_category(with_parsed(spark.read.parquet(src_dir)))
    expected = {
        r["conv_id"]: (r["n_turns"], r["n_errors"])
        for r in batch.groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum((F.col("category") == "errors").cast("long")).alias("n_errors"),
        )
        .collect()
    }
    assert got == expected


def test_stream_decontam_equals_batch(spark, tmp_path_factory):
    """Streaming decontamination (multi-batch drain) == the batch operator's
    contaminated set, on a corpus where contamination spans batch boundaries."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from timberjack_spark.operators.dedup import decontaminate_flags
    from timberjack_spark.streaming.pipeline import run_stream_decontam_once

    base = "alpha beta gamma delta epsilon zeta eta theta"
    docs = []
    for i in range(40):
        if i % 5 == 0:
            docs.append((i, f"lead{i} {base} tail{i}"))   # contains the eval 8-gram
        else:
            docs.append((i, f"doc {i} unique words nothing shared here at all {i}"))
    eval_rows = [(1000, base + " iota kappa")]

    d = tmp_path_factory.mktemp("decontam_src")
    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in docs], pa.int64()),
            "text": pa.array([r[1] for r in docs]),
            "lang": pa.array(["en"] * len(docs)),
            "source": pa.array(["t"] * len(docs)),
            "n_chars": pa.array([len(r[1]) for r in docs], pa.int64()),
        }
    )
    step = 10
    for i in range(4):
        pq.write_table(tbl.slice(i * step, step), str(d / f"part-{i:03d}.parquet"))

    ev = spark.createDataFrame(eval_rows, "doc_id long, text string")
    got = {
        r["doc_id"]
        for r in run_stream_decontam_once(
            spark, str(d), ev, query_name="t_stream_decontam"
        ).collect()
    }
    batch = spark.createDataFrame(docs, "doc_id long, text string")
    expected = {
        r["doc_id"]
        for r in decontaminate_flags(batch, ev, n=8).filter("contaminated").collect()
    }
    assert got == expected
    assert got == {i for i in range(40) if i % 5 == 0}


def test_stream_quality_equals_batch(spark, tmp_path_factory):
    """Streaming quality gate (multi-file drain) == batch quality_filter on
    the same corpus — the stateless stream==batch contract."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from timberjack_spark.functions.text import quality_filter
    from timberjack_spark.streaming.pipeline import run_stream_quality_once

    docs = [
        (0, "the cat sat on the mat and that is a fine place for a cat to sit"),
        (1, "short doc"),
        (2, "!!!! ???? **** !!!! ???? **** the and of to in is that for"),
        (3, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (4, None),
    ] + [(i, f"doc number {i} with the usual words of a fine corpus in it") for i in range(5, 25)]
    d = tmp_path_factory.mktemp("quality_src")
    # two files -> two micro-batch inputs under availableNow
    for part, sel in (("a", docs[:12]), ("b", docs[12:])):
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([r[0] for r in sel], pa.int64()),
                    "text": pa.array([r[1] for r in sel]),
                    "lang": pa.array(["en"] * len(sel)),
                    "source": pa.array(["t"] * len(sel)),
                    "n_chars": pa.array([len(r[1] or "") for r in sel], pa.int64()),
                }
            ),
            str(d / f"{part}.parquet"),
        )
    out = run_stream_quality_once(spark, str(d), query_name="t_stream_quality")
    got = {r["doc_id"]: (r["n_tokens"], r["reasons"], r["keep"]) for r in out.collect()}
    batch_df = spark.createDataFrame([(i, t) for i, t in docs], "doc_id long, text string")
    want = {r["doc_id"]: (r["n_tokens"], r["reasons"], r["keep"])
            for r in quality_filter(batch_df).collect()}
    assert got == want
    assert got[4] == (0, "null_text", False)  # null doc dropped in-stream too


def test_stream_ingest_dedup_equals_batch_anti_join(spark, tmp_path_factory):
    """Streaming novelty admission == batch md5 anti-join vs the static
    history: history re-crawls and exact copies are rejected, novel docs
    admitted; within-stream repeats both pass (pure per-row predicate)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from timberjack_spark.streaming.pipeline import run_stream_ingest_dedup_once

    history = [(100, "old page one"), (101, "old page two")]
    arrivals = [
        (0, "old page one"),      # exact re-crawl -> rejected
        (1, "brand new page"),    # admitted
        (2, "old page two"),      # rejected
        (3, "another new page"),  # admitted
        (4, "brand new page"),    # within-stream repeat -> still admitted
        (5, None),                # null text: md5 null never matches -> admitted
    ]
    d = tmp_path_factory.mktemp("ingest_src")
    for part, sel in (("a", arrivals[:3]), ("b", arrivals[3:])):
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([r[0] for r in sel], pa.int64()),
                    "text": pa.array([r[1] for r in sel]),
                    "lang": pa.array(["en"] * len(sel)),
                    "source": pa.array(["t"] * len(sel)),
                    "n_chars": pa.array([len(r[1] or "") for r in sel], pa.int64()),
                }
            ),
            str(d / f"{part}.parquet"),
        )
    hist_df = spark.createDataFrame(history, "doc_id long, text string")
    out = run_stream_ingest_dedup_once(spark, str(d), hist_df, query_name="t_stream_ingest")
    got = sorted(r["doc_id"] for r in out.collect())
    assert got == [1, 3, 4, 5]
