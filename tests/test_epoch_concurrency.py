"""The epoch's overlapped writes (StreamingPipeline._process_batch): with
the raw sink on, the dedup ledger is written on a second thread beside
the normalized sink. These tests pin the contract around that overlap:

- a failed ledger or normalized write fails the epoch, and nothing of
  it is published;
- no job of the epoch is still running once ``_process_batch`` returns
  or raises;
- the ledger thread runs in the stream's job group, so ``query.stop()``
  cancels its jobs;
- without the raw sink (the persist fallback) every write stays on the
  batch thread.
"""

from __future__ import annotations

import os
import threading
import time

import pytest
from pyspark.sql import functions as F

from quacfka_spark.plans.normalizer import NormalizerSpec
from quacfka_spark.sources.kafka import decode_json
from quacfka_spark.sources.mock import NESTED_SCHEMA, nested_payload
from quacfka_spark.streaming import PipelineConfig, StreamingPipeline

NORM = NormalizerSpec(fields=["r.user_id", "r.amount"], aliases=["user_id", "amount"])


def _batch(spark, lo: int = 0, hi: int = 120):
    return spark.range(lo, hi).select(
        F.encode(F.to_json(nested_payload(F.col("id"))), "utf-8").alias("value")
    )


def _pipe(spark, out: str, source=None, normalizer=NORM, **cfg) -> StreamingPipeline:
    return StreamingPipeline(
        spark,
        source,
        PipelineConfig(
            output_dir=out,
            dest_table="messages",
            dedup_keys=["r.user_id", "r.amount"],
            **cfg,
        ),
        decode=lambda df: decode_json(df, NESTED_SCHEMA),
        normalizer=normalizer,
    )


def _sleep_job(spark, ms: int) -> None:
    """One task that sleeps ``ms`` on an executor thread (interruptible,
    so a job-group cancel kills it)."""
    spark.range(1, numPartitions=1).select(
        F.expr(f"reflect('java.lang.Thread', 'sleep', cast({ms} as bigint))")
    ).write.format("noop").mode("overwrite").save()


def _active_jobs(spark) -> list[int]:
    return list(spark.sparkContext.statusTracker().getActiveJobsIds())


def _fail_norm_write(pipe) -> None:
    write = pipe._write

    def failing_write(df, path, table):
        if table == "messages_norm":
            raise RuntimeError("norm write failed")
        return write(df, path, table)

    pipe._write = failing_write


@pytest.mark.parametrize("failing", ["ledger", "norm"])
def test_failed_write_fails_epoch_and_publishes_nothing(spark, tmp_path, failing):
    out = str(tmp_path / "out")
    pipe = _pipe(spark, out)
    if failing == "ledger":

        def write_ledger(src, epoch_id):
            raise RuntimeError("ledger write failed")

        pipe._write_ledger = write_ledger
    else:
        _fail_norm_write(pipe)
    with pytest.raises(RuntimeError, match=f"{failing} write failed"):
        pipe._process_batch(_batch(spark), 0)
    assert pipe.completed_paths == []
    assert not os.path.exists(pipe._paths_log)
    assert pipe.metrics.report()["batches"] == 0
    assert _active_jobs(spark) == []


def test_no_epoch_job_outlives_process_batch(spark, tmp_path):
    """A slow ledger write is awaited even when the normalized write
    fails first, and on success; either way no job is left running."""
    out = str(tmp_path / "out")
    pipe = _pipe(spark, out)
    done = []
    write_ledger = pipe._write_ledger

    def slow_ledger(src, epoch_id):
        _sleep_job(spark, 1500)
        write_ledger(src, epoch_id)
        done.append(epoch_id)

    pipe._write_ledger = slow_ledger
    _fail_norm_write(pipe)
    with pytest.raises(RuntimeError, match="norm write failed"):
        pipe._process_batch(_batch(spark), 0)
    assert done == [0]
    assert _active_jobs(spark) == []

    del pipe._write  # back to the class's method
    pipe._process_batch(_batch(spark), 1)
    assert done == [0, 1]
    assert _active_jobs(spark) == []
    assert len(pipe.completed_paths) == 2


def test_ledger_thread_runs_in_stream_job_group(spark, tmp_path):
    src = str(tmp_path / "src")
    for lo in (0, 50):
        _batch(spark, lo, lo + 100).coalesce(1).write.mode("append").parquet(src)
    source = (
        spark.readStream.schema("value binary")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    pipe = _pipe(spark, str(tmp_path / "out"), source, available_now=True)
    seen = []
    write_ledger = pipe._write_ledger
    process_batch = pipe._process_batch

    def process(batch_df, epoch_id):
        seen.append(("batch", epoch_id, threading.get_ident(), None))
        process_batch(batch_df, epoch_id)

    def ledger(src_df, epoch_id):
        group = spark.sparkContext.getLocalProperty("spark.jobGroup.id")
        seen.append(("ledger", epoch_id, threading.get_ident(), group))
        write_ledger(src_df, epoch_id)

    pipe._process_batch = process
    pipe._write_ledger = ledger
    q = pipe.start()
    q.awaitTermination(180)
    assert pipe.error() is None
    batch_threads = {e: t for kind, e, t, _ in seen if kind == "batch"}
    ledgers = [(e, t, g) for kind, e, t, g in seen if kind == "ledger"]
    assert sorted(e for e, _, _ in ledgers) == [0, 1]
    for e, t, group in ledgers:
        assert t != batch_threads[e]  # overlapped, on its own thread
        assert group == str(q.runId)  # ... inside the stream's job group


def test_stop_cancels_inflight_ledger_job(spark, tmp_path):
    src = str(tmp_path / "src")
    _batch(spark).coalesce(1).write.parquet(src)
    source = spark.readStream.schema("value binary").parquet(src)
    # no normalizer: once the ledger thread starts, its job is the only one
    pipe = _pipe(spark, str(tmp_path / "out"), source, None, trigger_seconds=1)
    started = threading.Event()
    errors = []

    def stuck_ledger(src_df, epoch_id):
        started.set()
        try:
            _sleep_job(spark, 120_000)
        except Exception as e:  # the cancel surfaces here
            errors.append(e)
            raise

    pipe._write_ledger = stuck_ledger
    q = pipe.start()
    try:
        assert started.wait(120)
        deadline = time.monotonic() + 30
        while not _active_jobs(spark) and time.monotonic() < deadline:
            time.sleep(0.05)
        assert _active_jobs(spark), "the sleeping ledger job never started"
        t0 = time.monotonic()
        q.stop()
        assert time.monotonic() - t0 < 60
    finally:
        if q.isActive:
            q.stop()
    deadline = time.monotonic() + 30
    while not errors and time.monotonic() < deadline:
        time.sleep(0.1)
    assert errors, "the ledger job was not cancelled by query.stop()"
    while _active_jobs(spark) and time.monotonic() < deadline:
        time.sleep(0.1)
    assert _active_jobs(spark) == []


def test_persist_fallback_writes_ledger_on_batch_thread(spark, tmp_path):
    """Without the raw sink the derived writes read a persisted decode;
    running the ledger beside the normalized write would have both
    actions decode the batch before the cache fills, so it stays on the
    batch thread."""
    pipe = _pipe(spark, str(tmp_path / "out"), write_raw=False)
    threads = []
    write_ledger = pipe._write_ledger

    def ledger(src_df, epoch_id):
        threads.append(threading.get_ident())
        write_ledger(src_df, epoch_id)

    pipe._write_ledger = ledger
    pipe._process_batch(_batch(spark), 0)
    assert threads == [threading.get_ident()]
    assert pipe.metrics.report()["norm_records_inserted"] == 120
