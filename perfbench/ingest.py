"""The ``ingest_paced_dedup`` workload: an open loop at a fixed offered
rate through the package's ``StreamingPipeline``, with cross-epoch dedup,
followed by a closed-loop drain of a backlog through the same pipeline.

Set-up pre-builds the source files (protobuf payloads of the small
shape, every key twice) and drains a few of them through a pipeline of
the same shape, so JIT and codegen are warm. A generator thread then
renames the paced files into the watched directory on a fixed schedule
that does not wait for the pipeline. The first PACED_WARMUP_S of the
schedule is set-up too: the stream's first epochs run slower for several
seconds after it starts. Every later file is timed from its scheduled
release to the end of the epoch that committed it. Epoch
timings come from the engine's ``StreamingQueryProgress``; which file
went into which epoch comes from the checkpoint's file-source log.

The paced pipeline runs its epochs back to back, so its rows per second
follow the offered rate. The pipeline's throughput is measured instead
on a backlog at rest: a second pipeline drains DRAIN_EPOCHS epochs of
DRAIN_EPOCH_ROWS rows (the epoch size of the seed drain-rate probe in
README.md) from files of the same size.
"""

from __future__ import annotations

import datetime
import json
import os
import shutil
import threading
import time
from dataclasses import dataclass

from harness import Outcome, Run, dir_bytes, median, p90

PACED_INTERVAL_S = 0.1
PACED_WARMUP_S = 8.0
WARMUP_EPOCHS = 3
WARMUP_FILES_PER_EPOCH = 3
DEDUP_KEYS = ["r.site.id", "r.user_id", "r.amount"]
LEDGER_EPOCHS = 4
# the small shape's dedup key repeats every lcm(100, 1000, 997) ids
SMALL_KEY_PERIOD = 997_000
DRAIN_GRACE_S = 30.0
DRAIN_EPOCH_ROWS = 125_000
DRAIN_EPOCHS = 6
ENGINE_PHASES = ("latestOffset", "getBatch", "queryPlanning", "walCommit", "commitOffsets")


def id_offset(seed: int) -> int:
    """Start of the payload id range: the seed moves the contents, the
    shape and sizes stay the same."""
    return 1 + (seed % 100_000) * 1_000_003


def norm_fanout(seq: int) -> int:
    """Normalized rows one payload id of the small shape yields: it has
    seq % 3 deals, and explode_outer keeps one row for none."""
    return 2 if seq % 3 == 2 else 1


def expected_counts(first_id: int, files: int, block: int) -> dict[str, int]:
    """Rows consumed, kept (raw) and normalized from ``files`` consecutive
    staged files whose first id is ``first_id``: they hold ``files + 1``
    id blocks, the inner ones twice."""
    distinct = (files + 1) * block
    return {
        "consumed": files * 2 * block,
        "raw": distinct,
        "norm": sum(norm_fanout(first_id + i) for i in range(distinct)),
    }


def progress_epochs(query) -> dict[int, dict]:
    """batchId -> {start, end, rows, phase seconds} for epochs that ran a
    batch, from the engine's progress records."""
    out = {}
    for p in query.recentProgress:
        dur = p.durationMs or {}
        if "addBatch" not in dur:
            continue
        start = (
            datetime.datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ")
            .replace(tzinfo=datetime.timezone.utc)
            .timestamp()
        )
        out[p.batchId] = {
            "start": start,
            "end": start + dur.get("triggerExecution", 0) / 1000.0,
            "rows": p.numInputRows,
            "dur": {k: v / 1000.0 for k, v in dur.items()},
        }
    return out


def file_batches(checkpoint: str) -> dict[str, int]:
    """Source file name -> batch id, from the file-source log."""
    log_dir = os.path.join(checkpoint, "sources", "0")
    out: dict[str, int] = {}
    if not os.path.isdir(log_dir):
        return out
    for name in os.listdir(log_dir):
        if name.startswith(".") or name.endswith((".crc", ".tmp")):
            continue
        with open(os.path.join(log_dir, name), encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    entry = json.loads(line)
                    out[os.path.basename(entry["path"])] = entry["batchId"]
    return out


@dataclass
class Stream:
    """A finished pipeline run joined with the engine's records."""

    pipe: object
    epochs: dict[int, dict]
    batches: dict[str, int]
    # epochs measured, and when the first of them could start (the end
    # of the epoch before it)
    measured: list[int]
    measured_from: float

    @classmethod
    def collect(cls, pipe, measured_files: set[str] | None = None) -> "Stream":
        """Measured epochs are those holding any of ``measured_files``,
        or every epoch when it is None."""
        epochs = progress_epochs(pipe.query)
        batches = {
            name: b
            for name, b in file_batches(pipe.config.checkpoint()).items()
            if b in epochs
        }
        if measured_files is None:
            measured = sorted(epochs)
        else:
            measured = sorted({batches[n] for n in measured_files if n in batches})
        if not measured:
            raise RuntimeError("no measured file was committed")
        before = [b for b in epochs if b < measured[0]]
        measured_from = (
            epochs[max(before)]["end"] if before else epochs[measured[0]]["start"]
        )
        return cls(pipe, epochs, batches, measured, measured_from)

    @property
    def work_s(self) -> float:
        return self.epochs[self.measured[-1]]["end"] - self.measured_from

    def latencies(self, due: dict[str, float], stop_time: float) -> tuple[list[float], int]:
        """End of the committing epoch minus the due time, per file; a
        file never committed counts as late as the run's end."""
        lat, missing = [], 0
        for name, t_due in due.items():
            b = self.batches.get(name)
            if b is None:
                missing += 1
                lat.append(stop_time - t_due)
            else:
                lat.append(self.epochs[b]["end"] - t_due)
        return lat, missing

    def rows_per_s(self) -> float:
        """Raw + normalized rows of the measured epochs per second of the
        span in which they ran."""
        rows = self.pipe.metrics.epoch_rows()
        written = sum(rows[b][1] + rows[b][2] for b in self.measured if b in rows)
        return written / self.work_s

    def check(self, run: Run, want: dict[str, int], label: str, problems: list[str]) -> int:
        """Row counts against ``want``, each epoch's ledger digests
        against its raw rows, and the published paths; returns the
        number of failed operations."""
        rep = self.pipe.metrics.report()
        failed = self.check_epochs(label, problems)
        for name, key in (
            ("consumed", "records_consumed"),
            ("raw", "records_inserted"),
            ("norm", "norm_records_inserted"),
        ):
            if rep[key] != want[name]:
                failed += 1
                problems.append(f"{label}: {name} {rep[key]} != {want[name]}")
        rows = self.pipe.metrics.epoch_rows()
        ledger_root = os.path.join(self.pipe.config.output_dir, "_dedup_ledger")
        for name in sorted(os.listdir(ledger_root)):
            e = int(name.split("=", 1)[1])
            digests = run.spark.read.parquet(os.path.join(ledger_root, name)).count()
            if e not in rows or digests != rows[e][1]:
                failed += 1
                problems.append(f"{label}: ledger epoch {e}: {digests} digests != raw rows")
        return failed

    def check_epochs(self, label: str, problems: list[str]) -> int:
        """Every epoch publishes its raw and normalized paths once and
        records its counts; returns the number of failed epochs."""
        rows = self.pipe.metrics.epoch_rows()
        by_epoch: dict[int, list[str]] = {}
        feed = os.path.join(self.pipe.config.output_dir, "_completed", "paths.jsonl")
        with open(feed, encoding="utf-8") as fh:
            for line in fh:
                rec = json.loads(line)
                by_epoch.setdefault(rec["epoch"], []).append(rec["path"])
        bad = 0
        for b in sorted(self.epochs):
            paths = by_epoch.get(b, [])
            if len(paths) != 2 or not all(os.path.isdir(p) for p in paths) or b not in rows:
                bad += 1
                problems.append(f"{label}: epoch {b}: published {len(paths)} paths")
        if len(self.pipe.completed_paths) != 2 * len(self.epochs):
            bad += 1
            problems.append(
                f"{label}: completed_paths {len(self.pipe.completed_paths)}"
                f" != 2 x {len(self.epochs)} epochs"
            )
        return bad

    def layer_metrics(self, raw: int, norm: int, consumed: int) -> dict:
        trace = {t["epoch"]: t for t in self.pipe.epoch_trace}
        rows = self.pipe.metrics.epoch_rows()
        ep = self.epochs

        def per(f) -> float:
            return median([f(b) for b in self.measured])

        files = [sum(1 for b in self.batches.values() if b == m) for m in self.measured]
        out = self.pipe.config.output_dir
        written = dir_bytes(os.path.join(out, "messages"), ".parquet") + dir_bytes(
            os.path.join(out, "messages_norm"), ".parquet"
        )
        return {
            "streaming.epoch_s": per(lambda b: ep[b]["dur"]["triggerExecution"]),
            "streaming.add_batch_s": per(lambda b: ep[b]["dur"]["addBatch"]),
            "streaming.engine_s": per(
                lambda b: sum(ep[b]["dur"].get(k, 0.0) for k in ENGINE_PHASES)
            ),
            "streaming.raw_write_s": per(lambda b: trace[b]["raw_s"]),
            "streaming.derived_write_s": per(lambda b: trace[b]["derived_s"]),
            "streaming.epilogue_s": per(lambda b: trace[b]["epilogue_s"]),
            "streaming.epoch_rows": per(lambda b: rows[b][0]),
            "streaming.files_per_epoch": median([float(n) for n in files]),
            "streaming.bytes_written_per_row": written / max(raw + norm, 1),
            "streaming.ledger_bytes": float(dir_bytes(os.path.join(out, "_dedup_ledger"))),
            "streaming.dedup_keep_ratio": raw / max(consumed, 1),
            "streaming.published_paths": float(len(self.pipe.completed_paths)),
            "plans.norm_rows_per_raw_row": norm / max(raw, 1),
        }


@dataclass
class Workload:
    run: Run

    def __post_init__(self) -> None:
        from quacfka_spark.bench_ingest import SHAPES
        from quacfka_spark.plans.normalizer import NormalizerSpec
        from quacfka_spark.sources.proto_jvm import jvm_codec_available

        self.spark = self.run.spark
        self.shape = SHAPES["small"]
        self.normalizer = NormalizerSpec(
            fields=[f"r.{f}" for f in self.shape.norm_fields],
            aliases=list(self.shape.norm_aliases),
        )
        if not jvm_codec_available(self.spark):
            raise RuntimeError("the JVM protobuf codec jar did not load")

    def decode(self, df):
        from quacfka_spark.sources.proto_jvm import decode_protobuf_jvm

        return decode_protobuf_jvm(df, self.shape.spec)

    def write_files(self, ids_col, files: int, file_rows: int, out: str) -> list[str]:
        """``files`` parquet files of ``file_rows`` encoded payloads each,
        in id order."""
        from pyspark.sql import functions as F

        from quacfka_spark.sources.proto_jvm import encode_protobuf_jvm

        payload = self.shape.payload(ids_col(F.col("id")))
        first = F.col("id") * file_rows
        (
            # each task expands whole files' id ranges, and the writer
            # cuts its rows into files of file_rows
            self.spark.range(0, files, 1, self.spark.sparkContext.defaultParallelism)
            .select(F.explode(F.sequence(first, first + (file_rows - 1))).alias("id"))
            .select(encode_protobuf_jvm(self.spark, payload, self.shape.spec).alias("value"))
            .write.option("maxRecordsPerFile", file_rows)
            .mode("overwrite")
            .parquet(out)
        )
        names = sorted(n for n in os.listdir(out) if n.endswith(".parquet"))
        if len(names) != files:
            raise RuntimeError(f"expected {files} source files, found {len(names)}")
        return [os.path.join(out, n) for n in names]

    def pipeline(self, source_dir: str, out: str, max_files: int | None = None):
        """The pipeline under test: decode, dedup against the bounded
        ledger, raw write, normalizer, rotation, completed-path publish.
        ``max_files`` set means a drain of what is there (availableNow)."""
        from quacfka_spark.streaming import PipelineConfig, StreamingPipeline

        reader = self.spark.readStream.schema("value binary")
        if max_files:
            reader = reader.option("maxFilesPerTrigger", str(max_files))
        config = PipelineConfig(
            output_dir=out,
            available_now=bool(max_files),
            rotate_mb=64,
            dedup_keys=DEDUP_KEYS,
            dedup_ledger_epochs=LEDGER_EPOCHS,
        )
        return StreamingPipeline(
            self.spark,
            reader.parquet(source_dir),
            config,
            decode=self.decode,
            normalizer=self.normalizer,
        )

    def warm_up(self, files: list[str]) -> None:
        """Drain WARMUP_EPOCHS epochs of hard links to the first source
        files through a pipeline of the same shape."""
        src, out = self.run.path("warm_src"), self.run.path("warm_out")
        os.makedirs(src)
        for f in files[: WARMUP_EPOCHS * WARMUP_FILES_PER_EPOCH]:
            os.link(f, os.path.join(src, os.path.basename(f)))
        self.pipeline(src, out, WARMUP_FILES_PER_EPOCH).start().awaitTermination()
        shutil.rmtree(src)
        shutil.rmtree(out)

    def probe(self, src_dir: str) -> dict:
        """Traced run only: decode the given source files into the noop
        sink, then normalize the decoded rows, held in memory, into the
        noop sink; each under its own job group."""
        sc = self.spark.sparkContext
        decoded = self.decode(self.spark.read.parquet(src_dir))
        sc.setJobGroup("probe:decode", "probe:decode")
        t0 = time.perf_counter()
        decoded.write.format("noop").mode("overwrite").save()
        decode_s = time.perf_counter() - t0
        sc.setJobGroup("bench", "bench")
        held = decoded.select("r").persist()
        try:
            rows = held.count()
            sc.setJobGroup("probe:normalize", "probe:normalize")
            t0 = time.perf_counter()
            self.normalizer.apply(held).write.format("noop").mode("overwrite").save()
            normalize_s = time.perf_counter() - t0
        finally:
            sc.setJobGroup("bench", "bench")
            held.unpersist()
        return {"mrows": rows / 1e6, "decode_s": decode_s, "normalize_s": normalize_s}


def eventlog_metrics(run: Run, stream: Stream, probe: dict) -> dict:
    """Per-epoch job counts, driver gap, task CPU and shuffle bytes of the
    measured epochs (jobs attributed by submission time), and the probes'
    task CPU."""
    import eventlog

    log = eventlog.parse(run.eventlog_dir)
    jobs_per, gaps, cpu, shuffle = [], [], 0.0, 0
    for b in stream.measured:
        e = stream.epochs[b]
        s = eventlog.summarize(log, eventlog.jobs_in_window(log, e["start"], e["end"]))
        jobs_per.append(float(s["jobs"]))
        gaps.append(max(0.0, (e["end"] - e["start"]) - s["busy_s"]))
        cpu += s["task_cpu_s"]
        shuffle += s["shuffle_write_bytes"]
    dec = eventlog.summarize(log, eventlog.jobs_in_groups(log, ["probe:decode"]))
    return {
        "streaming.jobs_per_epoch": median(jobs_per),
        "streaming.driver_gap_s": median(gaps),
        "streaming.task_cpu_s": cpu,
        "streaming.shuffle_write_bytes": float(shuffle),
        "sources.decode_s_per_Mrow": probe["decode_s"] / probe["mrows"],
        "sources.decode_cpu_s_per_Mrow": dec["task_cpu_s"] / probe["mrows"],
        "plans.normalize_s_per_Mrow": probe["normalize_s"] / probe["mrows"],
    }


def run_paced_dedup(run: Run, rows_per_s: int) -> Outcome:
    """Open loop: files released on a fixed schedule into the watched
    directory; cross-epoch dedup with a bounded ledger horizon. Then a
    closed-loop drain of a backlog of files of the same size."""
    from pyspark.sql import functions as F

    t_setup = time.time()
    w = Workload(run)
    warm_n = round(PACED_WARMUP_S / PACED_INTERVAL_S)
    n_files = warm_n + max(10, round(run.seconds / PACED_INTERVAL_S))
    block = max(1, round(rows_per_s * PACED_INTERVAL_S) // 2)
    drain_per_epoch = max(1, round(DRAIN_EPOCH_ROWS / (2 * block)))
    drain_files = DRAIN_EPOCHS * drain_per_epoch
    if (n_files + drain_files + 1) * block > SMALL_KEY_PERIOD:
        raise ValueError("paced run too large: dedup keys would repeat")
    off = id_offset(run.seed)

    # file k holds id blocks k and k + 1: every key but the first and
    # last block's arrives twice, in adjacent files
    def ids(i):
        k = (i / (2 * block)).cast("bigint")
        j = i % (2 * block)
        return F.lit(off) + (k + (j / block).cast("bigint")) * block + j % block

    staged = w.write_files(ids, n_files + drain_files, 2 * block, run.path("staged"))
    backlog = run.path("backlog")
    os.makedirs(backlog)
    # the file source takes the oldest files first, and the writer's
    # tasks ran in parallel: age the backlog in id order
    t_old = time.time() - drain_files
    for k, f in enumerate(staged[n_files:]):
        dst = os.path.join(backlog, os.path.basename(f))
        os.rename(f, dst)
        os.utime(dst, (t_old + k, t_old + k))
    staged = staged[:n_files]
    w.warm_up(staged)
    watched = run.path("src")
    os.makedirs(watched)
    pipe = w.pipeline(watched, run.path("out"))
    query = pipe.start()
    names = [f"{k:05d}.parquet" for k in range(n_files)]
    t0 = time.time() + 0.5
    due = {n: t0 + k * PACED_INTERVAL_S for k, n in enumerate(names)}
    late: list[float] = []

    def release() -> None:
        for f, name in zip(staged, names):
            wait = due[name] - time.time()
            if wait > 0:
                time.sleep(wait)
            os.utime(f)
            os.rename(f, os.path.join(watched, name))
            late.append(time.time() - due[name])

    gen = threading.Thread(target=release, name="perfbench-loadgen", daemon=True)
    gen.start()
    want = expected_counts(off, n_files, block)
    deadline = t0 + n_files * PACED_INTERVAL_S + DRAIN_GRACE_S
    while time.time() < deadline and query.exception() is None:
        if not gen.is_alive() and pipe.metrics.report()["records_consumed"] >= want["consumed"]:
            # done once the engine has reported the last epoch's progress
            if sum(e["rows"] for e in progress_epochs(query).values()) >= want["consumed"]:
                break
        time.sleep(0.05)
    gen.join(timeout=DRAIN_GRACE_S)
    query.stop()
    t_end = time.time()
    if query.exception() is not None:
        raise RuntimeError(f"paced pipeline failed: {query.exception()}")

    drain_pipe = w.pipeline(backlog, run.path("backlog_out"), drain_per_epoch)
    drain_pipe.start().awaitTermination()
    drain = Stream.collect(drain_pipe)

    measured = names[warm_n:]
    s = Stream.collect(pipe, set(measured))
    lat, missing_measured = s.latencies({n: due[n] for n in measured}, t_end)
    missing = len(set(names) - set(s.batches))
    problems: list[str] = []
    if missing:
        problems.append(f"paced: {missing} files not committed by the end of the run")
    failed = missing + s.check(run, want, "paced", problems)
    failed += drain.check(
        run, expected_counts(off + n_files * block, drain_files, block), "drain", problems
    )

    e2e = {
        "setup_s": run.session_start_s + (due[measured[0]] - t_setup),
        "rows_per_s": drain.rows_per_s(),
        "latency_p50_s": median(lat),
        "latency_p90_s": p90(lat),
    }
    rep = pipe.metrics.report()
    raw, norm, consumed = (
        rep["records_inserted"], rep["norm_records_inserted"], rep["records_consumed"]
    )
    drain_consumed_per_s = drain_pipe.metrics.report()["records_consumed"] / drain.work_s
    layers = {}
    if run.trace:
        layers = s.layer_metrics(raw, norm, consumed)
        probe = w.probe(watched)
        run.stop_session()
        layers.update(eventlog_metrics(run, s, probe))
        layers.update(
            {
                "loadgen.late_max_s": max(late),
                "loadgen.backlog_files_end": float(missing_measured),
                "traced.work_s": s.work_s,
            }
        )
    return Outcome(
        attempted=n_files + len(s.epochs) + drain_files + len(drain.epochs),
        failed=failed,
        end_to_end=e2e,
        per_layer=layers,
        details={
            "files": n_files, "measured_files": len(measured), "file_rows": 2 * block,
            "offered_rows_per_s": rows_per_s, "epochs": len(s.epochs),
            "measured_epochs": len(s.measured), "consumed": consumed, "raw": raw,
            "norm": norm, "late_max_s": max(late), "missing": missing,
            "latency_samples": len(lat), "work_s": s.work_s,
            "epoch_s": [round(s.epochs[b]["dur"]["triggerExecution"], 3) for b in sorted(s.epochs)],
            "drain_files": drain_files, "drain_s": drain.work_s,
            "drain_epoch_s": [
                round(drain.epochs[b]["dur"]["triggerExecution"], 3) for b in sorted(drain.epochs)
            ],
            "drain_consumed_rows_per_s": drain_consumed_per_s,
            "offered_share_of_drain": rows_per_s / drain_consumed_per_s,
        },
        problems=problems,
    )
