#!/usr/bin/env python3
"""Fixed-work benchmark of quacfka_spark.

Run from the repository root:

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 20 --trace 0

Workloads (each in one process, on ``local[nproc]`` with a 4g driver heap):

- ``ingest_paced_dedup``: open loop; small protobuf messages, every key
  twice, released into the watched directory at ``--paced-rows-per-s``
  on a schedule that does not wait for the pipeline; the package's
  ``StreamingPipeline`` decodes them (JVM codec), drops keys seen in the
  last epochs (bounded dedup ledger), writes raw and normalized parquet
  with rotation and publishes completed paths. A closed-loop drain of a
  backlog of files of the same size through the same pipeline follows.
- ``query_mix``: one closed-loop client running registered queries over
  the committed sf0.01 fixture into the noop sink.

The seed offsets the payload id range on ``ingest_paced_dedup`` and
permutes the query order on ``query_mix``. Every run checks its outputs
and counts each wrong or failed operation (file, epoch or query).

End-to-end metrics (``--trace 0``), the same names on every workload:

- ``setup_s``: session start plus the workload's set-up (payload
  generation, warm-up, the untimed checked query pass, layout builds);
- ``rows_per_s``: rows written (raw + normalized) per second of the
  backlog drain's epochs, or result rows per second of the query sweep;
- ``latency_p50_s`` / ``latency_p90_s``: per operation, from when it was
  due to when its result was committed: per source file from its
  scheduled release, per query its plan build plus execution.

``--trace 1`` enables Spark's event log and the layer probes and prints
the per-layer metrics instead; a layer the workload does not run reads 0.
The ``traced.*`` metrics repeat the end-to-end figures of the traced run,
so the tracing overhead is their difference from an untraced run.

The last stdout line is the result object; the line before it holds the
run environment and details. Exit status is non-zero, with no result
line, when the run cannot execute.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("ingest_paced_dedup", "query_mix")
END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
}
PER_LAYER = {
    "session.start_s": "s",
    "sources.decode_s_per_Mrow": "s/Mrow",
    "sources.decode_cpu_s_per_Mrow": "s/Mrow",
    "plans.normalize_s_per_Mrow": "s/Mrow",
    "plans.norm_rows_per_raw_row": "ratio",
    "streaming.epoch_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.engine_s": "s",
    "streaming.raw_write_s": "s",
    "streaming.derived_write_s": "s",
    "streaming.epilogue_s": "s",
    "streaming.epoch_rows": "rows",
    "streaming.jobs_per_epoch": "count",
    "streaming.driver_gap_s": "s",
    "streaming.task_cpu_s": "s",
    "streaming.shuffle_write_bytes": "bytes",
    "streaming.bytes_written_per_row": "bytes",
    "streaming.files_per_epoch": "count",
    "streaming.ledger_bytes": "bytes",
    "streaming.dedup_keep_ratio": "ratio",
    "streaming.published_paths": "count",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "operators.exec_s": "s",
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.driver_gap_s": "s",
    "operators.task_cpu_s": "s",
    "operators.gc_s": "s",
    "operators.shuffle_write_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    **{
        f"operators.exec_s.{m}": "s"
        for m in (
            "relational", "relational_ext", "text", "dedup", "similarity",
            "multimodal", "streaming_batch", "extensions", "chains",
        )
    },
    "loadgen.late_max_s": "s",
    "loadgen.backlog_files_end": "count",
    "traced.work_s": "s",
    **{f"traced.{k}": u for k, u in END_TO_END.items()},
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--paced-rows-per-s", type=int,
        help="offered rate of ingest_paced_dedup, duplicates included"
        " (required for that workload)",
    )
    args = ap.parse_args(argv)
    if args.workload == "ingest_paced_dedup" and not args.paced_rows_per_s:
        ap.error("ingest_paced_dedup needs --paced-rows-per-s")
    return args


def execute(args: argparse.Namespace):
    from harness import Run

    run = Run(ROOT, args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        run.start()
        if args.workload == "query_mix":
            from query_mix import run_query_mix

            outcome = run_query_mix(run)
        else:
            from ingest import run_paced_dedup

            outcome = run_paced_dedup(run, args.paced_rows_per_s)
        return run, outcome
    finally:
        run.close()


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "quacfka_spark", "__init__.py")):
        print(f"quacfka_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    try:
        run, outcome = execute(args)
    except Exception:
        traceback.print_exc()
        return 1

    if args.trace:
        values = {k: 0.0 for k in PER_LAYER}
        values["session.start_s"] = run.session_start_s
        values.update(outcome.per_layer)
        values.update({f"traced.{k}": v for k, v in outcome.end_to_end.items()})
        units = PER_LAYER
    else:
        values, units = outcome.end_to_end, END_TO_END
    for p in outcome.problems:
        print(f"check failed: {p}", file=sys.stderr)
    print(json.dumps({"env": run.env, "details": outcome.details,
                      "end_to_end": outcome.end_to_end, "problems": outcome.problems}))
    print(json.dumps({
        "correct": outcome.failed == 0,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
