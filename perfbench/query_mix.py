"""The ``query_mix`` workload: one closed-loop client running registered
queries over the committed sf0.01 fixture (TESTDATA seed 42).

Set-up runs every query once, untimed, collecting its result and
comparing the canonical result hash with the expected table kept next
to this file; that pass also warms the JVM and builds the layout
artifacts (bucketed and compacted copies) in the run's own warehouse.
The timed passes then build each plan and write it to the noop sink,
counting rows with an ``Observation``. A query's latency is the median
of its timed passes. The seed only permutes the query order: the
fixture is fixed.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import statistics
import time

from harness import Outcome, Run, median, p90

HERE = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected_query_mix.json")
# one timed pass of QUERY_SET takes about this long on a 4-core host;
# --seconds buys round(seconds / PASS_S) timed passes, at least one
PASS_S = 6.5

# A query from every module that registers queries, with the ones that
# fire jobs while their plan is built (t14, m06, x10), the layout
# artifacts (x06 bucketed, x10 compacted) and q11, the many-jobs join.
QUERY_SET = (
    "q11_multiway_join",
    "q48_fuzzy_match",
    "s03_session_window",
    "t14_lm_perplexity",
    "d01_exact_dedup",
    "sim06_multi_query_topk",
    "m06_ahash_neardup",
    "x06_bucketed_join_agg",
    "x10_compact_scan",
    "e01_ingest_to_training",
)
MODULES = (
    "relational", "relational_ext", "text", "dedup", "similarity",
    "multimodal", "streaming_batch", "extensions", "chains",
)


def result_digest(pdf) -> tuple[int, str]:
    """Row count and sha256 of the result in the parity suite's
    canonical form (columns sorted by name, rows sorted)."""
    from tests.parity import canon_rows

    rows = canon_rows(pdf)
    payload = repr((sorted(pdf.columns), rows))
    return len(rows), hashlib.sha256(payload.encode("utf-8")).hexdigest()


def module_of(name: str) -> str:
    from quacfka_spark.registry import QUERIES

    return QUERIES[name].fn.__module__.rsplit(".", 1)[-1]


def group(p: int, name: str, phase: str) -> str:
    return f"qm:{p}:{name}:{phase}"


def run_query_mix(run: Run) -> Outcome:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from quacfka_spark.registry import get_queries

    spark = run.spark
    sc = spark.sparkContext
    t_setup = time.perf_counter()
    fns = get_queries()
    with open(EXPECTED, encoding="utf-8") as fh:
        expected = json.load(fh)
    order = list(QUERY_SET)
    random.Random(run.seed).shuffle(order)

    problems: list[str] = []
    bad: set[str] = set()
    for name in order:
        try:
            got = result_digest(fns[name](spark, SF_DIR).toPandas())
        except Exception as e:  # one broken query must not end the run
            bad.add(name)
            problems.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
            continue
        want = (expected[name]["rows"], expected[name]["sha256"])
        if got != want:
            bad.add(name)
            problems.append(f"{name}: result {got} != expected {want}")
    setup_s = time.perf_counter() - t_setup

    # (build_s, exec_s) per timed pass, per query, and each pass's wall
    timings: dict[str, list[tuple[float, float]]] = {n: [] for n in order}
    pass_s: list[float] = []
    rows = 0
    for p in range(max(1, round(run.seconds / PASS_S))):
        t_pass = time.perf_counter()
        for name in order:
            if name in bad:
                continue
            sc.setJobGroup(group(p, name, "build"), name)
            t0 = time.perf_counter()
            try:
                df = fns[name](spark, SF_DIR)
                t1 = time.perf_counter()
                sc.setJobGroup(group(p, name, "exec"), name)
                obs = Observation()
                df.observe(obs, F.count(F.lit(1)).alias("n")).write.format(
                    "noop"
                ).mode("overwrite").save()
                t2 = time.perf_counter()
                n = int(obs.get["n"])
            except Exception as e:  # counted as failed, the sweep goes on
                bad.add(name)
                problems.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
                continue
            timings[name].append((t1 - t0, t2 - t1))
            if p == 0:
                rows += n
            if n != expected[name]["rows"]:
                bad.add(name)
                problems.append(f"{name}: wrote {n} rows, expected {expected[name]['rows']}")
        pass_s.append(time.perf_counter() - t_pass)
    sc.setJobGroup("bench", "bench")

    timed = [n for n in order if n not in bad]
    lat = {n: median([b + e for b, e in timings[n]]) for n in timed}
    sweep_s = sum(lat.values())
    e2e = {
        "setup_s": run.session_start_s + setup_s,
        "rows_per_s": rows / sweep_s if sweep_s else 0.0,
        "latency_p50_s": median(list(lat.values())),
        "latency_p90_s": p90(list(lat.values())),
    }
    layers = {}
    if run.trace:
        run.stop_session()
        layers = eventlog_metrics(run, {n: timings[n] for n in timed})
        # mean wall time of a whole timed pass, which operators.build_s +
        # operators.exec_s should cover
        layers["traced.work_s"] = statistics.fmean(pass_s)
    return Outcome(
        attempted=len(order),
        failed=len(bad),
        end_to_end=e2e,
        per_layer=layers,
        details={
            "queries": {n: round(v, 4) for n, v in lat.items()},
            "rows": rows,
            "sweep_s": sweep_s,
            "pass_s": pass_s,
            "latency_samples": len(lat),
        },
        problems=problems,
    )


def eventlog_metrics(run: Run, timings: dict[str, list[tuple[float, float]]]) -> dict:
    """Per timed pass (the mean over passes): plan build and execution
    wall, and the event log's jobs, stages, tasks, task CPU and GC,
    shuffle and spill bytes and driver gap of the queries' job groups."""
    import eventlog

    if not timings:
        return {}
    log = eventlog.parse(run.eventlog_dir)
    passes = max(len(t) for t in timings.values())
    builds = [group(p, n, "build") for n in timings for p in range(passes)]
    total = eventlog.summarize(
        log,
        eventlog.jobs_in_groups(
            log, builds + [group(p, n, "exec") for n in timings for p in range(passes)]
        ),
    )
    gap = 0.0
    for n, runs in timings.items():
        for p, (b, e) in enumerate(runs):
            jobs = eventlog.jobs_in_groups(log, [group(p, n, "build"), group(p, n, "exec")])
            gap += max(0.0, b + e - eventlog.summarize(log, jobs)["busy_s"])
    build_s = sum(b for runs in timings.values() for b, _ in runs)
    exec_s = sum(e for runs in timings.values() for _, e in runs)
    out = {
        "operators.build_s": build_s / passes,
        "operators.build_jobs": len(eventlog.jobs_in_groups(log, builds)) / passes,
        "operators.exec_s": exec_s / passes,
        "operators.jobs": total["jobs"] / passes,
        "operators.stages": total["stages"] / passes,
        "operators.tasks": total["tasks"] / passes,
        "operators.driver_gap_s": gap / passes,
        "operators.task_cpu_s": total["task_cpu_s"] / passes,
        "operators.gc_s": total["gc_s"] / passes,
        "operators.shuffle_write_bytes": total["shuffle_write_bytes"] / passes,
        "operators.spill_bytes": total["spill_bytes"] / passes,
    }
    for m in MODULES:
        out[f"operators.exec_s.{m}"] = (
            sum(e for n, runs in timings.items() if module_of(n) == m for _, e in runs)
            / passes
        )
    return out
