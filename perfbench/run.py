#!/usr/bin/env python3
"""End-to-end benchmark of the gramene_mongodb_spark batch jobs.

    python3 perfbench/run.py --workload mongo_query --seed 1 --seconds 20 --trace 0

Run from the repository root. One process, one client, a closed loop: on
``local[<cores>]`` over the seed-42 sf0.1 tables in ``perfbench/data``,

1. set up: import the package, start the SparkSession and run one
   untimed warm-up pass that is also the correctness check: it hashes
   every entry's result, compares it with the committed
   ``PARITY_SF01.json`` and checks the pipeline outputs (``setup_s``
   ends here);
2. run timed passes until they add up to ``--seconds`` (the last one
   may run over); ``pass_s`` is their median. ``held_mb`` is the memory
   the driver holds after them: JVM heap and non-heap in use after full
   GCs, plus this process's resident set;
3. with ``--trace 1``, run one more pass with spans and status-store
   counters (see ``spans`` and ``sparkstats``).

The seed sets the order of the units within each pass. The last stdout
line is one JSON object: ``correct``, ``attempted``, ``failed`` and the
end-to-end metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).
The exit code is 2, with no result printed, when the package, its
committed hashes or the test tables are missing.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SF_DIR = os.path.join(HERE, "data", "sf0.1")
PARITY = os.path.join(ROOT, "PARITY_SF01.json")
RUN_DIR = os.path.join(HERE, ".run")

E2E_UNITS = {"setup_s": "s", "pass_s": "s", "held_mb": "MB"}

#: per-layer metric -> unit, in the order BENCHMARK.json lists them
LAYER_UNITS = {
    "session.start_s": "s",
    "catalog.build_s": "s",
    "catalog.build_jobs": "count",
    "spark.exec_s": "s",
    "spark.driver_gap_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.input_bytes": "B",
    "arrow.to_python_bytes": "B",
    "arrow.from_python_bytes": "B",
    "arrow.python_run_s": "s",
    "arrow.python_start_s": "s",
    "lineage.persisted_rdds": "count",
    "lineage.cached_plans": "count",
    "pipelines.release_s": "s",
    "pipelines.resume_s": "s",
    "pipelines.publish_tree_s": "s",
    "pipelines.stages_run": "count",
    "pipelines.stages_skipped": "count",
    "io.output_bytes": "B",
    "io.files_written": "count",
    "spark.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
}


def fail_setup(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def launcher_env() -> None:
    """Size local[] to the cores this process may use, let Python workers
    import the package from the checkout, and keep every scratch file
    inside the checkout."""
    tmp = os.path.join(RUN_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(RUN_DIR, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    sys.path.insert(0, ROOT)


def proc_status_mb(pid: int | str, field: str) -> float:
    """A memory field (``VmHWM``, ``VmRSS``) of /proc/<pid>/status, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no {field} in /proc/{pid}/status")


def held_mb(spark) -> dict[str, float]:
    """Memory the driver holds, by part: the JVM's heap and non-heap in
    use and this process's resident set.

    Spark's ContextCleaner frees the blocks of RDDs, shuffles and
    broadcasts nothing references only after a GC has found them, and
    then only as fast as its thread gets to them. So this collects until
    the heap in use stops falling for three rounds in a row."""
    jvm = spark._jvm
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    gc.collect()  # drop Python-side cycles that still pin JVM objects
    low, steady = float("inf"), 0
    for _ in range(12):
        jvm.System.gc()
        time.sleep(0.5)
        heap = mx.getHeapMemoryUsage().getUsed()
        steady = steady + 1 if heap > low - 2 ** 20 else 0
        low = min(low, heap)
        if steady == 3:
            break
    return {
        "jvm_heap": low / 2 ** 20,
        "jvm_non_heap": mx.getNonHeapMemoryUsage().getUsed() / 2 ** 20,
        "python_rss": proc_status_mb("self", "VmRSS"),
    }


def reset_peak_rss(pid: int | str) -> None:
    """Restart the VmHWM high-water mark at the current resident size."""
    with open(f"/proc/{pid}/clear_refs", "w") as fh:
        fh.write("5")


#: per-layer metric -> the pass-level counter it reports
PASS_COUNTERS = {
    **{f"spark.{k}": k for k in (
        "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
        "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "input_bytes",
    )},
    **{f"arrow.{k}": k for k in (
        "to_python_bytes", "from_python_bytes", "python_run_s", "python_start_s",
    )},
    "io.output_bytes": "output_bytes",
    "io.files_written": "files_written",
}


def layer_metrics(tracer, pass_span, persisted_after: int) -> dict:
    """The traced pass's per-layer metrics, from its spans' counters."""
    from workloads import ALL_ENTRIES

    units = tracer.children(pass_span)
    entries = [s for s in units if s.kind == "entry"]
    pipes = [s for s in units if s.kind == "pipeline"]
    parts = [c for s in entries for c in tracer.children(s)]
    builds = [c for c in parts if c.kind == "build"]
    walls = {s.name: s.duration for s in units}
    m = {
        "catalog.build_s": sum(s.duration for s in builds),
        "catalog.build_jobs": sum(s.counters["jobs"] for s in builds),
        "spark.exec_s": sum(c.duration for c in parts if c.kind == "exec"),
        # the harvest between units is the tracer's own driver time: leave it out
        "spark.driver_gap_s": sum(s.counters["driver_gap_s"] for s in units),
        "lineage.persisted_rdds": persisted_after,
        "lineage.cached_plans": sum(s.counters.get("cached_plans", 0) for s in entries),
        "pipelines.release_s": walls.get("pipelines.release", 0.0),
        "pipelines.resume_s": walls.get("pipelines.resume", 0.0),
        "pipelines.publish_tree_s": walls.get("pipelines.publish_tree", 0.0),
        "pipelines.stages_run": sum(s.counters.get("stages_run", 0) for s in pipes),
        "pipelines.stages_skipped": sum(s.counters.get("stages_skipped", 0) for s in pipes),
    }
    m.update({name: pass_span.counters[k] for name, k in PASS_COUNTERS.items()})
    for name in ALL_ENTRIES:
        m[f"{name}.wall_s"] = walls.get(name, 0.0)
    return m


def main() -> None:
    from workloads import ALL_ENTRIES, WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    pkg = os.path.join(ROOT, "gramene_mongodb_spark", "__init__.py")
    oracle = os.path.join(ROOT, "tests", "oracle.py")
    for path in (pkg, oracle, PARITY):
        if not os.path.isfile(path):
            fail_setup(f"missing {os.path.relpath(path, ROOT)}: run from a full checkout")
    if not os.path.isdir(SF_DIR):
        fail_setup("missing the sf0.1 test tables under perfbench/data")
    expected = {k: v["value_hash"] for k, v in json.load(open(PARITY))["queries"].items()}
    launcher_env()

    from gramene_mongodb_spark import session
    from workloads import Passes, Tally

    rng = random.Random(f"{args.workload}:{args.seed}")
    units = list(WORKLOADS[args.workload])

    def order():
        rng.shuffle(units)
        return list(units)

    t = time.perf_counter()
    spark = session.get_spark(f"perfbench-{args.workload}")
    session_start = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    gateway = spark.sparkContext._gateway
    jvm_pid = spark._jvm.ProcessHandle.current().pid()

    tally = Tally()
    runner = Passes(spark, SF_DIR, os.path.join(RUN_DIR, "tmp"), tally, expected)
    # the check doubles as the warm-up: JIT, codegen and Python workers settle
    t = time.perf_counter()
    runner.run(order(), check=True)
    check_s = time.perf_counter() - t
    setup_s = time.perf_counter() - T_START
    for pid in (jvm_pid, "self"):
        reset_peak_rss(pid)

    passes: list[float] = []
    while sum(passes) < args.seconds:
        t = time.perf_counter()
        runner.run(order())
        passes.append(time.perf_counter() - t)
    peak_rss = sum(proc_status_mb(pid, "VmHWM") for pid in (jvm_pid, "self"))

    layers = held = None
    if args.trace:
        # before any forced GC, which would slow the pass that follows it
        layers, traced_s = traced_pass(spark, runner, order(), f"{args.workload}-{args.seed}")
        layers["session.start_s"] = session_start
        layers["spark.peak_rss_mb"] = peak_rss
        layers["trace.overhead_s"] = traced_s - statistics.median(passes)
        print(f"traced pass {traced_s:.3f} s, untraced median {statistics.median(passes):.3f} s")
    else:
        held = held_mb(spark)

    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=60)
    except Exception:  # noqa: BLE001
        gateway.proc.kill()
        gateway.proc.wait()
    shutil.rmtree(os.path.join(RUN_DIR, "tmp"), ignore_errors=True)

    failed = len(tally.failures)
    for f in tally.failures:
        print(f"FAILED {f}", file=sys.stderr)
    print(f"workload={args.workload} seed={args.seed} session_start_s={session_start:.3f} "
          f"setup_s={setup_s:.3f} passes={len(passes)} pass_times_s={[round(p, 3) for p in passes]} "
          f"check_s={check_s:.3f} peak_rss_mb={peak_rss:.1f} "
          f"held_mb={held and {k: round(v, 1) for k, v in held.items()} } "
          f"total_s={time.perf_counter() - T_START:.3f}")
    print(f"fail_ratio={failed / max(tally.attempted, 1):.4f} (1) "
          f"attempted={tally.attempted} failed={failed}")
    if layers is None:
        values = {"setup_s": setup_s, "pass_s": statistics.median(passes), "held_mb": sum(held.values())}
        units_of = E2E_UNITS
    else:
        values = layers
        units_of = {**LAYER_UNITS, **{f"{n}.wall_s": "s" for n in ALL_ENTRIES}}
    metrics = {k: {"value": values[k], "unit": u} for k, u in units_of.items()}
    for k, m in metrics.items():
        print(f"  {k:<40} {m['value']:>16.4f} {m['unit']}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": tally.attempted,
        "failed": failed,
        "metrics": metrics,
    }))


def traced_pass(spark, runner, order, run_id: str) -> tuple[dict, float]:
    """One pass with spans and counters. Returns its per-layer metrics
    and its wall time, and writes the spans out."""
    from sparkstats import StatusProbe
    from spans import Tracer
    from workloads import NoTrace

    probe = StatusProbe(spark)
    tracer = Tracer(run_id, probe.mark)
    runner.tracer, runner.probe = tracer, probe
    persisted = [probe.persisted_rdds()]
    harvested = [probe.mark()]

    def after_unit(unit):
        (job0, stage0), (job1, stage1) = harvested[-1], probe.mark()
        probe.harvest((job0, job1), (stage0, stage1))
        harvested.append((job1, stage1))
        persisted.append(probe.persisted_rdds())
        units = tracer.children(pass_span)
        if units:
            units[-1].counters["persisted_rdds_before"] = persisted[-2]
            units[-1].counters["persisted_rdds_after"] = persisted[-1]

    runner.after_unit = after_unit
    with tracer.span("pass", "pass") as pass_span:
        runner.run(order, parent=pass_span)
    runner.tracer, runner.probe, runner.after_unit = NoTrace(), None, None
    for s in tracer.spans:
        s.counters = {**probe.counters(s), **s.counters}

    os.makedirs(RUN_DIR, exist_ok=True)
    out = os.path.join(RUN_DIR, f"trace-{run_id}.json")
    tracer.dump(out)
    print(f"spans written to {os.path.relpath(out, ROOT)}")
    print("self time by span kind (s): " + ", ".join(
        f"{k}={v:.3f}" for k, v in tracer.self_times().items()))
    return layer_metrics(tracer, pass_span, persisted[-1]), pass_span.duration


if __name__ == "__main__":
    main()
