"""Benchmark of the validation engine: one workload per invocation.

    python3 perfbench/run.py --workload run_drift --seed 42 --seconds 10 --trace 0

Run from the repository root (any working directory works; paths are
resolved from this file). Workloads are listed in ``workloads.py`` and
described in ``perfbench/README.md``.

With ``--trace 0`` the timed operation runs untraced, back to back, for
``--seconds`` seconds (at least once), and the end-to-end metrics of
BENCHMARK.json are reported. Each operation here takes far longer than
the one second BENCHMARK.json asks for, so a run times exactly one
operation: the first in a fresh JVM, as a spark-submit job pays it.
With ``--trace 1`` one operation warms the JVM; then a quarter of
``--seconds`` runs untraced, half traced and a quarter untraced again
(at least one operation each), each layer is forced on its own, and the
per-layer metrics are reported, including the tracing overhead: the
traced wall minus the mean of the untraced walls before and after it,
so a trend in the walls cancels.

The last line of stdout is one JSON object: correct, attempted, failed
and metrics. The line before it holds the samples, quartiles, host
context and any problems found. Every file goes under
``.perfbench_work/`` at the repository root and is removed on exit.
"""

from __future__ import annotations

import argparse
import contextlib
import ctypes
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

PR_SET_CHILD_SUBREAPER = 36  # <linux/prctl.h>
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# input docs per workload: small enough that 22 runs of each fit the
# driver's time budget on a 4-core host; fixed per-job costs dominate
# every operation at these sizes (see README.md)
DOCS = {"run_drift": 16_000, "corpus_pipeline": 1_000}


def _environment(work: str) -> int:
    """Set before the JVM starts, so it and its Python workers inherit it."""
    cpus = len(os.sched_getaffinity(0))
    # bench.py reads this on import and pins the process tree to it
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # Python workers import the package and __spark_entry__ from the root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    # no hsperfdata files outside the checkout, for the launcher JVM too
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    sys.path.insert(0, ROOT)
    return cpus


def _session(work: str, cpus: int):
    import bench
    from schema_drift_detector_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 32),
        extra_conf={
            **bench.BENCH_CONF,
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()  # the first job pays one-off JVM class loading
    return spark


def _subreaper() -> None:
    """Make this process the child subreaper of its process tree: a
    descendant orphaned by its parent (the PySpark daemon and workers once
    the JVM exits) becomes a child of this process, so ``_reap`` can wait
    for it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at end of its stdin
        proc.wait(timeout=60)


def _reap(grace_s: float = 10) -> None:
    """Wait until every child of this process has ended, killing those
    still running after ``grace_s`` seconds. With ``_subreaper`` in
    effect that covers every process the run started."""
    from multiprocessing import resource_tracker

    from ledger import children

    # started by host_probe's process pool; it exits once its pipe closes
    resource_tracker._resource_tracker._stop()
    deadline = time.monotonic() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return  # no children left
        if pid:
            continue
        if time.monotonic() > deadline:
            for child in children(os.getpid()):
                with contextlib.suppress(ProcessLookupError):
                    os.kill(child, signal.SIGKILL)
        time.sleep(0.05)


def _reps(wl, ledger, seconds: float, first: int, traced: bool, jvm_pid: int) -> list[dict]:
    """A closed loop with one client: the operation runs back to back
    until ``seconds`` have passed, at least once."""
    import bench
    from ledger import RssSampler
    from spans import Tracer

    reps: list[dict] = []
    deadline = time.perf_counter() + seconds
    while not reps or time.perf_counter() < deadline:
        i = first + len(reps)
        tracer = Tracer() if traced else None
        wl.before(i)
        mark = ledger.mark()

        def op():
            with contextlib.ExitStack() as stack:
                rss = stack.enter_context(RssSampler(jvm_pid)) if traced else None
                if traced:
                    stack.enter_context(tracer.patched(wl.targets))
                t0 = time.perf_counter()
                try:
                    return wl.run(i), time.perf_counter() - t0, None, rss
                except Exception:
                    return None, time.perf_counter() - t0, traceback.format_exc(), rss

        (state, wall, error, rss), steal = bench.steal_bracket(op)
        rep = {"s": wall, "steal_pct": steal["steal_pct_of_capacity"], "spark": ledger.since(mark)}
        # a check that raises, as a wrong output may make it, fails the
        # operation like one that finds a mismatch
        try:
            if error is not None:
                rep["problems"] = [error]
            else:
                rep["problems"] = wl.check(i, state)
                rep["output_mb"] = wl.output_mb(i)
                if traced:
                    rep["layers"] = wl.span_metrics(tracer, state, wall)
        except Exception:
            rep["problems"] = [traceback.format_exc()]
        if rss is not None:
            rep["jvm_peak_rss_mb"] = rss.jvm_peak_mb
            rep["py_worker_peak_rss_mb"] = rss.py_worker_peak_mb
        wl.after(i)
        del state
        reps.append(rep)
    return reps


def _probes(wl, ledger, jvm_pid: int) -> dict[str, float]:
    """Each layer's output forced on its own, serially."""
    from ledger import RssSampler
    from workloads import force

    out: dict[str, float] = {}
    for name, make in wl.probes().items():
        mark = ledger.mark()
        with RssSampler(jvm_pid) as rss:
            t0 = time.perf_counter()
            for df in make():
                force(df)
            out[f"{name}.s"] = time.perf_counter() - t0
        out[f"{name}.shuffle_write_mb"] = ledger.since(mark)["shuffle_write_mb"]
        if name == "profile.tdigest_profiles":
            out[f"{name}.py_worker_peak_rss_mb"] = rss.py_worker_peak_mb
        wl.spark.catalog.clearCache()  # operators may cache; keep probes independent
    return out


def _median(reps: list[dict], get) -> float:
    return statistics.median(get(r) for r in reps)


def _layers(wl, untraced, traced, probes, cpus, host) -> dict[str, float]:
    """untraced: the untraced reps run before and after the traced ones."""
    wall = lambda r: r["s"]  # noqa: E731
    ok = [r for r in traced if "layers" in r] or traced
    spark = lambda k: _median(ok, lambda r: r["spark"][k])  # noqa: E731
    out = {
        "spark.jobs": spark("jobs"),
        "spark.tasks": spark("tasks"),
        "spark.task_s": spark("task_s"),
        "spark.idle_core_s": _median(ok, lambda r: cpus * r["s"] - r["spark"]["task_s"]),
        "spark.gc_s": spark("gc_s"),
        "spark.spill_mb": spark("spill_mb"),
        "spark.jvm_peak_rss_mb": _median(ok, lambda r: r.get("jvm_peak_rss_mb", 0.0)),
        "spark.py_worker_peak_rss_mb": _median(ok, lambda r: r.get("py_worker_peak_rss_mb", 0.0)),
        "sources.rows_read_per_doc": spark("input_records") / wl.docs,
        "run.output_mb": _median(ok, lambda r: r.get("output_mb", 0.0)),
        "trace.overhead_s": _median(traced, wall)
        - statistics.mean(_median(u, wall) for u in untraced),
        "host.steal_pct": _median([*untraced[0], *traced, *untraced[1]], lambda r: r["steal_pct"]),
        "host.effective_cores": host["effective_cores"],
        **probes,
    }
    names = {k for r in ok for k in r.get("layers", {})}
    for k in names:
        out[k] = _median([r for r in ok if "layers" in r], lambda r: r["layers"][k])
    if out.get("run.batches"):
        out["run.jobs_per_batch"] = out["spark.jobs"] / out["run.batches"]
    return out


def _metrics(spec: list[dict], values: dict[str, float]) -> dict:
    """Every metric named in BENCHMARK.json, in its order, with its unit;
    a layer the workload does not exercise reports 0."""
    unknown = set(values) - {m["name"] for m in spec}
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    return {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]} for m in spec}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(DOCS))
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(f"{work}/tmp")
    _subreaper()
    try:
        cpus = _environment(work)
        import bench
        import truth
        from ledger import SparkLedger, summarize, timed
        from workloads import WORKLOADS

        phases = {"start": time.perf_counter()}
        host = bench.host_probe() if args.trace else None  # before the JVM exists
        phases["host_probe"] = time.perf_counter()
        spark, session_s = timed(lambda: _session(work, cpus))
        phases["session"] = time.perf_counter()
        try:
            ledger = SparkLedger(spark)
            jvm_pid = spark._jvm.ProcessHandle.current().pid()
            wl = WORKLOADS[args.workload](spark, args.seed, DOCS[args.workload])
            truth.preload()  # one-off imports stay out of setup_s
            # one set-up per run: statistics come from runs with other seeds
            _, setup_s = timed(lambda: wl.setup(f"{work}/setup"))
            phases["setup"] = time.perf_counter()
            if args.trace:
                # the first rep in a JVM pays one-off costs (class loading,
                # code generation, Python worker start-up); compare traced
                # and untraced reps after it. Walls still fall rep by rep
                # after it, so untraced reps run both before and after the
                # traced ones and the overhead compares against their mean
                warm = _reps(wl, ledger, 0, 0, False, jvm_pid)
                quarter = args.seconds / 4
                before = _reps(wl, ledger, quarter, 1, False, jvm_pid)
                traced = _reps(wl, ledger, 2 * quarter, 1 + len(before), True, jvm_pid)
                after = _reps(wl, ledger, quarter, 1 + len(before) + len(traced), False, jvm_pid)
                untraced = (before, after)
                reps = warm + before + traced + after
                phases["reps"] = time.perf_counter()
                probes = _probes(wl, ledger, jvm_pid)
                phases["probes"] = time.perf_counter()
            else:
                reps = _reps(wl, ledger, args.seconds, 0, False, jvm_pid)
                phases["reps"] = time.perf_counter()
        finally:
            _stop(spark)
        phases["stop"] = time.perf_counter()
        attempted = len(reps)
        failed = sum(1 for r in reps if r["problems"])
        problems = [p for r in reps for p in r["problems"]]
        walls = [r["s"] for r in reps]
        if args.trace:
            values = _layers(wl, untraced, traced, probes, cpus, host)
            values["spark.session_start_s"] = session_s
            metrics = _metrics(spec["per_layer"], values)
        else:
            metrics = _metrics(
                spec["end_to_end"],
                {
                    "docs_per_s": wl.docs / statistics.median(walls),
                    "setup_s": setup_s,
                    "input_mb": _median(reps, lambda r: r["spark"]["input_mb"]),
                    "shuffle_write_mb": _median(reps, lambda r: r["spark"]["shuffle_write_mb"]),
                },
            )
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "cpus": cpus,
            "pinned": bench.PINNED,
            "docs": wl.docs,
            "session_start_s": session_s,
            "setup_s": setup_s,
            "op_s": summarize(walls),
            "reps": [{k: v for k, v in r.items() if k != "problems"} for r in reps],
            "host_probe": host,
            # seconds spent in each phase of this run, in order
            "phases_s": {
                k: b - a for (_, a), (k, b) in zip(phases.items(), list(phases.items())[1:])
            },
            "problems": problems,
        }
    finally:
        _reap()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only when no other run is using it
    print(json.dumps({"detail": detail}))
    print(
        json.dumps(
            {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
