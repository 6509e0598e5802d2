"""Benchmark of the mypipe_spark CDC pipe.

Run from the root of a checkout:

    python3 perfbench/run.py --workload cdc_live --seed 1 --seconds 20 --trace 0

``--workload`` is ``cdc_live`` or ``cdc_catchup`` (see NOTES.md). With
``--trace 0`` the run measures the named workload and prints its
end-to-end metrics; with ``--trace 1`` it runs the layer profile of both
workloads in one session, plus a single-core catch-up baseline, and
prints the per-layer metrics. The metric names and units are the ones
``BENCHMARK.json`` declares. The last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``.

Inputs are generated from ``--seed`` before any clock starts. Every file
the run writes lives in a temporary directory under ``.perfbench_tmp/``
in the checkout, deleted on exit; traced runs leave their spans in
``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass, field

import observe

WORKLOADS = {"cdc_live": "live", "cdc_catchup": "catchup"}  # workload -> phase


def declared_metrics(root: str) -> tuple[dict, dict]:
    """``{name: unit}`` of the end-to-end and of the per-layer metrics
    that ``BENCHMARK.json`` declares."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


@dataclass
class Context:
    seed: int
    seconds: int
    trace: bool
    work: str
    tracer: observe.Tracer
    segments: dict = field(default_factory=dict)  # role -> segments

    def gc(self, spark) -> int:
        """JVM GC time so far; read only when tracing."""
        if not self.trace:
            return 0
        with self.tracer.collecting():
            return observe.jvm_gc_ms(spark)

    def group_jobs(self, spark, group) -> set:
        """Job ids of a job group; read only when tracing."""
        if not self.trace:
            return set()
        with self.tracer.collecting():
            return observe.group_jobs(spark, group)


def start_session(work: str):
    from mypipe_spark.session import get_spark

    spark = get_spark("perfbench", extra_conf={
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stops the session and the JVM behind it, and waits for the JVM
    and the Python workers it started to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        workers = observe.descendants(proc.pid)  # the JVM's Python workers
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        # once the JVM is gone its workers are no longer our descendants,
        # so a straggler is ended here, not by the sweep in main
        observe.stop_all(observe.wait_gone(workers, timeout_s=30))
    SparkContext._gateway = SparkContext._jvm = None


def stop_children() -> None:
    """Ends every process this run started and still runs: the
    multiprocessing resource tracker, which the spawned pools start and
    which would otherwise outlive the run, then any other descendant."""
    from multiprocessing import resource_tracker

    # the tracker exits when its pipe closes; _stop closes it and waits
    resource_tracker._resource_tracker._stop()
    observe.stop_all(observe.descendants(os.getpid()))


def make_inputs(ctx: Context, phases: tuple[str, ...], cpus: int) -> dict:
    """Every segment the program will read, built before the set-up
    clock. Returns facts for the detail line."""
    import cdc
    import loadgen

    loadgen.check_canary()
    specs = cdc.plan(ctx.seconds, phases, traced=ctx.trace)
    flat = [s for role in specs.values() for s in role]
    segs = iter(loadgen.make_segments(ctx.seed, flat, f"{ctx.work}/stage", cpus))
    ctx.segments = {role: [next(segs) for _ in role_specs] for role, role_specs in specs.items()}
    all_segs = [s for role in ctx.segments.values() for s in role]
    return {"segments": len(all_segs), "events": sum(s.events for s in all_segs),
            "content_sha256": loadgen.combined_sha256(all_segs)}


def measure(args, root: str, work: str, cpus: int) -> dict:
    import cdc

    end_to_end, per_layer = declared_metrics(root)
    tracer = observe.Tracer(bool(args.trace))
    ctx = Context(args.seed, args.seconds, bool(args.trace), work, tracer)
    phases = cdc.PHASES if ctx.trace else (WORKLOADS[args.workload],)
    t_gen = time.time()
    detail = make_inputs(ctx, phases, cpus)
    detail["generate_s"] = time.time() - t_gen

    # peak RSS is a per-layer figure (see NOTES.md), so only traced runs
    # sample it
    rss = observe.RssSampler() if ctx.trace else None
    if rss:
        rss.start()
    setup_start, ticks = time.time(), observe.cpu_ticks()
    with tracer.span("session.get_spark", "setup", "setup"):
        spark = start_session(work)
    session_s = time.time() - setup_start
    try:
        raw = cdc.run(ctx, spark, setup_start, phases)
        t_check, steal = time.time(), observe.steal_share(ticks, observe.cpu_ticks())
        metrics, more, attempted, failed = cdc.summarize(ctx, spark, raw)
        detail.update(more, run_s=t_check - setup_start, check_s=time.time() - t_check,
                      host_steal_share=steal)
    finally:
        peak_mb = rss.stop() if rss else None
        stop_session(spark)
    if ctx.trace:
        metrics["harness.peak_rss_mb"] = peak_mb
        metrics["session.start_s"] = session_s
        metrics["harness.trace_overhead_ms"] = tracer.overhead_s * 1000
        one = cdc.single_core(ctx)
        metrics["harness.single_core_throughput_per_s"] = one
        metrics["harness.single_core_speedup"] = metrics["cdc_catchup.throughput_per_s"] / one
        tracer.write(f"{root}/.perfbench_out/trace-{args.workload}-{args.seed}.json")
        declared = per_layer
    else:
        metrics = {k.removeprefix(f"{args.workload}."): v for k, v in metrics.items()}
        declared = end_to_end
    missing = declared.keys() - metrics.keys()
    if missing:
        raise RuntimeError(f"declared metrics not measured: {sorted(missing)}")
    print("perfbench detail: " + json.dumps(detail), file=sys.stderr)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in declared.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "mypipe_spark", "__init__.py")):
        print("perfbench: run it from the root of a checkout that holds mypipe_spark/",
              file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    tmp_root = os.path.join(root, ".perfbench_tmp")
    os.makedirs(tmp_root, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=tmp_root)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub))
    # pinned before pyspark or the library is imported: the session
    # default is local[32], 8x oversubscribed on a 4-core host
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_LOCAL_DIRS=f"{work}/local",
        TMPDIR=f"{work}/tmp",
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
    )
    tempfile.tempdir = None  # re-read TMPDIR
    # a terminated run still deletes its temporary directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, root)
    try:
        result = measure(args, root, work, cpus)
    finally:
        stop_children()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(tmp_root)
        except OSError:  # another run still uses it
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
