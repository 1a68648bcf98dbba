"""Link-graph engine benchmark: one seeded workload per run.

    python3 perfbench/run.py --workload transcript_jobs --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The run generates its inputs from
``--seed``, sets up one Spark driver on ``local[4]`` (one closed-loop client:
each call starts when the previous one has returned), runs one cold pass and
then warm passes until ``--seconds`` have passed, checks every output
against its oracle, and prints one JSON line last on stdout:

- ``--trace 0``: the end-to-end metrics (``setup_s``, ``cold_pass_s``,
  ``pass_s``);
- ``--trace 1``: the per-layer metrics, harvested per span from Spark's
  status store, and the spans themselves in
  ``.perfbench-out/trace-<workload>-s<seed>.json``.

The exit code is non-zero when an oracle check fails or an engine call
raises. Every file the run writes lives under the checkout; its scratch
directory is removed at exit.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.trace import (ProcessTree, Tracer, host_ticks, process_age, since_boot,  # noqa: E402
                             steal_share, unstolen)

# Pinned engine settings: four cores, one shuffle partition per core, and a
# driver heap that fits a 15 GiB host.
PINNED_ENV = {
    "SPARK_GRAFT_CPUS": "4",
    "SPARK_GRAFT_SHUFFLE_PARTITIONS": "4",
    "SPARK_DRIVER_MEMORY": "2g",
}
MIN_WARM_PASSES = 1


def parse_args(argv=None) -> argparse.Namespace:
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True, help="measured time after set-up")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_environment(work: str) -> None:
    """Settings that must precede the JVM launch: pinned engine sizes, the
    checkout on every Python worker's import path, and all scratch space
    (Spark local dir, temp files) inside the run's work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(PINNED_ENV)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp


def set_up(wl, work: str, local_dir: str):
    """Start the session, spawn the Python UDF workers (one Arrow task per
    core) and read the workload's inputs → (spark, session start seconds)."""
    from elektra_spark.session import get_spark

    # SPARK_LOCAL_DIRS, when set, overrides the session's spark.local.dir
    os.environ["SPARK_LOCAL_DIR_OVERRIDE"] = os.environ["SPARK_LOCAL_DIRS"] = local_dir
    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf={
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    session_start_s = time.perf_counter() - t0
    n = spark.sparkContext.defaultParallelism
    spark.range(n, numPartitions=n).mapInArrow(lambda batches: batches, "id long") \
        .write.format("noop").mode("overwrite").save()
    wl.load(spark)
    return spark, session_start_s


def stop_session(spark) -> None:
    """Stop Spark, then close the JVM's stdin (its signal to exit) and wait
    for it; the Python daemon and workers are stopped with the context."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def measure(wl, tracer: Tracer, seconds: float) -> list[dict]:
    """Cold pass, then warm passes for ``seconds`` and at least
    ``MIN_WARM_PASSES`` → the pass spans, cold first."""
    local_dir = os.environ["SPARK_LOCAL_DIR_OVERRIDE"]
    t0 = None
    while True:
        pid = f"p{len(wl.pass_ids)}"
        gc0 = tracer.jvm()[0] if tracer.enabled else 0.0
        wl.run_pass(pid)
        wl.pass_ids.append(pid)
        span = tracer.pass_span(pid)
        print(f"perfbench: pass {pid} {span['end'] - span['start']:.2f} s, "
              f"steal {span['steal_share']:.3f}", file=sys.stderr)
        if tracer.enabled:
            wl.after_pass(local_dir, gc0)
        warm = len(wl.pass_ids) - 1
        if warm == 0:
            t0 = time.perf_counter()
        elif warm >= MIN_WARM_PASSES and time.perf_counter() - t0 >= seconds:
            return [tracer.pass_span(p) for p in wl.pass_ids]


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def end_to_end(setup_s: float, setup_steal: float, passes: list[dict]) -> dict:
    """Wall-clock seconds less what the host's steal cost (``unstolen``)."""
    wall = [unstolen(p["end"] - p["start"], p["steal_share"]) for p in passes]
    return {
        "setup_s": metric(unstolen(setup_s, setup_steal), "s"),
        "cold_pass_s": metric(wall[0], "s"),
        "pass_s": metric(statistics.median(wall[1:]), "s"),
    }


def per_layer(wl, tracer: Tracer, session_start_s: float, passes: list[dict]) -> dict:
    from perfbench.workloads import med

    durations = [p["end"] - p["start"] for p in passes]
    warm = wl.warm()
    overhead = [tracer.overhead_s.get(pid, 0.0) for pid in warm]
    coverage = [sum(s["end"] - s["start"] for s in tracer.ops(pid)) / (d - o)
                for pid, d, o in zip(warm, durations[1:], overhead)]
    values = {
        "session.start_s": session_start_s,
        "session.peak_rss_mb": tracer.tree.peak_bytes / 2**20,
        **wl.common_layers(),
        **wl.layers(),
        "ops.failed_ratio": tracer.failed / max(1, tracer.attempted),
        "trace.cold_pass_s": durations[0],
        "trace.pass_s": med(durations[1:]),
        "trace.pass_cpu_s": med(p["cpu_s"] for p in passes[1:]),
        "trace.overhead_s": med(overhead),
        "trace.overhead_ratio": med(o / d for o, d in zip(overhead, durations[1:])),
        "trace.span_coverage": min(coverage),
        "host.steal_share": med(p["steal_share"] for p in passes[1:]),
    }
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer"]
    undeclared = set(values) - {m["name"] for m in spec}
    if undeclared:
        raise KeyError(f"per-layer readings missing from BENCHMARK.json: {sorted(undeclared)}")
    return {m["name"]: metric(float(values.get(m["name"], 0.0)), m["unit"]) for m in spec}


def main(argv=None) -> int:
    start_ticks = host_ticks()
    if importlib.util.find_spec("elektra_spark") is None:
        print("perfbench: the engine package elektra_spark is not in this checkout", file=sys.stderr)
        return 2
    import elektra_spark.session  # noqa: F401  (the engine's imports are part of set-up)

    # the benchmark's own imports, input generation and the oracles'
    # answers are not part of set-up
    setup_ticks = [(start_ticks, host_ticks())]
    excluded = since_boot()
    args = parse_args(argv)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # so the cleanup below runs
    from perfbench.workloads import WORKLOADS

    work = os.path.join(ROOT, ".perfbench-work", str(os.getpid()))
    tracer = Tracer(enabled=bool(args.trace), tree=ProcessTree())
    spark = None
    result = {"correct": False, "attempted": 0, "failed": 0, "metrics": {}}
    try:
        wl = WORKLOADS[args.workload](args.seed, work, tracer)
        sizes = wl.prepare()
        excluded = since_boot() - excluded
        resumed = host_ticks()
        print(f"perfbench: {args.workload} seed {args.seed} inputs {json.dumps(sizes)}", file=sys.stderr)
        pin_environment(work)
        spark, session_start_s = set_up(wl, work, os.path.join(work, "spark-local"))
        setup_s = process_age() - excluded
        setup_steal = steal_share(setup_ticks + [(resumed, host_ticks())])
        print(f"perfbench: set-up {setup_s:.2f} s, steal {setup_steal:.3f}", file=sys.stderr)

        tracer.attach(spark)
        passes = measure(wl, tracer, args.seconds)
        if args.trace and hasattr(wl, "after_measure"):
            wl.after_measure()

        if args.trace:
            result["metrics"] = per_layer(wl, tracer, session_start_s, passes)
            check_trace(wl, tracer, result["metrics"])
            write_trace(args, tracer, sizes)
        else:
            result["metrics"] = end_to_end(setup_s, setup_steal, passes)
        result["correct"] = True
    except Exception as e:  # an oracle mismatch or a failed engine call
        from perfbench.oracles import Mismatch

        if isinstance(e, Mismatch):
            print(f"perfbench: oracle mismatch: {e}", file=sys.stderr)
        else:
            traceback.print_exc()
    finally:
        result["attempted"] = max(1, tracer.attempted)
        result["failed"] = tracer.failed
        tracer.tree.stop()
        try:
            if spark is not None:
                stop_session(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:
                pass
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def check_trace(wl, tracer: Tracer, metrics: dict) -> None:
    """The layer predictions the traced run must bear out."""
    from perfbench.oracles import check

    names = {s["name"] for s in tracer.spans}
    coverage = metrics["trace.span_coverage"]["value"]
    check(coverage >= 0.95, f"operator spans cover only {coverage:.3f} of the warm passes")
    if wl.name == "rmat_wedges":
        check(metrics["checkpoint.commits"]["value"] == 0, "rmat_wedges made checkpoint commits")
        check(not any(n.startswith("ingest.") for n in names), "rmat_wedges ran ingest")
    if wl.name == "transcript_jobs":
        check(not names & {"triangles", "linkpred"}, "transcript_jobs ran wedge joins")


def write_trace(args, tracer: Tracer, sizes: dict) -> None:
    out = os.path.join(ROOT, ".perfbench-out")
    os.makedirs(out, exist_ok=True)
    t0 = min(s["start"] for s in tracer.spans)
    spans = [{**s, "start": s["start"] - t0, "end": s["end"] - t0} for s in tracer.spans]
    with open(os.path.join(out, f"trace-{args.workload}-s{args.seed}.json"), "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed, "inputs": sizes, "spans": spans,
                   "tracer_overhead_s": tracer.overhead_s}, f, indent=1)


if __name__ == "__main__":
    sys.exit(main())
