"""Run one benchmark workload and print its metrics.

    python3 aqbench/run.py --workload corpus_dedup --seed 1 --seconds 5 --trace 0

Run from the repository root. The run is one closed loop with one client
on ``local[<cores>]``: an op starts when the previous one ends, and each
op is timed from the call into the engine until its output is written.
After the cold start and a warm-up of one whole block, whole
blocks of ops run until ``--seconds`` have passed; then the outputs are
checked against DuckDB oracles and one-shot runs. The last stdout line
is the result JSON; the line before it holds host facts and sample
counts.

``--trace 1`` also runs two traced windows (spans around every public
engine function, Spark's event log, a streaming progress listener) and
a second untraced one to compare them with, and prints the per-layer
metrics.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Timed:
    """One timed window: per-op (kind, start, end) in epoch seconds."""

    def __init__(self) -> None:
        self.ops: list[tuple[int, float, float]] = []
        self.attempted = 0
        self.failed = 0
        self.blocks: list[dict[int, float]] = []  # block position -> latency

    @property
    def latencies(self) -> list[float]:
        return [e - s for _, s, e in self.ops]

    def ops_per_s(self) -> float:
        return len(self.ops) / sum(self.latencies)


def run_blocks(wl, spark, seconds: float, window: Timed, hooks=None) -> None:
    """Run whole blocks until ``seconds`` have passed (at least one)."""
    t0 = time.time()
    while True:
        wl.begin_block(spark)
        lat: dict[int, float] = {}
        for k in range(wl.ops_per_block):
            wl.prepare(k)
            if hooks:
                hooks.before_op()
            window.attempted += 1
            start = time.time()
            try:
                out = wl.op(spark, k)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                window.failed += 1
                continue
            end = time.time()
            if hooks:
                hooks.after_op()
            window.ops.append((k, start, end))
            lat[k] = end - start
            wl.after(spark, k, out)
        window.blocks.append(lat)
        if time.time() - t0 >= seconds:
            return


def _rounded(blocks: list[dict[int, float]]) -> list[list[float]]:
    return [[round(x, 3) for x in b.values()] for b in blocks]


def _session(run_dir: str, trace: bool):
    from asvsp_spark.session import get_session
    conf = {
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # no hsperfdata files under /tmp: the run writes only in its directory
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData",
    }
    if trace:
        os.makedirs(os.path.join(run_dir, "eventlog"))
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.dir": os.path.join(run_dir, "eventlog")})
    return get_session("aqbench", extra_conf=conf)


def _stop(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    args = _args(argv)
    sys.path.insert(0, ROOT)
    from aqbench import host
    from aqbench.tracing import highest_supported_percentile, percentile
    t_proc = host.process_start_epoch() or time.time()

    try:
        # the engine under test, and the oracle tests' canonicaliser
        from aqbench.workloads import WORKLOADS
    except ImportError as exc:
        print(f"cannot import the engine or tests/conftest.py: {exc}",
              file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    run_dir = os.path.join(ROOT, ".aqbench_runs",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    # the engine keeps stores and caches under tempfile.gettempdir(), and
    # a SPARK_LOCAL_DIRS from the environment would override spark.local.dir
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(host.cores())
    spark = None
    phases: dict[str, float] = {}  # wall seconds of each phase of the run
    lap = [t_proc]

    def phase(name: str) -> None:
        now = time.time()
        phases[name] = now - lap[0]
        lap[0] = now

    try:
        phase("start_python")
        wl = WORKLOADS[args.workload](run_dir, args.seed)
        wl.make_fixture()
        phase("fixture")
        spark = _session(run_dir, bool(args.trace))
        phase("session")
        spark.sparkContext.setLogLevel("ERROR")
        wl.start(spark)
        phase("workload_start")
        warm = Timed()
        run_blocks(wl, spark, 0, warm)
        phase("warm_up")
        setup_s = time.time() - t_proc

        wl.timed = True
        ticks0 = host.cpu_ticks()
        timed = Timed()
        run_blocks(wl, spark, args.seconds, timed)
        steal = host.steal_share(ticks0, host.cpu_ticks())
        phase("timed")

        traced = None
        if args.trace:
            from aqbench.layers import LayerTrace
            traced = LayerTrace(spark, wl)
            window, after = Timed(), Timed()
            traced.start()
            # two traced windows (more samples for the layer metrics),
            # then the untraced window they are compared with: block
            # times fall little after the first timed window, which is
            # still on the JIT warm-up slope
            for _ in range(2):
                run_blocks(wl, spark, args.seconds, window, hooks=traced)
            traced.stop()
            run_blocks(wl, spark, args.seconds, after)
            phase("traced")

        failures = wl.check(spark)
        phase("checks")
        rss = host.peak_rss_mb() + host.peak_rss_mb(
            spark.sparkContext._jvm.ProcessHandle.current().pid())
        _stop(spark)
        spark = None
        phase("stop")

        lat = timed.latencies
        attempted = timed.attempted + (
            window.attempted + after.attempted if traced else 0)
        failed = timed.failed + (window.failed + after.failed if traced else 0)
        if traced:
            eventlog = glob.glob(os.path.join(run_dir, "eventlog", "*"))
            metrics = traced.metrics(
                eventlog[0], window, after, session_s=phases["session"], rss_mb=rss)
        else:
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "ops_per_s": {"value": timed.ops_per_s(), "unit": "1/s"},
                "op_p50_s": {"value": percentile(lat, 50), "unit": "s"},
            }
        info = {
            "workload": wl.name, "seed": args.seed, "host": host.facts(),
            "steal_share": steal, "samples": len(lat),
            "tail_percentile_supported": highest_supported_percentile(len(lat)),
            "warm_block_latencies_s": _rounded(warm.blocks),
            "timed_block_latencies_s": _rounded(timed.blocks),
            "phases_s": {k: round(v, 3) for k, v in phases.items()},
            "check_failures": failures,
        }
        if traced:
            info["traced_block_latencies_s"] = _rounded(window.blocks)
            info["after_block_latencies_s"] = _rounded(after.blocks)
        print(json.dumps(info))
        print(json.dumps({"correct": not failures and failed == warm.failed == 0,
                          "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        parent = os.path.dirname(run_dir)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


if __name__ == "__main__":
    sys.exit(main())
