"""Per-layer metrics of a traced window.

Three sources, all read from outside the engine: spans around every
public ``asvsp_spark`` function (``tracing.Tracer``), Spark's event log
(``eventlog``), and a ``StreamingQueryListener`` that keeps each
micro-batch's progress (``durationMs`` phases, state-store size). Spark
jobs belong to the op whose interval holds their submission time and to
the layer of the innermost span open at that time. Every ``_s`` metric
and count is per timed op, except ``session.*`` (once per run) and
``spark.tasks_failed`` (a total).
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import statistics
import time

from pyspark.sql.streaming import StreamingQueryListener

from aqbench import eventlog
from aqbench.tracing import Tracer, union_length

MB = 1024.0 * 1024.0

# name -> (unit, which direction is better); BENCHMARK.json lists the same
PER_LAYER = {
    "session.start_s": ("s", "lower"), "session.peak_rss_mb": ("MB", "lower"),
    "tables.load_s": ("s", "lower"), "tables.load_calls": ("count", "lower"),
    "plans.build_s": ("s", "lower"), "plans.build_jobs": ("count", "lower"),
    "spark.jobs_per_op": ("count", "lower"),
    "spark.stages_per_op": ("count", "lower"),
    "spark.tasks_per_op": ("count", "lower"),
    "spark.outside_jobs_s": ("s", "lower"),
    "spark.executor_run_s": ("s", "lower"),
    "spark.executor_cpu_s": ("s", "lower"),
    "spark.cpu_per_run": ("ratio", "higher"),
    "spark.deser_s": ("s", "lower"), "spark.gc_s": ("s", "lower"),
    "spark.shuffle_write_mb": ("MB", "lower"),
    "spark.shuffle_read_mb": ("MB", "lower"),
    "spark.spill_mb": ("MB", "lower"), "spark.input_rows": ("count", "lower"),
    "spark.tasks_failed": ("count", "lower"),
    "operators.rollups_s": ("s", "lower"),
    "operators.components_s": ("s", "lower"),
    "operators.components_jobs": ("count", "lower"),
    "operators.incremental_s": ("s", "lower"),
    "operators.fresh_ratio": ("ratio", "higher"),
    "sources.write_s": ("s", "lower"), "sources.files_written": ("count", "lower"),
    "sources.bytes_written_mb": ("MB", "lower"),
    "pipeline.batch_chain_s": ("s", "lower"),
    "streaming.drain_s": ("s", "lower"),
    "streaming.batches_per_drain": ("count", "lower"),
    "streaming.trigger_s": ("s", "lower"), "streaming.add_batch_s": ("s", "lower"),
    "streaming.planning_s": ("s", "lower"),
    "streaming.latest_offset_s": ("s", "lower"),
    "streaming.wal_commit_s": ("s", "lower"),
    "streaming.outside_batches_s": ("s", "lower"),
    "streaming.state_rows": ("count", "lower"),
    "streaming.state_mb": ("MB", "lower"),
    "streaming.delta_growth": ("ratio", "lower"),
    "trace.overhead_frac": ("ratio", "higher"),
}

_PHASES = {"streaming.trigger_s": "triggerExecution",
           "streaming.add_batch_s": "addBatch",
           "streaming.planning_s": "queryPlanning",
           "streaming.latest_offset_s": "latestOffset",
           "streaming.wal_commit_s": "walCommit"}


class ProgressLog(StreamingQueryListener):
    """Keeps every micro-batch progress event as parsed JSON."""

    def __init__(self) -> None:
        self.events: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.events.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def parquet_files(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                st = os.stat(os.path.join(d, f))
                out[os.path.join(d, f)] = (st.st_size, st.st_mtime_ns)
    return out


def _epoch(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class LayerTrace:
    """Hooks for ``run.run_blocks`` plus the metric computation."""

    def __init__(self, spark, workload) -> None:
        self.spark = spark
        self.wl = workload
        self.tracer = Tracer()
        self.progress = ProgressLog()
        self.written: list[tuple[int, int]] = []  # per op: files, bytes

    def start(self) -> None:
        self._funnel0 = len(self.wl.funnel)
        self.spark.streams.addListener(self.progress)
        self.tracer.install()

    def before_op(self) -> None:
        self._files = parquet_files(self.wl.block_dir)

    def after_op(self) -> None:
        now = parquet_files(self.wl.block_dir)
        new = [v for p, v in now.items() if self._files.get(p) != v]
        self.written.append((len(new), sum(size for size, _ in new)))

    def stop(self) -> None:
        self.tracer.uninstall()
        # the listener bus is asynchronous: wait until it has gone quiet
        seen, t0 = -1, time.time()
        quiet_since = t0
        while time.time() - quiet_since < 1.0 and time.time() - t0 < 10:
            if len(self.progress.events) != seen:
                seen, quiet_since = len(self.progress.events), time.time()
            time.sleep(0.1)
        self.spark.streams.removeListener(self.progress)

    def metrics(self, eventlog_path: str, window, untraced, *,
                session_s: float, rss_mb: float) -> dict:
        ops = window.ops
        n = len(ops)
        log = eventlog.read(eventlog_path)
        tr = self.tracer
        selft = tr.self_times()

        def in_ops(t: float) -> bool:
            return any(s <= t <= e for _, s, e in ops)

        spans = [s for s in tr.spans if in_ops(s.start)]
        layer_s: dict[str, float] = {}
        for s in spans:
            layer_s[s.layer] = layer_s.get(s.layer, 0.0) + selft[s.sid]

        jobs = [j for j in log.jobs.values() if in_ops(j.submit)]
        job_layer = {j.job_id: getattr(tr.innermost(j.submit), "layer", None)
                     for j in jobs}
        sums = [log.job_sums(j) for j in jobs]

        def total(f: str) -> float:
            return sum(getattr(x, f) for x in sums)

        outside = []
        for _, s, e in ops:
            iv = [(max(j.submit, s), min(j.end, e)) for j in jobs
                  if s <= j.submit <= e and not math.isnan(j.end)]
            outside.append((e - s) - union_length(iv))

        prog = [p for p in self.progress.events if in_ops(_epoch(p["timestamp"]))]
        trigger = sum(p["durationMs"].get("triggerExecution", 0) for p in prog) / 1e3
        stream_top = [s for s in spans if s.layer == "streaming"
                      and (s.parent is None
                           or tr.spans[s.parent].layer != "streaming")]
        drains = len({p["runId"] for p in prog})
        state_rows = [sum(o.get("numRowsTotal", 0) for o in p.get("stateOperators", []))
                      for p in prog]
        state_mb = [sum(o.get("memoryUsedBytes", 0) for o in p.get("stateOperators", []))
                    / MB for p in prog]
        counts = self.wl.funnel[self._funnel0:]
        batch = sum(c["batch"] for c in counts)

        def per_op(x: float) -> float:
            return x / n

        m = {
            "session.start_s": session_s,
            "session.peak_rss_mb": rss_mb,
            "tables.load_s": per_op(layer_s.get("tables", 0.0)),
            "tables.load_calls": per_op(sum(1 for s in spans if s.layer == "tables"
                                            and s.name == "load")),
            "plans.build_s": per_op(layer_s.get("plans", 0.0)),
            "plans.build_jobs": per_op(sum(1 for j in jobs
                                           if job_layer[j.job_id] == "plans")),
            "spark.jobs_per_op": per_op(len(jobs)),
            "spark.stages_per_op": per_op(sum(log.stages_run(j) for j in jobs)),
            "spark.tasks_per_op": per_op(total("tasks")),
            "spark.outside_jobs_s": statistics.fmean(outside),
            "spark.executor_run_s": per_op(total("run_s")),
            "spark.executor_cpu_s": per_op(total("cpu_s")),
            "spark.cpu_per_run": total("cpu_s") / total("run_s") if total("run_s") else 0.0,
            "spark.deser_s": per_op(total("deser_s")),
            "spark.gc_s": per_op(total("gc_s")),
            "spark.shuffle_write_mb": per_op(total("shuffle_write_b") / MB),
            "spark.shuffle_read_mb": per_op(total("shuffle_read_b") / MB),
            "spark.spill_mb": per_op(total("spill_b") / MB),
            "spark.input_rows": per_op(total("input_rows")),
            "spark.tasks_failed": total("tasks_failed"),
            "operators.rollups_s": per_op(layer_s.get("operators.rollups", 0.0)),
            "operators.components_s": per_op(layer_s.get("operators.components", 0.0)),
            "operators.components_jobs": per_op(
                sum(1 for j in jobs if job_layer[j.job_id] == "operators.components")),
            "operators.incremental_s": per_op(layer_s.get("operators.incremental", 0.0)),
            "operators.fresh_ratio": sum(c["fresh"] for c in counts) / batch if batch else 0.0,
            "sources.write_s": per_op(layer_s.get("sources", 0.0)),
            "sources.files_written": per_op(sum(f for f, _ in self.written)),
            "sources.bytes_written_mb": per_op(sum(b for _, b in self.written) / MB),
            "pipeline.batch_chain_s": per_op(layer_s.get("pipeline", 0.0)),
            "streaming.drain_s": per_op(layer_s.get("streaming", 0.0)),
            "streaming.batches_per_drain": len(prog) / drains if drains else 0.0,
            "streaming.outside_batches_s": per_op(
                sum(s.end - s.start for s in stream_top) - trigger) if prog else 0.0,
            "streaming.state_rows": statistics.fmean(state_rows) if prog else 0.0,
            "streaming.state_mb": statistics.fmean(state_mb) if prog else 0.0,
            "streaming.delta_growth": self._growth(window),
            "trace.overhead_frac": window.ops_per_s() / untraced.ops_per_s(),
        }
        for name, phase in _PHASES.items():
            m[name] = per_op(sum(p["durationMs"].get(phase, 0) for p in prog) / 1e3)
        return {k: {"value": float(m[k]), "unit": u} for k, (u, _) in PER_LAYER.items()}

    def _growth(self, window) -> float:
        """Median over blocks of the last delta op's latency over the first
        one's; 1.0 for a workload without deltas."""
        first, last = self.wl.delta_ops[0], self.wl.delta_ops[-1]
        ratios = []
        for lat in window.blocks:
            if first in lat and last in lat:
                ratios.append(lat[last] / lat[first])
        return statistics.median(ratios) if ratios else 1.0
