"""The benchmark's workloads.

Each workload writes its seeded fixture, then runs its ops in blocks: a
block is a fixed sequence of ops, and engine state that grows with
history (stream checkpoints, sinks, dedup stores) is started fresh at
every block boundary, outside the timed ops, so every block times the
same amount of history. Timing covers whole blocks only, so each run
holds the same mix of op kinds and history positions. The checks read
the outputs of the warm-up and of the last timed block.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

from aqbench import checks, fixture


def to_noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _oracle(name: str) -> str:
    from asvsp_spark.plans.registry import all_oracle_sql
    return all_oracle_sql()[name]


def _registry(name: str):
    # looked up per call, so a traced run sees the traced registry entry
    from asvsp_spark.plans.registry import all_queries
    return all_queries()[name]


class Workload:
    name = ""
    why = ""
    ops_per_block = 2
    # block positions of the ops that take a new delta on growing state;
    # streaming.delta_growth compares the last one with the first
    delta_ops: tuple[int, ...] = (0,)

    def __init__(self, root: str, seed: int) -> None:
        self.seed = seed
        self.fixture_dir = os.path.join(root, "fixture")
        self.work = os.path.join(root, "work")
        self.timed = False  # set once the warm-up is done
        self.blocks = 0
        self.block_dir = ""
        self.funnel: list[dict] = []  # incremental dedup counts, every op

    def make_fixture(self) -> None:
        raise NotImplementedError

    def start(self, spark) -> None:
        """Set-up after the session exists, before the warm-up."""

    def begin_block(self, spark) -> None:
        if self.block_dir:
            shutil.rmtree(self.block_dir)
        self.block_dir = os.path.join(self.work, f"block{self.blocks}")
        os.makedirs(self.block_dir)
        self.blocks += 1

    def prepare(self, k: int) -> None:
        """Untimed input for op ``k`` of the block (a producer's output)."""

    def op(self, spark, k: int):
        """Timed: op ``k`` of the block, until its output is written."""
        raise NotImplementedError

    def after(self, spark, k: int, out) -> None:
        """Untimed: keep what the checks need from op ``k``."""

    def check(self, spark) -> list[str]:
        """One line per failed output check."""
        raise NotImplementedError


class WarehouseHourly(Workload):
    """One simulated day of the paper's two pipelines. A block: the nightly
    batch chain (events -> daily -> monthly plus baselines, written as
    partitioned parquet into a fresh directory and read back), then one
    replayed hourly consumer run per hour slice on a fresh checkpoint: the
    incremental hourly drain, then ``sq1_vs_baseline`` with ``stream=``
    reading that slice (the stream-static baseline join)."""
    name = "warehouse_hourly"
    why = ("nightly batch chain over 3M events spanning 30 months, then two "
           "hourly consumer runs on 140-event slices, where the drain floor is the cost")
    history_rows = 3_000_000
    base_rows = 20_000
    slice_rows = 140
    hours = 2
    ops_per_block = 1 + hours
    delta_ops = tuple(range(1, 1 + hours))

    def make_fixture(self) -> None:
        self.start_ts = dt.datetime(2024, 1, 1)
        # the chain's history, and the month whose baselines the hourly
        # join reads (a separate table: its one-shot drain must stay
        # under the engine's 100k-row collect guard)
        self.stream_dir = os.path.join(self.fixture_dir, "stream")
        fixture.write_events(os.path.join(self.fixture_dir, "events.parquet"),
                             self.seed, self.history_rows,
                             dt.datetime(2022, 1, 1), 900)
        fixture.write_events(os.path.join(self.stream_dir, "events.parquet"),
                             self.seed + 1, self.base_rows, self.start_ts, 30)
        self.slices = 0

    def start(self, spark) -> None:
        # the registry entry over the whole month stream; its rows are
        # checked against the oracle after the timed blocks
        self.registry_rows = checks.spark_rows(
            _registry("sq1_vs_baseline")(spark, self.stream_dir))

    def begin_block(self, spark) -> None:
        super().begin_block(spark)
        self.events_dir = os.path.join(self.block_dir, "in")
        self.sink = os.path.join(self.block_dir, "sink")
        self.ckpt = os.path.join(self.block_dir, "ckpt")
        os.makedirs(self.events_dir)
        self.sq1_rows: list = []

    def prepare(self, k: int) -> None:
        if k == 0:
            return
        self.slice_name = f"slice{self.slices:05d}.parquet"
        fixture.write_hour_slice(os.path.join(self.events_dir, self.slice_name),
                                 self.seed, self.slices, self.start_ts,
                                 self.slice_rows, self.base_rows)
        self.slices += 1

    def _sq1(self, spark, glob_filter: str | None):
        from asvsp_spark.streaming import queries as SQ
        from asvsp_spark.streaming.source import WATERMARK, events_stream_reader
        stream = (events_stream_reader(spark, self.events_dir,
                                       glob_filter=glob_filter)
                  .withWatermark("ts", WATERMARK))
        return SQ.sq1_vs_baseline(spark, self.stream_dir, stream=stream)

    def op(self, spark, k: int):
        if k == 0:
            from asvsp_spark import pipeline
            layers = pipeline.run_batch_chain(
                spark, self.fixture_dir, os.path.join(self.block_dir, "wh"))
            for df in layers.values():
                to_noop(df)
            return layers
        from asvsp_spark.streaming import queries as SQ
        SQ.incremental_hourly_drain(spark, self.events_dir, self.sink, self.ckpt)
        sq1 = self._sq1(spark, self.slice_name)
        to_noop(sq1)
        return sq1

    def after(self, spark, k: int, out) -> None:
        if k == 0:
            self.layers = out
        elif self.timed:
            self.sq1_cols = list(out.columns)
            self.sq1_rows.extend(tuple(r) for r in out.collect())

    def check(self, spark) -> list[str]:
        from pyspark.sql import functions as F
        from asvsp_spark.streaming import queries as SQ
        history = checks.duck_with_views(self.fixture_dir, ["events"])
        month = checks.duck_with_views(self.stream_dir, ["events"])
        # each warehouse layer projected to the columns of its registry entry
        layers = {
            "rollup_daily_events": self.layers["daily"].select(
                "event_type", F.date_format("day", "yyyy-MM-dd").alias("day"),
                "daily_avg", "daily_max", "n_events", "day_of_week",
                "is_weekend", "yr", "mon"),
            "rollup_monthly_events": self.layers["monthly"].select(
                "event_type", "yr", "mon", "monthly_avg", "monthly_max",
                "days_with_data", "exceedance_days", "prev_month_avg",
                "mom_pct_change", "same_month_prev_year_avg",
                "yoy_month_change"),
            "baselines_events": self.layers["baselines"].select(
                "event_type", "mon", "hr", "is_weekend", "n_obs",
                "baseline_avg", "baseline_stddev"),
        }
        failures = [checks.diff(name, checks.spark_rows(df),
                                checks.duck_rows(history, _oracle(name)))
                    for name, df in layers.items()]
        one = os.path.join(self.work, "oneshot")
        drained = SQ.incremental_hourly_drain(
            spark, self.events_dir, os.path.join(one, "sink"),
            os.path.join(one, "ckpt"))
        failures += [
            checks.diff("sq1_vs_baseline", self.registry_rows,
                        checks.duck_rows(month, _oracle("sq1_vs_baseline"))),
            checks.diff("incremental_hourly_drain, per slice vs one-shot",
                        checks.spark_rows(spark.read.parquet(self.sink)),
                        checks.spark_rows(drained)),
            checks.diff("sq1_vs_baseline(stream=), per slice vs one-shot",
                        (self.sq1_cols,
                         checks.canon_rows(self.sq1_cols, self.sq1_rows)),
                        checks.spark_rows(self._sq1(spark, None))),
        ]
        return [f for f in failures if f]


class CorpusDedup(Workload):
    """Incremental exact dedup of document deltas into a store, and the
    two connected-components dedup entries over the seeded corpus. A
    block is two cycles of (next delta into the block's store,
    ``dedup_components``, ``dedup_components_star``); the store starts
    empty in every block, so the second cycle's delta meets a store that
    holds the first."""
    name = "corpus_dedup"
    why = ("iterative connected components and the incremental dedup store: "
           "many small Spark jobs per op over a near-duplicate corpus")
    docs = 1000
    delta_docs = 400
    OPS = ("incremental_exact_dedup", "dedup_components",
           "dedup_components_star") * 2
    ops_per_block = len(OPS)
    delta_ops = (0, 3)

    def make_fixture(self) -> None:
        fixture.write_documents(os.path.join(self.fixture_dir, "documents.parquet"),
                                self.seed, self.docs)
        self.deltas = 0
        self.registry_rows: dict[str, tuple] = {}

    def begin_block(self, spark) -> None:
        super().begin_block(spark)
        self.store = os.path.join(self.block_dir, "store")
        self.history: list[str] = []
        self.delta_paths: list[str] = []
        self.fresh_ids: set[int] = set()
        self.block_fresh = 0

    def prepare(self, k: int) -> None:
        if k not in self.delta_ops:
            return
        path = os.path.join(self.block_dir, f"delta{self.deltas:05d}.parquet")
        fixture.write_doc_delta(path, self.seed, self.deltas, self.delta_docs,
                                self.docs + self.deltas * self.delta_docs,
                                self.history)
        self.delta_paths.append(path)
        self.deltas += 1

    def op(self, spark, k: int):
        kind = self.OPS[k]
        if kind == "incremental_exact_dedup":
            from asvsp_spark.operators.dedup import incremental_exact_dedup
            fresh, counts = incremental_exact_dedup(
                spark, spark.read.parquet(self.delta_paths[-1]), self.store)
            to_noop(fresh)
            return fresh, counts
        df = _registry(kind)(spark, self.fixture_dir)
        if self.timed or kind in self.registry_rows:
            to_noop(df)
        else:
            # the warm-up's first run of each entry collects its rows, for
            # the oracle
            self.registry_rows[kind] = checks.spark_rows(df)
        return None

    def after(self, spark, k: int, out) -> None:
        if out is None:
            return
        fresh, counts = out
        self.funnel.append(counts)
        self.block_fresh += counts["fresh"]
        if self.timed:
            self.fresh_ids.update(r[0] for r in fresh.select("doc_id").collect())

    def check(self, spark) -> list[str]:
        from asvsp_spark.operators.dedup import incremental_exact_dedup
        con = checks.duck_with_views(self.fixture_dir, ["documents"])
        failures = []
        oracles: dict[str, tuple] = {}  # the two entries share one oracle
        for name in ("dedup_components", "dedup_components_star"):
            sql = _oracle(name)
            if sql not in oracles:
                oracles[sql] = checks.duck_rows(con, sql)
            failures.append(checks.diff(name, self.registry_rows[name],
                                        oracles[sql]))
        fresh, counts = incremental_exact_dedup(
            spark, spark.read.parquet(*self.delta_paths),
            os.path.join(self.work, "oneshot_store"))
        once = {r[0] for r in fresh.select("doc_id").collect()}
        if not once or once != self.fresh_ids or counts["fresh"] != self.block_fresh:
            failures.append(
                "incremental_exact_dedup, per delta vs one-shot: "
                f"{len(self.fresh_ids)} vs {len(once)} fresh ids")
        return [f for f in failures if f]


WORKLOADS = {w.name: w for w in (WarehouseHourly, CorpusDedup)}
