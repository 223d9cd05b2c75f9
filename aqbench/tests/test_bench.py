"""Fast tests of the benchmark's own helpers (no Spark session needed).

    python -m pytest aqbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import threading

import pytest

from aqbench import eventlog, fixture
from aqbench.layers import PER_LAYER
from aqbench.tracing import (Span, Tracer, highest_supported_percentile,
                             layer_of, percentile, union_length)
from aqbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# -- percentiles -------------------------------------------------------------

def test_percentile_interpolates_between_ranks():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 4.0
    assert percentile(xs, 50) == 2.5
    assert percentile(xs, 90) == pytest.approx(3.7)
    assert percentile([7.0], 99) == 7.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_highest_supported_percentile_keeps_ten_samples_beyond():
    assert highest_supported_percentile(19) is None
    assert highest_supported_percentile(20) == 50
    assert highest_supported_percentile(99) == 50
    assert highest_supported_percentile(100) == 90
    assert highest_supported_percentile(1000) == 99


# -- spans -------------------------------------------------------------------

def test_union_length_merges_overlaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (0.5, 2), (3, 4), (3.5, 3.6)]) == 3.0


def _span(tr, layer, start, end, parent=None):
    s = Span(len(tr.spans), parent.sid if parent else None, layer, layer,
             start, end)
    tr.spans.append(s)
    if parent:
        parent.children.append(s.sid)
    return s


def test_self_time_subtracts_union_of_children():
    tr = Tracer()
    root = _span(tr, "pipeline", 0.0, 10.0)
    _span(tr, "tables", 1.0, 3.0, root)
    _span(tr, "sources", 2.0, 6.0, root)  # overlaps the first child
    inner = _span(tr, "operators.rollups", 7.0, 9.0, root)
    _span(tr, "plans", 7.5, 8.0, inner)
    st = tr.self_times()
    assert st[root.sid] == pytest.approx(10.0 - 5.0 - 2.0)
    assert st[inner.sid] == pytest.approx(1.5)
    assert tr.innermost(7.7).layer == "plans"
    assert tr.innermost(6.5).layer == "pipeline"


def test_wrapped_calls_nest_and_callback_threads_attach_to_open_span():
    tr = Tracer()

    def leaf():
        return 1

    traced_leaf = tr.wrap(leaf, "tables", "leaf")

    def outer():
        t = threading.Thread(target=traced_leaf)  # like a foreachBatch callback
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()
        return traced_leaf()

    assert tr.wrap(outer, "streaming", "outer")() == 1
    outer_span = next(s for s in tr.spans if s.name == "outer")
    kids = [s for s in tr.spans if s.parent == outer_span.sid]
    assert len(kids) == 2 and all(k.layer == "tables" for k in kids)


def test_wrap_wraps_returned_functions_and_registries():
    tr = Tracer()
    sink = tr.wrap(lambda: (lambda batch: batch + 1), "sources", "sink_factory")()
    assert sink(1) == 2
    reg = tr.wrap(lambda: {"q": lambda: 3}, "plans", "all_queries")()
    assert reg["q"]() == 3
    assert [s.name for s in tr.spans] == [
        "sink_factory", "sink_factory.<returned>", "all_queries", "q"]


def test_traced_function_pickles_for_python_workers():
    from pyspark import cloudpickle
    tr = Tracer()
    tr.wrap(len, "plans", "warm")  # the tracer holds a lock and thread state
    shipped = cloudpickle.loads(cloudpickle.dumps(tr.wrap(lambda x: x * 2, "plans", "f")))
    assert shipped(3) == 6


def test_layer_names():
    assert layer_of("asvsp_spark.tables", "load") == "tables"
    assert layer_of("asvsp_spark.plans.registry", "all_queries") == "plans"
    assert layer_of("asvsp_spark.streaming.source", "drain") == "streaming"
    assert layer_of("asvsp_spark.operators.rollups", "baselines") == "operators.rollups"
    assert (layer_of("asvsp_spark.operators.dedup", "incremental_exact_dedup")
            == "operators.incremental")
    assert layer_of("asvsp_spark.operators.dedup", "jaccard_pairs") == "operators.dedup"


# -- event log -----------------------------------------------------------------

def _task(stage, ok=True, run=100, cpu=50_000_000, sw=1000, rr=400, lr=600,
          rows=10):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task End Reason": {"Reason": "Success" if ok else "ExceptionFailure"},
            "Task Metrics": {
                "Executor Deserialize Time": 5, "Executor Run Time": run,
                "Executor CPU Time": cpu, "JVM GC Time": 2,
                "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 7,
                "Shuffle Read Metrics": {"Remote Bytes Read": rr,
                                         "Local Bytes Read": lr},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
                "Input Metrics": {"Records Read": rows}}}


CANNED = [
    {"Event": "SparkListenerApplicationStart", "App Name": "x"},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
     "Stage IDs": [0, 1]},
    _task(0), _task(0), _task(1, ok=False),
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2500},
    # job 1 reuses stage 1's shuffle (skipped) and runs stage 2
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 3000,
     "Stage IDs": [1, 2]},
    _task(2, run=300),
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 3400},
]


def test_event_log_parser_sums_tasks_per_job():
    log = eventlog.parse(json.dumps(e) for e in CANNED)
    j0, j1 = log.jobs[0], log.jobs[1]
    assert (j0.submit, j0.end) == (1.0, 2.5)
    s0 = log.job_sums(j0)
    assert (s0.tasks, s0.tasks_failed) == (3, 1)
    assert s0.run_s == pytest.approx(0.3)
    assert s0.cpu_s == pytest.approx(0.15)
    assert s0.deser_s == pytest.approx(0.015)
    assert (s0.shuffle_write_b, s0.shuffle_read_b, s0.spill_b) == (3000, 3000, 21)
    assert s0.input_rows == 30
    assert log.stages_run(j0) == 2
    s1 = log.job_sums(j1)
    assert (s1.tasks, log.stages_run(j1)) == (1, 1)
    assert s1.run_s == pytest.approx(0.3)


def test_event_log_reads_a_file(tmp_path):
    p = tmp_path / "app"
    p.write_text("\n".join(json.dumps(e) for e in CANNED) + "\n")
    assert sorted(eventlog.read(str(p)).jobs) == [0, 1]


# -- fixture -----------------------------------------------------------------

def _digest(path):
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def _write_all(d, seed):
    import datetime as dt
    start = dt.datetime(2024, 1, 1)
    paths = [fixture.write_events(str(d / "events.parquet"), seed, 5000, start, 30),
             fixture.write_hour_slice(str(d / "slice.parquet"), seed, 3, start, 140, 5000),
             fixture.write_documents(str(d / "documents.parquet"), seed, 200)]
    history: list[str] = []
    for i in range(2):
        p = str(d / f"delta{i}.parquet")
        fixture.write_doc_delta(p, seed, i, 50, 200 + 50 * i, history)
        paths.append(p)
    return [_digest(p) for p in paths]


def test_fixture_is_byte_identical_per_seed(tmp_path):
    a = _write_all(tmp_path / "a", 7)
    b = _write_all(tmp_path / "b", 7)
    c = _write_all(tmp_path / "c", 8)
    assert a == b
    assert all(x != y for x, y in zip(a, c))


def test_fixture_schemas_match_the_engine_tables(tmp_path):
    import pyarrow.parquet as pq
    from asvsp_spark.tables import SCHEMAS
    _write_all(tmp_path, 1)
    for name in ("events", "documents"):
        cols = pq.read_schema(str(tmp_path / f"{name}.parquet")).names
        assert cols == [f.name for f in SCHEMAS[name].fields]


def test_doc_delta_repeats_history_and_itself(tmp_path):
    history: list[str] = []
    first = fixture.write_doc_delta(str(tmp_path / "d0.parquet"), 3, 0, 300, 0, history)
    second = fixture.write_doc_delta(str(tmp_path / "d1.parquet"), 3, 1, 300, 300, history)
    assert len(set(first)) < len(first)  # within-delta repeats
    assert set(second) & set(first)  # repeats of an earlier delta
    assert history == first + second


def test_corpus_has_the_sf01_components_for_every_seed():
    import collections

    def sizes(texts):
        roots = [t.removesuffix(" " + fixture.DUP_WORD) for t in texts]
        size = collections.Counter(roots)
        return [size[r] for r in roots]

    a = sizes(fixture.corpus_texts(1, 1000))
    assert a == sizes(fixture.corpus_texts(2, 1000))
    # sf0.1's 223 pairs, 9 triples and 1 quadruple per 5000 documents
    assert collections.Counter(a) == {1: 904, 2: 90, 3: 6}


# -- BENCHMARK.json ----------------------------------------------------------

def test_benchmark_json_matches_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert [w["why"] for w in spec["workloads"]] == [w.why for w in WORKLOADS.values()]
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == PER_LAYER
    assert [m["name"] for m in spec["end_to_end"]] == ["setup_s", "ops_per_s", "op_p50_s"]
    assert max(m["bound"] for m in spec["end_to_end"]) == next(
        m["bound"] for m in spec["end_to_end"] if m["name"] == "setup_s")
