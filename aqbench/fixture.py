"""Seeded fixture generator for the benchmark.

Every file is a pure function of ``(seed, parameters)``: numpy's PCG64
draws the values and pyarrow writes them with fixed settings, so the same
seed gives byte-identical parquet files. Column names and types follow
``asvsp_spark.tables.SCHEMAS``; value ranges follow the sf0.1 test tables
(five event types, values exponential around 50, ``props`` JSON
with 100 keys, and the document shape measured below).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("de", "en", "es", "fr", "zh")

_EPOCH = dt.datetime(1970, 1, 1)
_US_PER_HOUR = 3_600_000_000


def _us(t: dt.datetime) -> int:
    return (t - _EPOCH) // dt.timedelta(microseconds=1)


def _rng(seed: int, *stream: int) -> np.random.Generator:
    # one independent stream per (seed, table, part): adding a table or a
    # slice never shifts the draws of another
    return np.random.Generator(np.random.PCG64([seed, *stream]))


def _write(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy",
                   row_group_size=1 << 20, write_statistics=True)
    return path


def _strings(values: tuple[str, ...], idx: np.ndarray) -> pa.Array:
    return pa.DictionaryArray.from_arrays(
        pa.array(idx.astype(np.int32)), pa.array(values)).cast(pa.string())


def events_table(rng: np.random.Generator, n: int, start: dt.datetime,
                 span_us: int, first_id: int = 0) -> pa.Table:
    """``n`` events with ``ts`` uniform over ``[start, start + span_us)``,
    stored as naive ``timestamp[us]`` like the sf0.1 tables."""
    ts = _us(start) + np.sort(rng.integers(0, span_us, n))
    value = np.round(rng.exponential(50.0, n), 2)
    props = pa.array([f'{{"k": {k}}}' for k in range(100)])
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n, dtype=np.int64)),
        "event_type": _strings(EVENT_TYPES, rng.integers(0, 5, n)),
        "value": pa.array(value, pa.float64()),
        "props": pa.DictionaryArray.from_arrays(
            pa.array(rng.integers(0, 100, n).astype(np.int32)),
            props).cast(pa.string()),
    })


def write_events(path: str, seed: int, n: int, start: dt.datetime,
                 days: int, first_id: int = 0) -> str:
    return _write(events_table(_rng(seed, 1), n, start,
                               days * 24 * _US_PER_HOUR, first_id), path)


def write_hour_slice(path: str, seed: int, index: int, start: dt.datetime,
                     rows: int, first_id: int) -> str:
    """Hour ``index`` after ``start`` as one parquet file of ``rows``
    events: the replayed producer's output for one hourly consumer run.
    Ids start at ``first_id + index * rows``, so slices never collide
    with each other or with a base table of ``first_id`` rows."""
    hour = start + dt.timedelta(hours=index)
    return _write(events_table(_rng(seed, 2, index), rows, hour, _US_PER_HOUR,
                               first_id + index * rows), path)


# The document shape measured on the sf0.1 test table (5000 documents):
# 10-100 words, uniform; 30 words drawn uniformly; a near-duplicate is
# an earlier document with the word "dup" appended (Jaccard 0.95-0.99
# on 3-word shingles, so every component is a clique). At Jaccard 0.3
# its components are 223 pairs, 9 triples and 1 quadruple; its 8 exact
# copies are two such variants of one root. Unrelated documents never
# reach 0.3.
VOCAB = tuple(
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window".split())
DUP_WORD = "dup"
SF01_DOCS = 5000
SF01_GROUPS = {2: 223, 3: 9, 4: 1}  # component size -> count


def _words(rng: np.random.Generator) -> list[str]:
    return [VOCAB[i] for i in rng.integers(0, len(VOCAB), rng.integers(10, 101))]


def documents_table(texts: list[str], first_id: int,
                    rng: np.random.Generator) -> pa.Table:
    n = len(texts)
    return pa.table({
        "doc_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": _strings(LANGS, rng.integers(0, len(LANGS), n)),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def corpus_texts(seed: int, n: int) -> list[str]:
    """``n`` documents with the sf0.1 near-duplicate components scaled to
    ``n``: a component of size k is a root and k - 1 variants of it, so
    the variants of a triple or quadruple are exact copies of each other.
    The components and their positions are the same for every seed (only
    the words differ), so the components ops do the same rounds of work
    whatever the seed."""
    rng = _rng(seed, 3)
    groups = [k for k, count in SF01_GROUPS.items()
              for _ in range(round(count * n / SF01_DOCS))]
    docs: list[list[str]] = []
    for k in groups:
        root = _words(rng)
        docs += [root] + [root + [DUP_WORD]] * (k - 1)
    docs += [_words(rng) for _ in range(n - len(docs))]
    # sf0.1 spreads the variants over the id range; a fixed permutation
    # does the same without making the graph depend on the seed
    return [" ".join(docs[i]) for i in _rng(0, 3).permutation(n)]


def write_documents(path: str, seed: int, n: int) -> str:
    return _write(documents_table(corpus_texts(seed, n), 0, _rng(seed, 4)),
                  path)


def write_doc_delta(path: str, seed: int, index: int, n: int,
                    first_id: int, history: list[str]) -> list[str]:
    """Delta ``index`` of the incremental corpus: ``n`` documents with ids
    from ``first_id`` (increasing across deltas, so the one-shot keeper,
    the minimum id, is also the first seen). A fifth repeat a text of an
    earlier delta in ``history`` (when there is one), a tenth repeat a
    new text of the same delta, the rest are new; the order is shuffled.
    These shares are chosen, not measured: the test tables hold no
    deltas, and the sf0.1 corpus's exact-copy share (0.16%) would leave a
    delta with about one repeat, so the store anti-join and the
    within-delta collapse would drop almost nothing. Appends the delta's
    texts to ``history`` and returns them."""
    rng = _rng(seed, 5, index)
    n_hist = n // 5 if history else 0
    n_new = n - n_hist - n // 10
    new = [" ".join(_words(rng)) for _ in range(n_new)]
    texts = (new + [history[i] for i in rng.integers(0, len(history), n_hist)]
             + [new[i] for i in rng.integers(0, n_new, n // 10)])
    texts = [texts[i] for i in rng.permutation(n)]
    _write(documents_table(texts, first_id, rng), path)
    history.extend(texts)
    return texts
