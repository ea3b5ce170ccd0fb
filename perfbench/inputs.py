"""Seeded input generators for the benchmark.

Every input is a pure function of ``(seed, size)``: the same seed writes the
same rows. The batch tables come from the repository's scale-data generator
(``tools/gen_scale_data.py``), which writes them like the sf testdata:
``events`` with TIMESTAMP(NANOS), ``documents`` from the testdata's
vocabulary, unit-normalised ``embeddings``. The stream feed is a
time-ordered SourceOp log in ``streaming.capture.OPS_SCHEMA`` column order.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from tools.gen_scale_data import EVENT_TYPES, gen_documents, gen_embeddings, gen_events


@dataclass(frozen=True)
class BatchSize:
    """Row counts of the generated tables; a table of 0 rows is not written."""

    events: int = 0
    users: int = 0
    documents: int = 0
    embeddings: int = 0

    def tables(self) -> list[str]:
        return [t for t in ("events", "documents", "embeddings") if getattr(self, t)]


@dataclass(frozen=True)
class StreamSize:
    """Shape of the generated SourceOp feed."""

    ops: int
    keys: int
    files: int


def write_tables(out_dir: str, seed: int, size: BatchSize) -> int:
    """Write the tables of ``size`` as ``<name>.parquet`` into ``out_dir``;
    returns their total row count. Each table draws from its own child of
    ``seed``, so one table's size never changes another's rows."""
    os.makedirs(out_dir, exist_ok=True)
    ev_rng, doc_rng, emb_rng = (
        np.random.default_rng(s) for s in np.random.SeedSequence(seed).spawn(3)
    )
    make = {
        "events": lambda: gen_events(ev_rng, size.events, size.users),
        "documents": lambda: gen_documents(doc_rng, size.documents),
        "embeddings": lambda: gen_embeddings(emb_rng, size.embeddings),
    }
    for name in size.tables():
        pq.write_table(make[name](), os.path.join(out_dir, f"{name}.parquet"))
    return sum(getattr(size, t) for t in size.tables())


def stream_feed(seed: int, size: StreamSize) -> pa.Table:
    """A time-ordered SourceOp feed over Zipf-skewed keys.

    A key's first op, and its first op after a delete, is an insert; about
    15% of the other ops are deletes. ``seq`` and ``t`` both increase
    strictly, so last-write-wins order is total."""
    rng = np.random.default_rng(seed)
    ranks = np.arange(1, size.keys + 1)
    p = 1.0 / ranks**1.1
    keys = rng.choice(size.keys, size.ops, p=p / p.sum())
    live = np.zeros(size.keys, dtype=bool)
    ops = np.empty(size.ops, dtype=object)
    deletes = rng.random(size.ops) < 0.15
    for i, k in enumerate(keys):
        if not live[k]:
            ops[i], live[k] = "insert", True
        elif deletes[i]:
            ops[i], live[k] = "delete", False
        else:
            ops[i] = "update"
    t = 1_704_067_200_000 + np.cumsum(rng.integers(1, 50, size.ops))
    return pa.table(
        {
            "seq": pa.array(np.arange(size.ops, dtype=np.int64)),
            "t": pa.array(t.astype(np.int64)),
            "pk": pa.array([f"k{k}" for k in keys]),
            "op": pa.array(ops.tolist()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, size.ops)),
            "value": pa.array(np.round(rng.exponential(50.0, size.ops), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size.ops)]),
        }
    )


def write_stream_files(out_dir: str, feed: pa.Table, files: int) -> None:
    """Split ``feed`` into ``files`` consecutive parquet files whose mtimes
    increase, so a file source with ``maxFilesPerTrigger=1`` replays them
    in feed order."""
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, feed.num_rows, files + 1).astype(int)
    base = 1_700_000_000
    for i in range(files):
        path = os.path.join(out_dir, f"part-{i:04d}.parquet")
        pq.write_table(feed.slice(bounds[i], bounds[i + 1] - bounds[i]), path)
        os.utime(path, (base + i, base + i))


def last_write_wins(feed: pa.Table) -> set[tuple]:
    """Expected store rows ``(pk, event_type, value, props, ts_ms, seq)``
    after applying ``feed`` in order; a key whose last op is a delete is
    absent."""
    cols = feed.to_pydict()
    state: dict[str, tuple] = {}
    for i, pk in enumerate(cols["pk"]):
        if cols["op"][i] == "delete":
            state.pop(pk, None)
        else:
            state[pk] = (
                pk,
                cols["event_type"][i],
                cols["value"][i],
                cols["props"][i],
                cols["t"][i],
                cols["seq"][i],
            )
    return set(state.values())
