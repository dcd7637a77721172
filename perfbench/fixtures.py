"""Seeded inputs and the expected states they must produce.

Feed and base come from ``cdc.generator`` and the expected table states from
the dict-replay oracle ``cdc.oracle.replay_oracle``; all are cached as parquet
under the work directory, once per (workload, seed), the expected states once
per batch prefix.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from ingestion3_spark.cdc.generator import make_corpus, make_events, write_fixture
from ingestion3_spark.cdc.oracle import replay_oracle

# feed shape shared by every workload: token arrays up to 64 long keep the
# pure-Python oracle fast; 8 feed partitions
MAX_LEN = 64
N_PARTS = 8

STATE_SCHEMA = pa.schema([
    ("doc_id", pa.string()),
    ("tokens", pa.list_(pa.int32())),
    ("n_tok", pa.int32()),
    ("source", pa.string()),
])


@dataclass(frozen=True)
class Aggregates:
    """What the training reader computes over a snapshot."""

    rows: int
    n_tok: int
    tokens: int


def aggregates(state: pa.Table) -> Aggregates:
    return Aggregates(
        state.num_rows,
        int(pc.sum(state["n_tok"]).as_py() or 0),
        int(pc.sum(pc.list_value_length(state["tokens"])).as_py() or 0),
    )


def _write_atomic(path: str, tbl: pa.Table) -> None:
    tmp = f"{path}.tmp-{os.getpid()}"
    write_fixture(tmp, tbl)
    os.replace(tmp, path)


def _state_table(state: dict) -> pa.Table:
    ids = sorted(state)
    return pa.table(
        {
            "doc_id": ids,
            "tokens": [list(state[k][0]) for k in ids],
            "n_tok": [state[k][1] for k in ids],
            "source": [state[k][2] for k in ids],
        },
        schema=STATE_SCHEMA,
    )


class Fixture:
    """Feed, base corpus and oracle states for one (workload, seed), cached
    under ``cache``.

    Batch ``b`` (0-based) holds the events with ``seq`` in
    ``[1 + b*batch_events, (b+1)*batch_events]`` -- the equal seq ranges
    ``ReplayEngine.replay`` cuts for ``num_batches = n_batches``.
    """

    def __init__(self, cache: str, name: str, *, seed: int, n_base: int,
                 batch_events: int, n_batches: int):
        # the directory names the input shape, so a resized workload never
        # reuses a stale fixture
        shape = json.dumps([n_base, batch_events, n_batches, MAX_LEN, N_PARTS])
        self.dir = os.path.join(
            cache, f"{name}-s{seed}-{hashlib.sha1(shape.encode()).hexdigest()[:8]}")
        self.batch_events = batch_events
        self.feed_path = os.path.join(self.dir, "feed.parquet")
        self.base_path = os.path.join(self.dir, "base.parquet")
        os.makedirs(self.dir, exist_ok=True)
        if not (os.path.exists(self.feed_path) and os.path.exists(self.base_path)):
            base = make_corpus(n_base, seed=seed, max_len=MAX_LEN)
            feed = make_events(
                n_batches * batch_events, n_base_docs=n_base, seed=seed,
                n_parts=N_PARTS, max_len=MAX_LEN,
            )
            _write_atomic(self.base_path, base)
            _write_atomic(self.feed_path, feed)
        self.feed = pq.read_table(self.feed_path)

    def seq_range(self, b: int) -> tuple[int, int]:
        return 1 + b * self.batch_events, (b + 1) * self.batch_events

    def expected_state(self, n: int) -> pa.Table:
        """Oracle state after the first ``n`` batches, sorted by doc_id.

        Built from the state after ``n - 1`` batches and batch ``n``'s
        events alone: a re-delivery repeats its (part, seq), so it never
        crosses a batch's seq range, and the oracle's dedup stays exact.
        """
        path = os.path.join(self.dir, f"oracle-{n}.parquet")
        if not os.path.exists(path):
            before = pq.read_table(self.base_path) if n == 1 else self.expected_state(n - 1)
            lo, hi = self.seq_range(n - 1)
            seq = self.feed["seq"]
            batch = self.feed.filter(pc.and_(pc.greater_equal(seq, lo), pc.less_equal(seq, hi)))
            _write_atomic(path, _state_table(replay_oracle(before, batch)))
        return pq.read_table(path, schema=STATE_SCHEMA)

    def expected_checkpoint(self, n: int) -> dict[int, int]:
        """Per-part max ``seq`` over the first ``n`` batches' events."""
        _lo, hi = self.seq_range(n - 1)
        applied = self.feed.filter(pc.less_equal(self.feed["seq"], hi))
        grouped = applied.group_by("part").aggregate([("seq", "max")])
        return dict(zip(grouped["part"].to_pylist(), grouped["seq_max"].to_pylist()))


def table_state(table) -> pa.Table:
    """A LakeTable's current rows in the oracle's shape, sorted by doc_id."""
    got = table.read().select(*STATE_SCHEMA.names).toArrow()
    return got.cast(STATE_SCHEMA).sort_by("doc_id").combine_chunks()


def state_problems(actual: pa.Table, expected: pa.Table) -> list[str]:
    """Empty when the two states are token-array equal."""
    if actual.num_rows != expected.num_rows:
        return [f"{actual.num_rows} live rows, oracle has {expected.num_rows}"]
    for name in STATE_SCHEMA.names:
        if not actual[name].equals(expected[name]):
            return [f"column {name} differs from the oracle"]
    return []
