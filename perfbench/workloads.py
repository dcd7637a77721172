"""The workloads and the closed replay loop that drives them.

Every workload is a closed loop in one driver process: batch k+1 starts only
after batch k's commit (and any maintenance landing on it) has returned, as
in ``ReplayEngine.replay`` and the CLI. An episode replays the feed batch by
batch into a fresh copy of the base table; episodes repeat until the run's
time is up.
"""

from __future__ import annotations

import math
import os
import shutil
import time
import traceback
import uuid
from contextlib import nullcontext
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from ingestion3_spark.cdc.replay import ReplayEngine
from ingestion3_spark.lakehouse.table import LakeTable

from perfbench.fixtures import Aggregates, Fixture


KEEP_LAST = 4  # replay()'s default snapshot retention
# a run measures at least this many batches, whatever --seconds says
MIN_BATCHES = 1
# the warm-up replays at most this many events of the first batch: enough to
# load and compile every code path, at a fraction of a bulk batch's cost
WARMUP_EVENTS = 5_000


@dataclass(frozen=True)
class Workload:
    name: str
    merge_mode: str
    n_base: int
    batch_events: int
    n_batches: int  # feed = n_batches * batch_events events (+1% re-deliveries)
    # maintenance cadences, applied after batch b as replay(minor_every=,
    # compact_every=, expire_every=) applies them
    minor_every: int = 0
    compact_every: int = 0
    expire_every: int = 0
    read_every_batch: bool = False
    probe_reads: int = 0  # reader scans of each episode's final snapshot
    # MOR workloads use one bucket per core: per-batch cost is dominated by
    # fixed per-job and per-file costs, and fewer files keep a maintenance
    # cycle inside the run's time
    buckets: int = 16

    @property
    def window(self) -> int:
        """Batches in one maintenance cycle. A run stops only at the end of
        a cycle, so every run leaves its table in the same shape (how many
        delta layers, whether just compacted), whatever its speed."""
        return math.lcm(*(c for c in (self.minor_every, self.compact_every, self.expire_every) if c))


# why each exists: README.md, "Workloads"
WORKLOADS = {
    w.name: w
    for w in (
        # delta >> base, one COW batch: validate, dedup, payload exchange and
        # bucketed write dominate; reads are probes of the result
        Workload("bulk_cow", merge_mode="cow", n_base=10_000, batch_events=100_000,
                 n_batches=1, probe_reads=2),
        # delta << base micro-batches with in-loop maintenance and a
        # payload-decoding reader scan after every batch: per-batch fixed
        # cost, the classify key scan, commit metadata, maintenance and the
        # reconciling read path
        Workload("trickle_mor", merge_mode="mor", n_base=20_000, batch_events=1_000,
                 n_batches=40, minor_every=2, expire_every=2,
                 read_every_batch=True, buckets=4),
    )
}


def scan(table: LakeTable) -> Aggregates:
    """The training reader: decode the current snapshot's payload."""
    r = table.read().agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum("n_tok").alias("n_tok"),
        F.sum(F.size("tokens")).alias("tokens"),
    ).collect()[0]
    return Aggregates(int(r["rows"]), int(r["n_tok"] or 0), int(r["tokens"] or 0))


@dataclass
class LoopResult:
    batch_s: list[float] = field(default_factory=list)
    read_s: list[float] = field(default_factory=list)
    # (batches applied to the table when it was read, what the read returned)
    reads: list[tuple[int, Aggregates]] = field(default_factory=list)
    events: int = 0
    attempted: int = 0
    failed: int = 0
    table: LakeTable | None = None  # the last episode's table
    applied: int = 0  # batches applied to that table
    delta_files_per_bucket_max: int = 0


class Replayer:
    """Fresh table copies of one base, and the timed loop over them."""

    def __init__(self, spark, wl: Workload, fx: Fixture, template: str, work: str):
        self.spark = spark
        self.wl = wl
        self.fx = fx
        self.feed = spark.read.parquet(fx.feed_path)
        self.template = template
        self.work = work

    def fresh_table(self) -> tuple[LakeTable, ReplayEngine]:
        path = os.path.join(self.work, f"table-{uuid.uuid4().hex[:12]}")
        shutil.copytree(self.template, path)
        table = LakeTable.load(self.spark, path)
        return table, ReplayEngine(self.spark, table, error_dir=path + "-errors")

    def drop(self, table: LakeTable) -> None:
        shutil.rmtree(table.path, ignore_errors=True)
        shutil.rmtree(table.path + "-errors", ignore_errors=True)

    def batch(self, b: int):
        lo, hi = self.fx.seq_range(b)
        return self.feed.filter((F.col("seq") >= lo) & (F.col("seq") <= hi))

    def warmup_batch(self):
        lo, hi = self.fx.seq_range(0)
        return self.feed.filter(F.col("seq") <= min(hi, lo + WARMUP_EVENTS - 1))

    def maintain(self, table: LakeTable, b: int) -> None:
        """The maintenance ``ReplayEngine.replay`` runs after batch ``b``."""
        wl = self.wl
        if wl.compact_every and (b + 1) % wl.compact_every == 0:
            table.compact(min_files=2)
        elif wl.minor_every and (b + 1) % wl.minor_every == 0:
            table.compact_deltas()
        if wl.expire_every and (b + 1) % wl.expire_every == 0:
            table.expire_snapshots(keep_last=KEEP_LAST)

    def loop(self, seconds: float, tracer=None) -> LoopResult:
        """Replay until ``seconds`` have passed, ``MIN_BATCHES`` batches ran
        and a maintenance cycle ended."""
        res = LoopResult()
        t_start = time.perf_counter()

        def done() -> bool:
            return (time.perf_counter() - t_start >= seconds
                    and len(res.batch_s) >= MIN_BATCHES)

        def read(table: LakeTable, applied: int) -> None:
            res.attempted += 1
            t0 = time.perf_counter()
            with tracer.span("table.read") if tracer else nullcontext():
                got = scan(table)
            res.read_s.append(time.perf_counter() - t0)
            res.reads.append((applied, got))

        while not done():
            if res.table is not None:
                self.drop(res.table)
            table, engine = self.fresh_table()
            res.table, res.applied = table, 0
            try:
                for b in range(self.wl.n_batches):
                    res.attempted += 1
                    if tracer:
                        tracer.batch = b
                    t0 = time.perf_counter()
                    stats = engine.apply_batch(self.batch(b), batch_id=b)
                    self.maintain(table, b)
                    res.batch_s.append(time.perf_counter() - t0)
                    res.events += stats.events_in
                    res.applied = b + 1
                    if tracer:
                        tracer.batch = None
                        res.delta_files_per_bucket_max = max(
                            res.delta_files_per_bucket_max, delta_files_per_bucket(table))
                    if self.wl.read_every_batch:
                        read(table, res.applied)
                    if done() and res.applied % self.wl.window == 0:
                        break
                # probe reads measure the snapshot an episode leaves behind
                # for the end-to-end read metrics; they are no part of the
                # workload's ingest loop, so the traced run skips them
                for _ in range(0 if tracer else self.wl.probe_reads):
                    read(table, res.applied)
            except Exception:  # noqa: BLE001 - a failed operation ends the run
                traceback.print_exc()
                res.failed += 1
                break
        return res


def delta_files_per_bucket(table: LakeTable) -> int:
    # the unwrapped method: this sample is the benchmark's, not a span
    live_files = getattr(LakeTable.live_files, "__wrapped__", LakeTable.live_files)
    per: dict[int, int] = {}
    for e in live_files(table):
        if e.kind == "delta":
            per[e.bucket] = per.get(e.bucket, 0) + 1
    return max(per.values(), default=0)


def live_bytes(table: LakeTable) -> int:
    return sum(os.path.getsize(os.path.join(table.path, e.path)) for e in table.live_files())


def metadata_bytes(table: LakeTable) -> int:
    """Bytes under the table root outside ``data/``."""
    total = 0
    for root, dirs, files in os.walk(table.path):
        if root == table.path and "data" in dirs:
            dirs.remove("data")
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total
