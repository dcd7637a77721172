"""Replay benchmark of the CDC engine.

    python3 perfbench/run.py --workload bulk_cow --seed 1 --seconds 6 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 6

Runs one seeded workload (or every workload, each in a fresh process)
through ``ReplayEngine`` / ``LakeTable``, checks the final table and every
read against the dict-replay oracle, and prints one line per metric followed
by a JSON result line. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` replays once untraced and once traced (span wrappers plus a
Spark event log) and reports the per-layer metrics. Run from the repository
root; everything the run writes goes under ``.perfbench_work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
TEMPLATE_BUILDS = 3  # setup_s takes the median table create + base load

# the engine is imported from the checkout this file sits in; without it the
# import fails and the run exits non-zero before printing any result
sys.path.insert(0, ROOT)

from pyspark import SparkContext  # noqa: E402

from ingestion3_spark.cdc.replay import ReplayEngine  # noqa: E402
from ingestion3_spark.session import get_spark  # noqa: E402
from perfbench import report, trace  # noqa: E402
from perfbench.fixtures import Fixture, aggregates, state_problems, table_state  # noqa: E402
from perfbench.stats import median, tail  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    WORKLOADS, Replayer, live_bytes, metadata_bytes, scan,
)


def host_fit_env() -> int:
    """Size the session for this host before the JVM starts; returns cores.

    The heap is a quarter of RAM, at most 2 GiB: the benchmark's data (feed,
    base, tables, shuffle files) stays under a few hundred MiB, and the
    machine may be shared. Spark's scratch space, the JVM's temp dir and
    Python's temp dir all go under the work directory.
    """
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_mb = int(next(line for line in f if line.startswith("MemTotal")).split()[1]) // 1024
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_DRIVER_MEM"] = f"{min(2048, total_mb // 4)}m"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return cores


def peak_rss_mb() -> float:
    """Peak RSS of this process plus its JVM child, from the kernel's
    high-water marks."""
    me = os.getpid()
    pids = [me]
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        comm, rest = stat[stat.index("(") + 1:stat.rindex(")")], stat[stat.rindex(")") + 2:]
        if comm == "java" and int(rest.split()[1]) == me:
            pids.append(int(d))
    kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            kb += int(next(line for line in f if line.startswith("VmHWM")).split()[1])
    return kb / 1024.0


def shutdown(spark) -> None:
    """Stop Spark and wait for the JVM that PySpark launched to exit."""
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Bench:
    """One run of one workload."""

    def __init__(self, wl, seed: int, cores: int):
        self.wl = wl
        self.seed = seed
        self.cores = cores
        self.fx = Fixture(
            os.path.join(WORK, "fixtures"), wl.name, seed=seed, n_base=wl.n_base,
            batch_events=wl.batch_events, n_batches=wl.n_batches)
        self.dir = os.path.join(WORK, f"run-{os.getpid()}")
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        self.template = os.path.join(self.dir, "template")
        self.spark = None
        self.problems: list[str] = []

    def start(self, extra_conf: dict | None = None) -> None:
        self.spark = get_spark("perfbench", cores=self.cores, extra_conf=extra_conf)
        self.replayer = Replayer(self.spark, self.wl, self.fx, self.template, self.dir)

    def setup(self) -> dict:
        """Session start, base table builds and a warm-up replay, timed."""
        t0 = time.perf_counter()
        self.start()
        session_s = time.perf_counter() - t0
        builds = []
        for i in range(TEMPLATE_BUILDS):
            path = self.template if i == 0 else f"{self.template}-{i}"
            t0 = time.perf_counter()
            table = ReplayEngine.create_table(
                self.spark, path, num_buckets=self.wl.buckets, merge_mode=self.wl.merge_mode)
            table.commit("append", add_files=table.write_files(
                self.spark.read.parquet(self.fx.base_path)))
            builds.append(time.perf_counter() - t0)
            if i:
                shutil.rmtree(path)
        t0 = time.perf_counter()
        table, engine = self.replayer.fresh_table()
        engine.apply_batch(self.replayer.warmup_batch(), batch_id=0)
        scan(table)
        self.replayer.drop(table)
        warm_s = time.perf_counter() - t0
        return {
            "session_s": session_s, "table_build_s": median(builds), "warmup_s": warm_s,
            "setup_s": session_s + median(builds) + warm_s,
        }

    def check(self, res) -> int:
        """Compare the final table and every read with the oracle; returns the
        number of failed checks (each also lands in ``self.problems``)."""
        found: list[str] = []
        if res.table is not None and res.applied:
            found += state_problems(table_state(res.table), self.fx.expected_state(res.applied))
            want = self.fx.expected_checkpoint(res.applied)
            if res.table.checkpoint() != want:
                found.append(f"checkpoint {res.table.checkpoint()} != per-part max seq {want}")
        for applied, got in res.reads:
            want = aggregates(self.fx.expected_state(applied))
            if got != want:
                found.append(f"read after {applied} batches returned {got}, oracle {want}")
        self.problems += found
        return len(found)

    def end_to_end(self, setup: dict, res) -> tuple[dict, list[str]]:
        batch_tail, batch_pct, batch_n = tail(res.batch_s)
        read_tail, read_pct, read_n = tail(res.read_s)
        rows = self.fx.expected_state(res.applied).num_rows
        notes = [
            f"batch_tail_s is p{batch_pct:g} of n={batch_n}",
            f"read_tail_s is p{read_pct:g} of n={read_n}",
            "batch samples (s): " + " ".join(f"{x:.3f}" for x in res.batch_s),
            "read samples (s): " + " ".join(f"{x:.3f}" for x in res.read_s),
            f"failed_share = {res.failed}/{res.attempted}",
            f"peak RSS (this process + its JVM) = {peak_rss_mb():.1f} MiB",
        ]
        return {
            "setup_s": (setup["setup_s"], "s"),
            "events_per_s": (res.events / sum(res.batch_s), "events/s"),
            "batch_p50_s": (median(res.batch_s), "s"),
            "batch_tail_s": (batch_tail, "s"),
            "read_p50_s": (median(res.read_s), "s"),
            "read_tail_s": (read_tail, "s"),
            "live_bytes_per_row": (live_bytes(res.table) / max(rows, 1), "B/row"),
        }, notes

    def traced(self, seconds: float, untraced_eps: float, setup: dict):
        """Replay again with span wrappers and a Spark event log; returns the
        loop result and the per-layer metrics."""
        self.spark.stop()
        log_dir = os.path.join(self.dir, "eventlog")
        os.makedirs(log_dir)
        self.start({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
        })
        tracer = trace.Tracer(self.spark.sparkContext)
        with trace.installed(tracer):
            res = self.replayer.loop(seconds, tracer)
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        self.spans_path = os.path.join(WORK, "traces", f"{self.wl.name}-s{self.seed}.spans.jsonl")
        tracer.write(self.spans_path)
        res.failed += self.check(res)
        meta = metadata_bytes(res.table)
        self.spark.stop()  # flushes and closes the event log
        lines: list[str] = []
        for path in trace.event_log_files(log_dir):
            with open(path) as f:
                lines.extend(f)
        jobs = trace.read_jobs(lines)
        out = trace.layer_metrics(tracer.spans, jobs, trace.attribute(jobs, tracer.spans))
        traced_eps = res.events / sum(res.batch_s) if res.batch_s else 0.0
        out["table.delta_files_per_bucket_max"] = (res.delta_files_per_bucket_max, "count")
        out["table.metadata_bytes"] = (meta, "B")
        out["session.start_s"] = (setup["session_s"], "s")
        out["session.peak_rss_mb"] = (peak_rss_mb(), "MiB")
        out["trace.overhead"] = (untraced_eps / traced_eps if traced_eps else 0.0, "ratio")
        return res, out


def run_one(name: str, seed: int, seconds: float, traced: bool) -> int:
    bench = Bench(WORKLOADS[name], seed, host_fit_env())
    try:
        setup = bench.setup()
        res = bench.replayer.loop(seconds)
        failed, attempted = res.failed + bench.check(res), res.attempted
        if not res.batch_s or not res.read_s:
            print(f"perfbench: {name} produced no samples", file=sys.stderr)
            return 1
        metrics, notes = bench.end_to_end(setup, res)
        if traced:
            res_b, metrics = bench.traced(seconds, metrics["events_per_s"][0], setup)
            failed, attempted = failed + res_b.failed, attempted + res_b.attempted
    finally:
        if bench.spark is not None:
            shutdown(bench.spark)
        shutil.rmtree(bench.dir, ignore_errors=True)
    for p in bench.problems:
        print(f"perfbench: CHECK FAILED: {p}", file=sys.stderr)
    if traced:
        notes.append(f"spans written to {bench.spans_path}")
    report.print_run(name, seed, setup, res, metrics, notes, traced)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def run_all(seed: int, seconds: float, traced: bool) -> int:
    """Every workload, each in its own process so none warms the next."""
    merged, attempted, failed, correct = {}, 0, 0, True
    for name in WORKLOADS:
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed",
             str(seed), "--seconds", str(seconds), "--trace", str(int(traced))],
            stdout=subprocess.PIPE, text=True, check=False,
        )
        sys.stdout.write(out.stdout)
        if out.returncode != 0:
            return out.returncode
        last = json.loads(out.stdout.strip().splitlines()[-1])
        correct &= last["correct"]
        attempted += last["attempted"]
        failed += last["failed"]
        merged.update({f"{name}.{k}": v for k, v in last["metrics"].items()})
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": merged}))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args.seed, args.seconds, bool(args.trace))
    return run_one(args.workload, args.seed, args.seconds, bool(args.trace))


if __name__ == "__main__":
    sys.exit(main())
