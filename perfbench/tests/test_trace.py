import json
import threading
import types
from concurrent.futures import ThreadPoolExecutor

import pytest

from perfbench import trace
from perfbench.trace import TAG, Job, Span, Tracer


class FakeContext:
    """SparkContext's thread-local property API."""

    def __init__(self):
        self._local = threading.local()

    def _props(self) -> dict:
        if not hasattr(self._local, "props"):
            self._local.props = {}
        return self._local.props

    def getLocalProperty(self, key):
        return self._props().get(key)

    def setLocalProperty(self, key, value):
        if value is None:
            self._props().pop(key, None)
        else:
            self._props()[key] = value


class Clock:
    def __init__(self):
        self.now = 0.0

    def __call__(self):
        return self.now


def span(id_, name, start, end, parent=None, root=True, **counts):
    return Span(id_, name, parent, None, start, end, on_root_thread=root, counts=counts)


# ------------------------------------------------------------- self time
def test_self_time_subtracts_the_union_of_overlapping_children():
    spans = [
        span(1, "merge.merge_batch", 0.0, 10.0),
        span(2, "table.write_files", 1.0, 4.0, parent=1, root=False),
        span(3, "table.write_files", 3.0, 6.0, parent=1, root=False),  # concurrent
        span(4, "table.commit", 8.0, 12.0, parent=1),  # clipped at the parent's end
    ]
    selfs = trace.self_times(spans)
    assert selfs[1] == pytest.approx(10.0 - (5.0 + 2.0))
    assert selfs[2] == pytest.approx(3.0)
    assert selfs[4] == pytest.approx(4.0)


def test_union_length_merges_touching_and_nested_intervals():
    assert trace.union_length([(0, 2), (2, 3), (5, 6), (5.5, 5.7)]) == pytest.approx(4.0)
    assert trace.union_length([]) == 0.0


# ---------------------------------------------------------------- Tracer
def test_nested_spans_record_parents_and_restore_the_tag():
    sc, clock = FakeContext(), Clock()
    tr = Tracer(sc, clock=clock)
    sc.setLocalProperty(TAG, "outer-value")
    with tr.span("replay.apply_batch") as a:
        assert sc.getLocalProperty(TAG) == str(a.id)
        clock.now = 1.0
        with tr.span("merge.merge_batch") as m:
            assert sc.getLocalProperty(TAG) == str(m.id)
            clock.now = 2.0
        assert sc.getLocalProperty(TAG) == str(a.id)
        clock.now = 3.0
    assert sc.getLocalProperty(TAG) == "outer-value"
    by_name = {s.name: s for s in tr.spans}
    assert by_name["merge.merge_batch"].parent == by_name["replay.apply_batch"].id
    assert (by_name["merge.merge_batch"].start, by_name["merge.merge_batch"].end) == (1.0, 2.0)


def test_a_same_layer_call_belongs_to_its_callers_span():
    tr = Tracer(FakeContext(), clock=Clock())
    with tr.span("table.compact") as outer:
        with tr.span("table.write_files") as inner:
            assert inner is None
    assert [s.name for s in tr.spans] == ["table.compact"]
    assert outer is not None


def test_pool_thread_span_parents_to_the_root_threads_innermost_span():
    sc = FakeContext()
    tr = Tracer(sc, clock=Clock())
    with ThreadPoolExecutor(max_workers=1) as pool:
        with tr.span("replay.apply_batch"):
            with tr.span("merge.merge_batch") as m:
                def write():
                    with tr.span("table.write_files") as w:
                        return w, sc.getLocalProperty(TAG)

                w, tag_inside = pool.submit(write).result()
        # the same (reused) pool thread no longer carries the write's tag
        tag_after = pool.submit(lambda: sc.getLocalProperty(TAG)).result()
    assert w.parent == m.id and not w.on_root_thread
    assert tag_inside == str(w.id)
    assert tag_after is None


def test_installed_wraps_and_restores_the_engine_functions():
    from ingestion3_spark.cdc import replay
    from ingestion3_spark.lakehouse.table import LakeTable

    originals = (LakeTable.checkpoint, replay.merge_batch, replay.ReplayEngine.apply_batch)
    tr = Tracer(None, clock=Clock())
    with trace.installed(tr):
        assert LakeTable.checkpoint(types.SimpleNamespace(current_snapshot=None)) == {}
    assert (LakeTable.checkpoint, replay.merge_batch, replay.ReplayEngine.apply_batch) == originals
    assert [s.name for s in tr.spans] == ["table.checkpoint"]


# ------------------------------------------------------------- event log
def _job_start(job_id, t_ms, stages, tag=None):
    props = {"spark.scheduler.pool": "default"}
    if tag is not None:
        props[TAG] = tag
    return {"Event": "SparkListenerJobStart", "Job ID": job_id, "Submission Time": t_ms,
            "Stage IDs": stages, "Properties": props}


def _job_end(job_id, t_ms):
    return {"Event": "SparkListenerJobEnd", "Job ID": job_id, "Completion Time": t_ms}


def _stage(stage_id, **acc):
    names = {
        "cpu_ns": "internal.metrics.executorCpuTime",
        "run_ms": "internal.metrics.executorRunTime",
        "shuffle_w": "internal.metrics.shuffle.write.bytesWritten",
        "out": "internal.metrics.output.bytesWritten",
    }
    return {"Event": "SparkListenerStageCompleted", "Stage Info": {
        "Stage ID": stage_id,
        "Accumulables": [{"ID": i, "Name": names[k], "Value": str(v)}
                         for i, (k, v) in enumerate(acc.items())],
    }}


def synthetic_log() -> list[str]:
    events = [
        {"Event": "SparkListenerApplicationStart", "Timestamp": 0},
        # tagged by the write span (id 3), submitted from a pool thread
        _job_start(0, 1_500, [0, 1], tag="3"),
        _stage(0, cpu_ns=2_000_000_000, run_ms=3000, shuffle_w=100),
        _stage(1, out=50),
        _job_end(0, 2_500),
        # untagged (engine pool thread): inside the write span's interval,
        # but that span is on a pool thread -> the root thread's merge span
        _job_start(1, 2_000, [2]),
        _stage(2, cpu_ns=1_000_000_000),
        _job_end(1, 2_200),
        # stale tag of the ended write span on a reused thread: by interval
        _job_start(2, 4_500, [3], tag="3"),
        _job_end(2, 4_700),
        # untagged, in the batch span but outside merge -> apply_batch
        _job_start(3, 500, [4]),
        _job_end(3, 900),
        # after every span: unattributed
        _job_start(4, 20_000, [5]),
        _job_end(4, 20_100),
    ]
    return [json.dumps(e) + "\n" for e in events]


def synthetic_spans() -> list[Span]:
    return [
        span(1, "replay.apply_batch", 0.0, 6.0, events_in=1000, errors=10, changes=900),
        span(2, "merge.merge_batch", 1.0, 5.0, parent=1),
        span(3, "table.write_files", 1.2, 3.0, parent=2, root=False),
        span(4, "table.commit", 4.8, 4.9, parent=2, rows_added=950),
    ]


def test_read_jobs_sums_stage_metrics_per_job():
    jobs = {j.id: j for j in trace.read_jobs(synthetic_log())}
    assert set(jobs) == {0, 1, 2, 3, 4}
    j0 = jobs[0]
    assert (j0.start, j0.end, j0.tag) == (1.5, 2.5, "3")
    assert j0.metrics["executor_cpu_s"] == pytest.approx(2.0)
    assert j0.metrics["executor_run_s"] == pytest.approx(3.0)
    assert j0.metrics["shuffle_write_bytes"] == 100
    assert j0.metrics["output_bytes"] == 50
    assert jobs[1].tag is None


def test_attribution_covers_tagged_untagged_and_reused_thread_jobs():
    jobs = trace.read_jobs(synthetic_log())
    owner = trace.attribute(jobs, synthetic_spans())
    assert owner == {0: 3, 1: 2, 2: 2, 3: 1, 4: None}


def test_layer_metrics_from_the_synthetic_log():
    spans = synthetic_spans()
    jobs = trace.read_jobs(synthetic_log())
    m = trace.layer_metrics(spans, jobs, trace.attribute(jobs, spans))
    assert m["table.write_files.jobs"] == (1, "count")
    assert m["table.write_files.shuffle_write_bytes"][0] == 100
    assert m["merge.merge_batch.jobs"][0] == 2
    assert m["merge.merge_batch.executor_cpu_s"][0] == pytest.approx(1.0)
    assert m["table.read.calls"] == (0, "count")
    # batch jobs cover 0.5-0.9, 1.5-2.5 and 4.5-4.7 of the 6 s batch
    assert m["replay.driver_gap_s"][0] == pytest.approx(6.0 - 1.6)
    assert m["replay.jobs_per_batch"][0] == 4
    assert m["validate.error_share"][0] == pytest.approx(0.01)
    assert m["dedup.winners_per_event"][0] == pytest.approx(0.9)
    assert m["merge.rows_written_per_change"][0] == pytest.approx(950 / 900)
    assert m["trace.coverage"][0] == pytest.approx(1.0)


def test_event_log_files_orders_rolling_parts(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    for name in ("events_10_local-1", "events_2_local-1", "appstatus_local-1"):
        (d / name).write_text("")
    assert [p.rsplit("/", 1)[1] for p in trace.event_log_files(str(tmp_path))] == [
        "events_2_local-1", "events_10_local-1"]


def test_job_without_end_event_ends_at_its_start():
    jobs = trace.read_jobs([json.dumps(_job_start(7, 1000, []))])
    assert jobs == [Job(7, 1.0, 1.0, None, {})]
