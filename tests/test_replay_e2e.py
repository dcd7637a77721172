"""End-to-end replay-oracle tests (SURVEY.md §5 item 2-3).

Engine final state must equal the pure-Python dict replay, including exact
int32 token-array equality per doc_id, under the adversarial feed
(duplicates, invalid deletes, out-of-order, update-after-delete, bad
n_tok, null-token errors).
"""

from __future__ import annotations

import re

import pyarrow as pa
import pytest

from ingestion3_spark.cdc import replay
from ingestion3_spark.cdc.generator import make_corpus, make_events
from ingestion3_spark.cdc.merge import lineage_df
from ingestion3_spark.cdc.oracle import diff_states, replay_oracle, table_state
from ingestion3_spark.cdc.replay import ReplayEngine
from ingestion3_spark.cdc.validate import error_predicate
from ingestion3_spark.lakehouse.table import LakeTable


def _spark_df(spark, tbl: pa.Table):
    return spark.createDataFrame(tbl.to_pandas())


def _seed_table(spark, path, base: pa.Table, num_buckets=8) -> LakeTable:
    table = ReplayEngine.create_table(spark, path, num_buckets=num_buckets)
    files = table.write_files(_spark_df(spark, base))
    table.commit("append", add_files=files, summary={"rows": base.num_rows})
    return table


def _assert_state_matches(table, expected):
    actual = table_state([r.asDict() for r in table.read().collect()])
    diffs = diff_states(expected, actual)
    assert not diffs, diffs
    assert len(actual) == len(expected)


@pytest.fixture(scope="module")
def fixtures():
    base = make_corpus(400, seed=42, max_len=64)
    events = make_events(4000, n_base_docs=400, seed=42, n_parts=4, max_len=64)
    return base, events


def test_single_batch_replay_matches_oracle(spark, tmp_table_path, tmp_path, fixtures):
    base, events = fixtures
    table = _seed_table(spark, tmp_table_path, base)
    eng = ReplayEngine(spark, table, error_dir=str(tmp_path / "err"))
    stats = eng.replay(_spark_df(spark, events), num_batches=1)
    assert len(stats) == 1
    expected = replay_oracle(base, events)
    _assert_state_matches(table, expected)
    # error rows were routed, not dropped silently
    assert stats[0].errors > 0
    assert eng.errors_df().count() == stats[0].errors


def test_multi_batch_replay_matches_oracle(spark, tmp_table_path, tmp_path, fixtures):
    base, events = fixtures
    table = _seed_table(spark, tmp_table_path, base)
    eng = ReplayEngine(spark, table, error_dir=str(tmp_path / "err"))
    eng.replay(_spark_df(spark, events), num_batches=5)
    _assert_state_matches(table, replay_oracle(base, events))
    # checkpoint covers every part's max seq
    ckpt = table.checkpoint()
    assert set(ckpt) == set(range(4))


def test_redelivery_is_idempotent(spark, tmp_table_path, tmp_path, fixtures):
    """Re-running the whole feed (at-least-once delivery) changes nothing."""
    base, events = fixtures
    table = _seed_table(spark, tmp_table_path, base)
    eng = ReplayEngine(spark, table, error_dir=str(tmp_path / "err"))
    eng.replay(_spark_df(spark, events), num_batches=2)
    snap_before = table.current_snapshot.snapshot_id
    state_before = table_state([r.asDict() for r in table.read().collect()])
    # full redelivery
    stats = eng.replay(_spark_df(spark, events), num_batches=2)
    assert all(s.changes == 0 for s in stats)
    state_after = table_state([r.asDict() for r in table.read().collect()])
    assert state_before == state_after
    # and state still matches oracle
    assert not diff_states(replay_oracle(base, events), state_after)


def test_resume_from_checkpoint(spark, tmp_table_path, tmp_path, fixtures):
    """Apply a prefix, then hand the FULL feed to a fresh engine (restart):
    overlap is skipped, suffix applied, final state matches oracle."""
    base, events = fixtures
    table = _seed_table(spark, tmp_table_path, base)
    eng = ReplayEngine(spark, table, error_dir=str(tmp_path / "err"))
    df = _spark_df(spark, events)
    mid = 2000
    eng.apply_batch(df.filter(f"seq <= {mid}"), batch_id=0)

    # simulated restart: new engine object over reloaded table
    table2 = LakeTable.load(spark, tmp_table_path)
    eng2 = ReplayEngine(spark, table2, error_dir=str(tmp_path / "err"))
    eng2.replay(df, num_batches=3)
    _assert_state_matches(table2, replay_oracle(base, events))


def test_empty_base_bootstrap(spark, tmp_table_path, tmp_path):
    """Replay into an empty table (pure bootstrap: all inserts)."""
    events = make_events(1000, n_base_docs=0, seed=7, n_parts=2, max_len=32)
    table = ReplayEngine.create_table(spark, tmp_table_path, num_buckets=4)
    eng = ReplayEngine(spark, table, error_dir=str(tmp_path / "err"))
    eng.replay(_spark_df(spark, events), num_batches=2)
    _assert_state_matches(table, replay_oracle(None, events))


def test_skewed_feed(spark, tmp_table_path, tmp_path):
    """Zipf hot-key feed: winner selection's map-side partial aggregate
    absorbs the hot keys, no salting needed."""
    base = make_corpus(200, seed=3, max_len=32)
    events = make_events(3000, n_base_docs=200, seed=3, n_parts=4, max_len=32, skew=True)
    table = _seed_table(spark, tmp_table_path, base, num_buckets=4)
    eng = ReplayEngine(spark, table, error_dir=str(tmp_path / "err"))
    eng.replay(_spark_df(spark, events), num_batches=2)
    _assert_state_matches(table, replay_oracle(base, events))


def test_lineage_reconciliation(spark, tmp_table_path, tmp_path, fixtures):
    """rows(after) == rows(before) + inserts - deletes, per batch and total."""
    base, events = fixtures
    table = _seed_table(spark, tmp_table_path, base)
    eng = ReplayEngine(spark, table, error_dir=str(tmp_path / "err"))
    stats = eng.replay(_spark_df(spark, events), num_batches=3)
    for s in stats:
        assert s.merge.rows_after == (
            s.merge.rows_before + s.merge.counts["inserts"] - s.merge.counts["deletes"]
        )
    # invalid deletes were classified, not applied
    assert sum(s.merge.counts["invalid_deletes"] for s in stats) > 0


@pytest.mark.parametrize("merge_mode", ["cow", "mor"])
def test_huge_winner_fallback(spark, tmp_path, fixtures, monkeypatch, merge_mode):
    """Winner sets above BROADCAST_WINNERS_MAX take the shuffle-join late
    materialization and, on COW, the single-exchange union write. With the
    cap at 0 (and implicit broadcasts off, so the joins really shuffle) a
    multi-batch replay must still reach the oracle state, and each batch's
    lineage must reconcile with its events and errors."""
    monkeypatch.setattr(replay, "BROADCAST_WINNERS_MAX", 0)
    planned = []
    real_merge = replay.merge_batch

    def spy(*args, **kwargs):
        planned.append(kwargs["broadcast_winners"])
        return real_merge(*args, **kwargs)

    monkeypatch.setattr(replay, "merge_batch", spy)
    base, events = fixtures
    table = ReplayEngine.create_table(
        spark, str(tmp_path / "t"), num_buckets=8, merge_mode=merge_mode
    )
    table.commit("append", add_files=table.write_files(_spark_df(spark, base)))
    eng = ReplayEngine(spark, table, error_dir=str(tmp_path / "err"))
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        stats = eng.replay(_spark_df(spark, events), num_batches=3)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)

    assert planned == [False] * len(stats) and len(stats) == 3
    _assert_state_matches(table, replay_oracle(base, events))
    lineage = lineage_df(table).collect()
    errors = eng.errors_df().collect()
    for s in stats:
        rows = [r for r in lineage if r["batch_id"] == s.batch_id]
        applied = sum(
            r["inserts"] + r["updates"] + r["deletes"] + r["invalid_deletes"]
            + r["dedup_dropped"]
            for r in rows
        )
        assert applied == s.events_in - s.errors
        assert sum(r["errors"] for r in rows) == sum(
            1 for e in errors if e["batch_id"] == s.batch_id
        )
        if merge_mode == "cow":
            assert s.merge.rows_after == (
                s.merge.rows_before + s.merge.counts["inserts"] - s.merge.counts["deletes"]
            )


def _hash_exchanges(df) -> list[str]:
    """Partitioning keys of every hash exchange in the plan, outermost first."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [
        re.sub(r"#\d+L?", "", keys)
        for keys in re.findall(r"Exchange hashpartitioning\(([^()]*), \d+\)", plan)
    ]


def test_late_materialization_one_payload_exchange(spark, tmp_table_path, fixtures):
    """The late-materialized changes cross exactly ONE exchange, hash-
    partitioned on the write's ``__bucket``: dropDuplicates([__bucket, key])
    is satisfied by that clustering, so the wide payload is never shuffled a
    second time. The only other exchange is the narrow winner agg's, inside
    the persisted winner set."""
    base, events = fixtures
    table = _seed_table(spark, tmp_table_path, base)
    eng = ReplayEngine(spark, table)
    clean = _spark_df(spark, events).filter(~error_predicate())
    payload = [c for c in table.column_names() if c != table.key_column]
    winners = eng._select_winners(clean)
    try:
        changes = eng._materialize(clean, winners, payload, bcast=True)
        assert _hash_exchanges(winners) == ["doc_id"]
        assert _hash_exchanges(changes) == ["__bucket", "doc_id"]
    finally:
        winners.unpersist()
