"""Per-batch apply counters emitted by the CDC pipeline (A6 loop) +
replay idempotence of the stats path."""

from __future__ import annotations

import json
import shutil

from pyspark.sql import Row
from pyspark.sql import types as T

from sync_spark.operators.monitor import apply_stats_totals
from sync_spark.sources.cdc import write_event_batch
from sync_spark.spec import SyncSpec
from sync_spark.streaming.pipeline import CdcPipeline, TableTarget, snapshot_if_empty

SCHEMA = T.StructType([T.StructField("id", T.LongType()), T.StructField("v", T.StringType())])


def _ev(seq, op, vid):
    return {
        "op": op,
        "seq": seq,
        "ts": "2024-01-01T00:00:00Z",
        "source_table": "users",
        "key_json": json.dumps({"id": vid}),
        "after_json": json.dumps({"id": vid, "v": "x"}) if op != "delete" else None,
    }


def test_apply_stats_and_replay(spark, tmp_path):
    tgt = str(tmp_path / "t")
    snapshot_if_empty(spark, spark.createDataFrame([Row(id=1, v="a")], SCHEMA), tgt)
    write_event_batch(
        str(tmp_path / "ev"),
        [_ev(1, "insert", 2), _ev(2, "insert", 3), _ev(3, "update", 1), _ev(4, "delete", 3)],
        1,
    )

    def run():
        CdcPipeline(
            spark,
            SyncSpec(task_id=1, type="parquet"),
            [TableTarget("users", tgt, SCHEMA, ["id"])],
            event_log_dir=str(tmp_path / "ev"),
            checkpoint_dir=str(tmp_path / "ck"),
            stats_path=str(tmp_path / "stats"),
        ).run_available()

    run()
    totals = {(r.table, r.op): (r.total, r.n_batches) for r in apply_stats_totals(spark, str(tmp_path / "stats")).collect()}
    assert totals[("users", "insert")] == (2, 1)
    assert totals[("users", "update")] == (1, 1)
    assert totals[("users", "delete")] == (1, 1)

    # crash-replay: same batch re-applied must not double-count
    shutil.rmtree(str(tmp_path / "ck"))
    run()
    totals2 = {(r.table, r.op): (r.total, r.n_batches) for r in apply_stats_totals(spark, str(tmp_path / "stats")).collect()}
    assert totals2 == totals


def test_stats_exclude_ignored_deletes(spark, tmp_path):
    """ignoreDeleteOps tables must not count deletes as executed."""
    tgt = str(tmp_path / "t")
    snapshot_if_empty(spark, spark.createDataFrame([Row(id=1, v="a")], SCHEMA), tgt)
    write_event_batch(str(tmp_path / "ev"), [_ev(1, "insert", 2), _ev(2, "delete", 1)], 1)
    CdcPipeline(
        spark,
        SyncSpec(task_id=1, type="parquet"),
        [TableTarget("users", tgt, SCHEMA, ["id"], ignore_deletes=True)],
        event_log_dir=str(tmp_path / "ev"),
        checkpoint_dir=str(tmp_path / "ck"),
        stats_path=str(tmp_path / "stats"),
    ).run_available()
    totals = {(r.table, r.op) for r in apply_stats_totals(spark, str(tmp_path / "stats")).collect()}
    assert totals == {("users", "insert")}  # delete never executed
    assert {r.id for r in spark.read.parquet(tgt).collect()} == {1, 2}


def test_compaction_preserves_totals_and_batch_counts(spark, tmp_path):
    """compact_apply_stats folds old batch dirs into one compacted dir
    per table; apply_stats_totals must be IDENTICAL before and after —
    totals and n_batches both — across repeated, widening compactions
    and a simulated crash that leaves a superseded dir behind."""
    import os
    import shutil

    from sync_spark.operators.monitor import apply_stats_totals, compact_apply_stats

    stats = str(tmp_path / "stats")
    # 6 batches, two tables, ops appearing in differing batch subsets
    rows_by_batch = {
        1: [("users", "insert", 5), ("users", "update", 2), ("orders", "insert", 7)],
        2: [("users", "insert", 3), ("orders", "delete", 1)],
        3: [("users", "delete", 4), ("orders", "insert", 2)],
        4: [("users", "insert", 1)],
        5: [("orders", "insert", 9), ("users", "update", 6)],
        6: [("users", "insert", 8)],
    }
    for b, rows in rows_by_batch.items():
        for table in {t for t, _, _ in rows}:
            spark.createDataFrame(
                [(op, n) for t, op, n in rows if t == table], "op string, n long"
            ).coalesce(1).write.mode("overwrite").parquet(
                f"{stats}/table={table}/batch_id={b}"
            )

    def snap():
        return {
            (r.table, r.op): (r.total, r.n_batches)
            for r in apply_stats_totals(spark, stats).collect()
        }

    # keep a faithful pre-compaction copy of a live batch dir for the
    # crash simulation below
    saved_b3 = str(tmp_path / "saved_b3")
    shutil.copytree(f"{stats}/table=users/batch_id=3", saved_b3)
    before = snap()
    folded = compact_apply_stats(spark, stats, below_batch_id=4)
    assert folded == {"orders": 3, "users": 3}
    assert snap() == before
    # keep a faithful copy of c4 for the crash simulation below
    stale_c4 = f"{stats}/table=users/batch_id=c0000000004"
    saved_c4 = str(tmp_path / "saved_c4")
    shutil.copytree(stale_c4, saved_c4)
    # widening compaction folds the previous compacted dir too
    folded = compact_apply_stats(spark, stats, below_batch_id=6)
    assert folded["users"] == 3  # c4 + batches 4,5
    assert snap() == before
    # crash simulation: resurrect the superseded c4 dir WITH ITS REAL
    # pre-widening content (saved above) — i.e. compact(6) crashed
    # after renaming c6 in but before deleting c4. The reader must
    # ignore it (newest-compacted-wins)...
    shutil.copytree(saved_c4, stale_c4)
    assert snap() == before
    # ...and re-running compaction DELETES it without re-folding it
    # (its content already lives inside c6 — folding would double)
    compact_apply_stats(spark, stats, below_batch_id=6)
    assert not os.path.isdir(stale_c4)
    assert snap() == before
    # crash simulation 2: a LIVE batch dir below the cut-off survived
    # (compact(6) renamed c6 in, died mid source-deletion). Its counts
    # already live inside c6 — a re-run must DELETE it, never re-fold
    # it into a fresh c6 (double-count), and totals must not move.
    live3 = f"{stats}/table=users/batch_id=3"
    shutil.copytree(saved_b3, live3)
    assert snap() == before  # reader ignores live dirs below the cut-off
    compact_apply_stats(spark, stats, below_batch_id=6)
    assert not os.path.isdir(live3)
    assert snap() == before
    # same-cutoff re-run with nothing new to fold: a pure self-fold is
    # a no-op (rewriting the target would open a crash window)
    assert compact_apply_stats(spark, stats, below_batch_id=6) == {
        "orders": 0,
        "users": 0,
    }
    assert snap() == before


def test_cli_compact_stats_verb(spark, tmp_path, capsys):
    """python -m sync_spark compact-stats: folds old batch dirs and
    prints the (unchanged) serving totals."""
    import json as _json
    import os

    from sync_spark.__main__ import main

    stats = str(tmp_path / "stats")
    for b in (1, 2, 3):
        spark.createDataFrame(
            [("insert", b)], "op string, n long"
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{stats}/table=users/batch_id={b}"
        )
    before = {
        (r.table, r.op): (r.total, r.n_batches)
        for r in apply_stats_totals(spark, stats).collect()
    }
    assert main(["compact-stats", "--stats", stats, "--below", "3"]) == 0
    payload = _json.loads(capsys.readouterr().out.strip())
    assert payload["folded_dirs"] == {"users": 2}
    assert {
        (t["table"], t["op"]): (t["total"], t["n_batches"])
        for t in payload["totals"]
    } == before == {("users", "insert"): (6, 3)}
    entries = sorted(os.listdir(f"{stats}/table=users"))
    assert entries == ["batch_id=3", "batch_id=c0000000003"]


def _totals(spark, stats):
    return {
        (r.table, r.op): (r.total, r.n_batches)
        for r in apply_stats_totals(spark, stats).collect()
    }


def test_stats_write_replay_overwrites(spark, tmp_path):
    """Re-writing the same (table, batch_id) replaces that batch's
    counters: a crash-replayed batch is counted once, with its latest
    content, and no stage dir is left behind."""
    import os

    from sync_spark.streaming.pipeline import _write_apply_stats

    stats = str(tmp_path / "stats")
    _write_apply_stats(stats, "users", 1, [("insert", 5), ("update", 2)])
    _write_apply_stats(stats, "users", 2, [("insert", 1)])
    _write_apply_stats(stats, "users", 1, [("insert", 5), ("update", 2)])
    assert _totals(spark, stats) == {
        ("users", "insert"): (6, 2),
        ("users", "update"): (2, 1),
    }
    _write_apply_stats(stats, "users", 1, [("insert", 4)])
    assert _totals(spark, stats) == {
        ("users", "insert"): (5, 2),
    }
    assert sorted(os.listdir(f"{stats}/table=users")) == ["batch_id=1", "batch_id=2"]


def test_pyarrow_stats_read_beside_spark_written_dirs(spark, tmp_path):
    """Counters written before the pyarrow writer (Spark parquet dirs)
    and after it are one dataset: ``apply_stats_totals`` sums both and
    ``compact_apply_stats`` folds both without changing the totals."""
    from sync_spark.operators.monitor import compact_apply_stats
    from sync_spark.streaming.pipeline import _write_apply_stats

    stats = str(tmp_path / "stats")
    for b, rows in ((1, [("insert", 3), ("delete", 1)]), (2, [("insert", 2)])):
        spark.createDataFrame(rows, "op string, n long").coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{stats}/table=users/batch_id={b}")
    _write_apply_stats(stats, "users", 3, [("insert", 7), ("update", 4)])
    _write_apply_stats(stats, "users", 4, [("delete", 2)])
    want = {
        ("users", "delete"): (3, 2),
        ("users", "insert"): (12, 3),
        ("users", "update"): (4, 1),
    }
    assert _totals(spark, stats) == want
    assert compact_apply_stats(spark, stats, below_batch_id=4) == {"users": 3}
    assert _totals(spark, stats) == want
    _write_apply_stats(stats, "users", 5, [("insert", 1)])
    assert _totals(spark, stats)[("users", "insert")] == (13, 4)


def test_leftover_stats_stage_is_invisible_and_swept(spark, tmp_path):
    """A stage dir leaked by a crash mid-write holds a real parquet
    file, but its dot-prefixed name keeps it out of Spark's listing;
    the next write for the table removes it."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from sync_spark.streaming.pipeline import STATS_STAGE_PREFIX, _write_apply_stats

    stats = str(tmp_path / "stats")
    _write_apply_stats(stats, "users", 1, [("insert", 2)])
    leaked = f"{stats}/table=users/{STATS_STAGE_PREFIX}deadbeef"
    os.makedirs(leaked)
    pq.write_table(
        pa.table({"op": ["insert"], "n": pa.array([100], pa.int64())}),
        os.path.join(leaked, "part-00000-x.parquet"),
    )
    assert _totals(spark, stats) == {("users", "insert"): (2, 1)}
    _write_apply_stats(stats, "users", 2, [("insert", 3)])
    assert not os.path.exists(leaked)
    assert _totals(spark, stats) == {("users", "insert"): (5, 2)}
