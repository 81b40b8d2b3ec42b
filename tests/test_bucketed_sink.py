"""Incremental bucketed CDC target (sources/bucketed.py): untouched
buckets must be byte-identical across batches, touched-bucket reads
must partition-prune, deletes may empty a bucket without losing the
schema, and a micro-batch must issue O(1) probe jobs + one staged
write per non-idle table (not 2 probe jobs × N tables)."""

from __future__ import annotations

import hashlib
import json
import os
import re

from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sync_spark.sources.bucketed import (
    BUCKET_COL,
    OLD_PREFIX,
    bucket_expr,
    is_bucketed,
    overwrite_buckets,
    read_buckets,
    read_meta,
    read_target,
    recover_interrupted_swaps,
    write_bucketed,
)
from sync_spark.sources.cdc import read_event_log, write_event_batch
from sync_spark.spec import SyncSpec
from sync_spark.streaming.pipeline import CdcPipeline, TableTarget, snapshot_if_empty

SCHEMA = T.StructType(
    [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
)
N_BUCKETS = 8


def _ev(seq, op, vid, table="users"):
    return {
        "op": op,
        "seq": seq,
        "ts": "2024-01-01T00:00:00Z",
        "source_table": table,
        "key_json": json.dumps({"id": vid}),
        "after_json": json.dumps({"id": vid, "v": f"v{seq}"}) if op != "delete" else None,
    }


def _bucket_of(spark, vid: int) -> int:
    return (
        spark.createDataFrame([Row(id=vid)], "id long")
        .select(bucket_expr(["id"], N_BUCKETS).alias("b"))
        .collect()[0]["b"]
    )


def _dir_fingerprint(path: str) -> dict[str, str]:
    """filename → md5 of every file under a bucket dir."""
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, path)] = hashlib.md5(fh.read()).hexdigest()
    return out


def _pipeline(spark, tmp_path, tables=None, **kw):
    tables = tables or [
        TableTarget("users", str(tmp_path / "t_users"), SCHEMA, ["id"])
    ]
    return CdcPipeline(
        spark,
        SyncSpec(task_id=1, type="parquet"),
        tables,
        event_log_dir=str(tmp_path / "ev"),
        checkpoint_dir=str(tmp_path / "ck"),
        n_buckets=N_BUCKETS,
        **kw,
    )


def test_untouched_buckets_byte_identical(spark, tmp_path):
    tgt = str(tmp_path / "t_users")
    rows = [Row(id=i, v=f"r{i}") for i in range(1, 41)]
    snapshot_if_empty(
        spark,
        spark.createDataFrame(rows, SCHEMA),
        tgt,
        key_cols=["id"],
        n_buckets=N_BUCKETS,
    )
    assert is_bucketed(tgt)

    # pick a key and a bucket that key does NOT hash into
    touched_b = _bucket_of(spark, 1)
    untouched = [
        b for b in range(N_BUCKETS)
        if b != touched_b and os.path.isdir(os.path.join(tgt, f"{BUCKET_COL}={b}"))
    ]
    assert untouched, "need at least one other populated bucket"
    before = {
        b: _dir_fingerprint(os.path.join(tgt, f"{BUCKET_COL}={b}")) for b in untouched
    }

    write_event_batch(str(tmp_path / "ev"), [_ev(1, "update", 1)], 1)
    _pipeline(spark, tmp_path).run_available()

    after = {
        b: _dir_fingerprint(os.path.join(tgt, f"{BUCKET_COL}={b}")) for b in untouched
    }
    assert after == before  # untouched buckets: same files, same bytes
    got = {r.id: r.v for r in read_target(spark, tgt).collect()}
    assert got[1] == "v1" and len(got) == 40


def test_delete_can_empty_a_bucket(spark, tmp_path):
    tgt = str(tmp_path / "t_users")
    snapshot_if_empty(
        spark,
        spark.createDataFrame([Row(id=1, v="a"), Row(id=2, v="b")], SCHEMA),
        tgt,
        key_cols=["id"],
        n_buckets=N_BUCKETS,
    )
    b1, b2 = _bucket_of(spark, 1), _bucket_of(spark, 2)
    write_event_batch(str(tmp_path / "ev"), [_ev(1, "delete", 1)], 1)
    _pipeline(spark, tmp_path).run_available()

    got = {r.id for r in read_target(spark, tgt).collect()}
    assert got == {2}
    if b1 != b2:
        # the emptied bucket dir stays readable (schema-only parquet)
        sub = spark.read.parquet(os.path.join(tgt, f"{BUCKET_COL}={b1}"))
        assert sub.count() == 0 and set(sub.columns) == {"id", "v"}


def test_legacy_flat_target_migrates_once(spark, tmp_path):
    tgt = str(tmp_path / "t_users")
    snapshot_if_empty(spark, spark.createDataFrame([Row(id=1, v="a")], SCHEMA), tgt)
    assert not is_bucketed(tgt)
    write_event_batch(str(tmp_path / "ev"), [_ev(1, "insert", 2)], 1)
    _pipeline(spark, tmp_path).run_available()
    assert is_bucketed(tgt)
    assert {r.id for r in read_target(spark, tgt).collect()} == {1, 2}


def test_touched_bucket_read_partition_prunes(spark, tmp_path):
    tgt = str(tmp_path / "t_users")
    rows = [Row(id=i, v=f"r{i}") for i in range(1, 41)]
    snapshot_if_empty(
        spark,
        spark.createDataFrame(rows, SCHEMA),
        tgt,
        key_cols=["id"],
        n_buckets=N_BUCKETS,
    )
    df = read_buckets(spark, tgt, [_bucket_of(spark, 1)])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and BUCKET_COL in plan


def test_one_probe_job_per_batch_not_per_table(spark, tmp_path):
    """8 mapped tables, events for 1: the batch must cost one summary
    (3 jobs) + the single merge's jobs (its bucket shuffle and the
    staged write) — nowhere near the 2-probes-per-table round-1
    behavior (≥16 jobs before any merge work)."""
    tables = []
    for i in range(8):
        tgt = str(tmp_path / f"t_{i}")
        snapshot_if_empty(
            spark,
            spark.createDataFrame([Row(id=1, v="a")], SCHEMA),
            tgt,
            key_cols=["id"],
            n_buckets=N_BUCKETS,
        )
        tables.append(TableTarget(f"tab{i}", tgt, SCHEMA, ["id"]))
    write_event_batch(
        str(tmp_path / "ev"), [_ev(1, "update", 1, table="tab3")], 1
    )
    p = _pipeline(spark, tmp_path, tables=tables)
    batch = read_event_log(spark, str(tmp_path / "ev"))

    sc = spark.sparkContext
    group = "probe-count-test"
    sc.setJobGroup(group, "count jobs in one micro-batch", False)
    try:
        p._apply_batch(batch, 0)
    finally:
        sc.setJobGroup("", "", False)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    # the summary's 3 jobs + the merge's shuffle and staged write; the
    # old per-table probing alone was 16 jobs for this shape
    assert 0 < n_jobs <= 6, f"micro-batch ran {n_jobs} jobs"


def test_bench_shaped_batch_job_count(spark, tmp_path, monkeypatch):
    """The streaming bench's batch shape — ``name`` masked, ``balance``
    encrypted, DLQ and apply stats on, one null-key event and one
    PK change among plain inserts/updates/deletes — runs in at most 6
    Spark jobs:

    1-3. the summary over the cached batch;
    4. the DLQ write;
    5. the merge's one shuffle (touched-bucket rows and change rows,
       hashed on the bucket id);
    6. the staged write, one file per touched bucket.

    The apply-stats write runs none (driver-local rows written with
    pyarrow). Every touched bucket ends up as exactly one key-sorted
    data file — lookup_keys' row-group pruning relies on the order."""
    import pyarrow.parquet as pq

    from sync_spark.functions.security import apply_security_rules
    from sync_spark.spec import FieldSecurity
    from sync_spark.streaming import pipeline as pl

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("balance", T.DoubleType()),
        ]
    )
    rules = [FieldSecurity("name", "masked"), FieldSecurity("balance", "encrypted")]
    tgt = str(tmp_path / "t_accounts")
    snap = spark.createDataFrame([(i, f"s{i}", float(i)) for i in range(1, 41)], schema)
    snapshot_if_empty(
        spark,
        apply_security_rules(snap, rules, key="k"),
        tgt,
        key_cols=["id"],
        n_buckets=N_BUCKETS,
    )
    p = CdcPipeline(
        spark,
        SyncSpec(task_id=1, type="parquet", field_security={"accounts": rules}),
        [TableTarget("accounts", tgt, schema, ["id"])],
        event_log_dir=str(tmp_path / "ev"),
        checkpoint_dir=str(tmp_path / "ck"),
        dlq_path=str(tmp_path / "dlq"),
        security_key="k",
        stats_path=str(tmp_path / "stats"),
        n_buckets=N_BUCKETS,
    )

    def ev(seq, op, vid, before=None):
        e = {
            "op": op,
            "seq": seq,
            "ts": None,
            "source_table": "accounts",
            "key_json": json.dumps({"id": vid}),
            "after_json": None
            if op == "delete"
            else json.dumps({"id": vid, "name": f"n{seq}", "balance": float(seq)}),
        }
        if before is not None:
            e["before_key_json"] = json.dumps({"id": before})
        return e

    def events(base):
        return [
            ev(base + 1, "insert", 100 + base),
            ev(base + 2, "update", 1 + base),
            ev(base + 3, "delete", 2 + base),
            ev(base + 4, "update", 200 + base, before=3 + base),  # PK change
            ev(base + 5, "insert", None),  # null key -> DLQ
        ]

    sc = spark.sparkContext
    stats_jobs = []
    write_stats = pl._write_apply_stats

    def counted_write_stats(*args):
        before = len(sc.statusTracker().getJobIdsForGroup("bench-shaped"))
        write_stats(*args)
        stats_jobs.append(len(sc.statusTracker().getJobIdsForGroup("bench-shaped")) - before)

    monkeypatch.setattr(pl, "_write_apply_stats", counted_write_stats)
    # batch 0 also runs the once-per-table schema check read; the
    # steady-state batch is the second one
    for batch_id, base in ((0, 0), (1, 10)):
        d = str(tmp_path / f"ev{batch_id}")
        write_event_batch(d, events(base), batch_id)
        batch = read_event_log(spark, d)
        sc.setJobGroup("bench-shaped" if batch_id else "warm", "bench-shaped batch", False)
        try:
            p._apply_batch(batch, batch_id)
        finally:
            sc.setJobGroup("", "", False)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("bench-shaped"))
    assert 0 < n_jobs <= 6, f"bench-shaped micro-batch ran {n_jobs} jobs"
    assert stats_jobs[-1] == 0
    assert spark.read.parquet(str(tmp_path / "dlq")).count() == 2
    ids = {r.id for r in read_target(spark, tgt).collect()}
    assert {100, 110, 200, 210} <= ids and not ids & {2, 3, 12, 13}
    touched = {_bucket_of(spark, vid) for vid in (110, 11, 12, 210, 13)}
    for b in touched:
        d = os.path.join(tgt, f"{BUCKET_COL}={b}")
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert len(files) == 1, (b, files)
        keys = pq.read_table(os.path.join(d, files[0]), columns=["id"]).column("id").to_pylist()
        assert keys == sorted(keys), (b, keys)


def test_merge_write_plans_one_exchange_and_one_sort(spark, tmp_path):
    """The bucket-local merge's staged write: exactly one Exchange (hash
    on the bucket id), no broadcast, and one Sort — the window's, which
    already satisfies the write's sortWithinPartitions(bucket, keys)."""
    from sync_spark.operators.merge import apply_changes
    from sync_spark.sources.bucketed import merge_buckets

    tgt = str(tmp_path / "t_plan")
    rows = [Row(id=i, v=f"r{i}") for i in range(1, 41)]
    target = spark.createDataFrame(rows, SCHEMA)
    write_bucketed(target, tgt, ["id"], N_BUCKETS)
    changes = spark.createDataFrame(
        [(1, "u1", "update", 5), (2, None, "delete", 6), (99, "n99", "insert", 7)],
        "id long, v string, op string, seq long",
    )
    want = sorted(apply_changes(target, changes, ["id"]).collect())
    touched = sorted({_bucket_of(spark, vid) for vid in (1, 2, 99)})
    existing = read_buckets(spark, tgt, touched, schema=SCHEMA)
    merged = merge_buckets(existing, changes, ["id"], N_BUCKETS)
    overwrite_buckets(merged, tgt, ["id"], N_BUCKETS, touched)
    assert sorted(read_target(spark, tgt).collect()) == want

    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    plans = [
        d
        for d in (execs.apply(i).physicalPlanDescription() for i in range(execs.size()))
        if f"{tgt}__stage_" in d and "Window" in d
    ]
    assert len(plans) == 1, plans
    # hashed on the bucket id ALONE: a (bucket, key) hash would let a
    # bucket's rows land in several tasks, i.e. several files
    assert re.search(rf"hashpartitioning\({BUCKET_COL}#\d+, \d+\)", plans[0]), plans[0]
    # the tree of the AQE final plan: operator lines before the
    # initial plan and the per-node details
    tree = plans[0].split("\n\n", 1)[0].split("== Initial Plan ==")[0]
    assert tree.count("Exchange") == 1, tree
    assert "BroadcastExchange" not in tree
    assert tree.count(" Sort (") == 1, tree
    assert tree.count(" Window (") == 1, tree


# ---------------------------------------------------------------------------
# crash-safety / contract hardening
# ---------------------------------------------------------------------------


def _snapshot40(spark, tgt):
    rows = [Row(id=i, v=f"r{i}") for i in range(1, 41)]
    snapshot_if_empty(
        spark,
        spark.createDataFrame(rows, SCHEMA),
        tgt,
        key_cols=["id"],
        n_buckets=N_BUCKETS,
    )


def test_crash_between_renames_recovers_old_bucket(spark, tmp_path):
    """Simulate a crash between _swap_dir's two renames: the live
    bucket dir is gone, only the parked copy exists. A replayed merge
    must see the parked rows, not an empty bucket (ADVICE T4 item)."""
    tgt = str(tmp_path / "t_users")
    _snapshot40(spark, tgt)
    b = _bucket_of(spark, 1)
    live = os.path.join(tgt, f"{BUCKET_COL}={b}")
    os.rename(live, os.path.join(tgt, f"{OLD_PREFIX}{BUCKET_COL}={b}"))

    # read path recovers transparently
    got = {r.id: r.v for r in read_target(spark, tgt).collect()}
    assert len(got) == 40 and got[1] == "r1"
    assert os.path.isdir(live)

    # and a replayed merge through the pipeline sees the restored rows
    os.rename(live, os.path.join(tgt, f"{OLD_PREFIX}{BUCKET_COL}={b}"))
    write_event_batch(str(tmp_path / "ev"), [_ev(1, "update", 1)], 1)
    _pipeline(spark, tmp_path).run_available()
    got = {r.id: r.v for r in read_target(spark, tgt).collect()}
    assert len(got) == 40 and got[1] == "v1"  # no silent row loss


def test_completed_swap_leftover_is_dropped(spark, tmp_path):
    """Crash after the second rename: both live and parked exist →
    recovery drops the stale parked dir."""
    tgt = str(tmp_path / "t_users")
    _snapshot40(spark, tgt)
    b = _bucket_of(spark, 1)
    parked = os.path.join(tgt, f"{OLD_PREFIX}{BUCKET_COL}={b}")
    import shutil

    shutil.copytree(os.path.join(tgt, f"{BUCKET_COL}={b}"), parked)
    recover_interrupted_swaps(tgt)
    assert not os.path.exists(parked)
    assert len(read_target(spark, tgt).collect()) == 40


def test_legacy_dunder_old_leftover_recovers(spark, tmp_path):
    """Pre-hardening layouts parked old dirs as ``__bucket=N__old``
    INSIDE the partition namespace; recovery must heal those too."""
    tgt = str(tmp_path / "t_users")
    _snapshot40(spark, tgt)
    b = _bucket_of(spark, 1)
    live = os.path.join(tgt, f"{BUCKET_COL}={b}")
    os.rename(live, f"{live}__old")
    got = {r.id for r in read_target(spark, tgt).collect()}
    assert len(got) == 40 and os.path.isdir(live)


def test_n_buckets_mismatch_rebucketizes_not_corrupts(spark, tmp_path):
    """Target snapshotted with 32 buckets, pipeline configured with 8:
    without the persisted contract the touched-set math would swap the
    wrong dirs and leave stale duplicates. The pipeline must detect
    the mismatch and re-bucketize before merging (ADVICE item)."""
    tgt = str(tmp_path / "t_users")
    rows = [Row(id=i, v=f"r{i}") for i in range(1, 41)]
    write_bucketed(spark.createDataFrame(rows, SCHEMA), tgt, ["id"], 32)
    assert read_meta(tgt)["n_buckets"] == 32

    write_event_batch(str(tmp_path / "ev"), [_ev(1, "update", 1)], 1)
    _pipeline(spark, tmp_path).run_available()  # pipeline uses N_BUCKETS=8

    got = {r.id: r.v for r in read_target(spark, tgt).collect()}
    assert len(got) == 40 and got[1] == "v1"  # no stale duplicate of id=1
    assert read_meta(tgt) == {"n_buckets": N_BUCKETS, "key_cols": ["id"]}


def test_overwrite_buckets_raises_on_contract_mismatch(spark, tmp_path):
    tgt = str(tmp_path / "t_users")
    write_bucketed(
        spark.createDataFrame([Row(id=1, v="a")], SCHEMA), tgt, ["id"], 32
    )
    df = spark.createDataFrame([Row(id=1, v="b")], SCHEMA)
    import pytest

    with pytest.raises(ValueError, match="re-bucketize"):
        overwrite_buckets(df, tgt, ["id"], N_BUCKETS, [0])


def test_overwrite_buckets_raises_on_stray_bucket(spark, tmp_path):
    """Rows hashing outside the declared touched set must abort the
    swap loudly instead of being dropped in the finally (VERDICT
    silent-row-loss item)."""
    tgt = str(tmp_path / "t_users")
    rows = [Row(id=i, v=f"r{i}") for i in range(1, 41)]
    write_bucketed(spark.createDataFrame(rows, SCHEMA), tgt, ["id"], N_BUCKETS)
    before = {r.id: r.v for r in read_target(spark, tgt).collect()}
    df = spark.createDataFrame(rows, SCHEMA)  # hashes into many buckets
    b = _bucket_of(spark, 1)
    import pytest

    with pytest.raises(ValueError, match="outside the"):
        overwrite_buckets(df, tgt, ["id"], N_BUCKETS, [b])
    # target untouched by the aborted swap
    assert {r.id: r.v for r in read_target(spark, tgt).collect()} == before


def test_empty_source_snapshot_is_readable_and_mergeable(spark, tmp_path):
    """partitionBy on an empty frame writes only _SUCCESS; the sink
    must still leave a schema-bearing bucketed layout so is_bucketed /
    read_target / the first merge behave like the flat path (ADVICE
    item)."""
    tgt = str(tmp_path / "t_users")
    empty = spark.createDataFrame([], SCHEMA)
    assert snapshot_if_empty(spark, empty, tgt, key_cols=["id"], n_buckets=N_BUCKETS)
    assert is_bucketed(tgt)
    assert read_target(spark, tgt).count() == 0

    # first merge into the empty bucketed target works
    write_event_batch(str(tmp_path / "ev"), [_ev(1, "insert", 7)], 1)
    _pipeline(spark, tmp_path).run_available()
    got = {r.id: r.v for r in read_target(spark, tgt).collect()}
    assert got == {7: "v1"}


def test_meta_less_bucketed_layout_is_not_trusted(spark, tmp_path):
    """A bucketed layout without .sync_meta.json may predate the meta
    contract and use ANY n_buckets — check_meta must return False so
    the caller re-bucketizes, never adopt the caller's settings
    (review finding: adoption makes a divergence silently permanent)."""
    from sync_spark.sources.bucketed import check_meta, write_bucketed, META_FILE

    path = str(tmp_path / "t")
    df = spark.createDataFrame([Row(id=1, v="a"), Row(id=2, v="b")])
    write_bucketed(df, path, ["id"], n_buckets=8)
    os.remove(os.path.join(path, META_FILE))
    assert check_meta(path, ["id"], 8) is False  # even same settings: unknowable
    # and a meta-bearing layout only matches its own contract
    write_bucketed(df, path, ["id"], n_buckets=8)
    assert check_meta(path, ["id"], 8) is True
    assert check_meta(path, ["id"], 16) is False


def test_stale_stage_dirs_are_cleaned(spark, tmp_path):
    from sync_spark.sources.bucketed import recover_interrupted_swaps, write_bucketed

    path = str(tmp_path / "t")
    df = spark.createDataFrame([Row(id=1, v="a")])
    write_bucketed(df, path, ["id"], n_buckets=4)
    stale = path + "__stage_deadbeef"
    os.makedirs(os.path.join(stale, "__bucket=0"))
    recover_interrupted_swaps(path)
    assert not os.path.exists(stale)


def test_readers_leave_a_live_writers_stage_dir(spark, tmp_path):
    """A ``<target>__stage_*`` sibling may be a running writer's
    in-flight output: readers only heal parked dirs and must leave it
    alone. The next writer entry point sweeps it."""
    from sync_spark.sources.bucketed import lookup_keys

    path = str(tmp_path / "t")
    df = spark.createDataFrame([Row(id=i, v=f"r{i}") for i in range(1, 9)], SCHEMA)
    write_bucketed(df, path, ["id"], n_buckets=4)
    stage = path + "__stage_x"
    os.makedirs(os.path.join(stage, f"{BUCKET_COL}=0"))
    assert read_target(spark, path).count() == 8
    assert [r.v for r in lookup_keys(spark, path, [(3,)]).collect()] == ["r3"]
    assert is_bucketed(path)
    assert os.path.isdir(stage)
    write_bucketed(df, path, ["id"], n_buckets=4)
    assert not os.path.exists(stage)


def test_lookup_keys_point_read(spark, tmp_path):
    """PK point lookup: partition-prunes to the keys' buckets, pushes
    the key predicate into the scan, returns exactly the asked rows."""
    from sync_spark.sources.bucketed import lookup_keys, write_bucketed

    tgt = str(tmp_path / "t")
    rows = [Row(id=i, v=f"v{i}") for i in range(100)]
    write_bucketed(spark.createDataFrame(rows, SCHEMA), tgt, ["id"], 8)

    out = lookup_keys(spark, tgt, [(7,), (42,), (99,)])
    got = {r.id: r.v for r in out.collect()}
    assert got == {7: "v7", 42: "v42", 99: "v99"}

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # pruned: not all 8 buckets scanned (3 keys touch <= 3 buckets)
    import re

    pf = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "__bucket" in pf
    assert "PushedFilters" in plan and "id" in plan.split("PushedFilters:")[1][:200]

    # missing keys return nothing; empty key list returns empty frame
    assert lookup_keys(spark, tgt, [(12345,)]).count() == 0
    assert lookup_keys(spark, tgt, []).count() == 0


def test_lookup_keys_validates_layout_and_arity(spark, tmp_path):
    import pytest

    from sync_spark.sources.bucketed import lookup_keys, write_bucketed

    with pytest.raises(ValueError, match="bucketed layout"):
        lookup_keys(spark, str(tmp_path / "nope"), [(1,)])
    tgt = str(tmp_path / "t2")
    write_bucketed(
        spark.createDataFrame([Row(id=1, v="a")], SCHEMA), tgt, ["id"], 4
    )
    with pytest.raises(ValueError, match="key tuple"):
        lookup_keys(spark, tgt, [(1, 2)])


def test_bucket_files_are_key_sorted(spark, tmp_path):
    """write_bucketed sorts within tasks so parquet rowgroup min/max
    stats are selective for point lookups."""
    import glob

    import pyarrow.parquet as pq

    from sync_spark.sources.bucketed import write_bucketed

    tgt = str(tmp_path / "t3")
    rows = [Row(id=i, v=f"v{i}") for i in range(200, 0, -1)]  # reverse order in
    write_bucketed(spark.createDataFrame(rows, SCHEMA), tgt, ["id"], 4)
    files = glob.glob(f"{tgt}/__bucket=*/*.parquet")
    assert files
    checked = 0
    for f in files:
        ids = pq.read_table(f, columns=["id"]).column("id").to_pylist()
        assert ids == sorted(ids), f
        checked += 1
    assert checked >= 4


def test_recover_cleans_committed_over_parked_root(spark, tmp_path):
    """A crash between _swap_dir's second rename and its cleanup
    leaves '.old_<name>' beside a LIVE dir: recover must delete the
    parked copy (it is committed-over), not leak it — and never
    resurrect it after a later legitimate rmtree of the live dir
    (r8 review finding)."""
    import os
    import shutil

    from sync_spark.sources.bucketed import (
        read_target,
        recover_interrupted_swaps,
        write_bucketed,
    )

    tgt = str(tmp_path / "t_users")
    df_old = spark.createDataFrame([(1, "old")], "id long, name string")
    df_new = spark.createDataFrame([(2, "new")], "id long, name string")
    write_bucketed(df_new, tgt, ["id"], 4)
    # simulate the crash leftover: parked OLD copy beside the live dir
    parked = str(tmp_path / ".old_t_users")
    shutil.copytree(tgt, parked)
    recover_interrupted_swaps(tgt)
    assert not os.path.exists(parked)  # committed-over leftover removed
    assert [r.name for r in read_target(spark, tgt).collect()] == ["new"]
    # and a later legitimate rmtree cannot resurrect stale data
    shutil.copytree(tgt, parked)
    recover_interrupted_swaps(tgt)  # cleans again while live exists
    shutil.rmtree(tgt)
    recover_interrupted_swaps(tgt)
    assert not os.path.exists(tgt)  # nothing to resurrect
