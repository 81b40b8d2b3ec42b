"""Property-based tests (hypothesis): apply_changes vs a sequential
fold oracle under arbitrary event logs and orderings, and tz window
invariants — the randomized layer the reference's test suite lacks
(SURVEY.md §5)."""

from __future__ import annotations

import random as _random
from datetime import date, timedelta

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import types as T

from sync_spark import tz
from sync_spark.operators.merge import apply_changes

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("v", T.LongType()),
        T.StructField("op", T.StringType()),
        T.StructField("seq", T.LongType()),
    ]
)

TARGET_SCHEMA = T.StructType(
    [T.StructField("id", T.LongType()), T.StructField("v", T.LongType())]
)


events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),  # key
        st.sampled_from(["upsert", "delete"]),
        st.integers(min_value=0, max_value=1000),  # value
    ),
    min_size=0,
    max_size=25,
)

initial_strategy = st.dictionaries(
    st.integers(min_value=0, max_value=5), st.integers(min_value=0, max_value=1000), max_size=6
)


@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(initial=initial_strategy, events=events_strategy, shuffle_seed=st.integers(0, 99))
def test_merge_equals_sequential_fold(spark, initial, events, shuffle_seed):
    # oracle: strict-sequence fold
    state = dict(initial)
    numbered = [(seq, k, op, v) for seq, (k, op, v) in enumerate(events)]
    for seq, k, op, v in numbered:
        if op == "delete":
            state.pop(k, None)
        else:
            state[k] = v

    target = spark.createDataFrame(
        [Row(id=k, v=v) for k, v in initial.items()], TARGET_SCHEMA
    )
    shuffled = list(numbered)
    _random.Random(shuffle_seed).shuffle(shuffled)  # arrival order must not matter
    changes = spark.createDataFrame(
        [Row(id=k, v=v, op=op, seq=seq) for seq, k, op, v in shuffled], SCHEMA
    )
    merged = apply_changes(target, changes, keys=["id"])
    got = {r.id: r.v for r in merged.collect()}
    assert got == state


@given(
    day=st.dates(min_value=date(2020, 1, 1), max_value=date(2030, 12, 31)),
)
@settings(max_examples=200, deadline=None)
def test_tz_windows_are_half_open_partitions(day):
    # consecutive day windows tile exactly
    s1, e1 = tz.jst_day_range(day)
    s2, e2 = tz.jst_day_range(day + timedelta(days=1))
    assert e1 == s2
    assert (e1 - s1) == timedelta(days=1)
    # week contains the day, starts Sunday, spans exactly 7 days
    ws, we = tz.jst_week_range(day)
    assert ws <= tz.jst_to_utc(
        __import__("datetime").datetime(day.year, day.month, day.day)
    ) < we
    assert (we - ws) == timedelta(days=7)
    assert tz.utc_to_jst(ws).weekday() == 6  # Sunday
    # month window covers the day and starts on the 1st
    ms, me = tz.jst_month_range(day)
    assert tz.utc_to_jst(ms).day == 1
    assert ms <= tz.jst_to_utc(
        __import__("datetime").datetime(day.year, day.month, day.day)
    ) < me


def test_compaction_null_seq_loses(spark):
    """A malformed event whose seq read as NULL (Spark's JSON reader
    does not enforce nullable=False) must LOSE compaction to any
    sequenced change — the window form's `seq DESC` was NULLS LAST,
    and the min_by(struct(-seq, ...)) rewrite needs an explicit
    nulls-last flag to preserve that (r8 review)."""
    from sync_spark.operators.merge import compact_latest_per_key

    rows = [
        (1, "k1", None, "upsert", "malformed"),
        (2, "k1", 5, "upsert", "good"),
        (3, "k2", None, "upsert", "only-null"),
    ]
    df = spark.createDataFrame(
        rows, "rid long, key string, seq long, op string, payload string"
    )
    out = {r.key: r for r in compact_latest_per_key(df, ["key"]).collect()}
    assert out["k1"].payload == "good"        # sequenced row wins
    assert out["k2"].payload == "only-null"   # all-null group still emits


def _random_change_set(rnd: _random.Random):
    """A seeded CDC change set over a composite (id, region) key whose
    ``region`` may be NULL: inserts of new keys, updates and deletes of
    target keys, PK-change delete+insert pairs (distinct seqs),
    same-seq ties between a write and a delete, and NULL-seq rows.
    Never a NULL op — the ``touched`` precondition."""
    regions = ["eu", "us", None]
    target = {(i, rnd.choice(regions)): rnd.randrange(1000) for i in range(rnd.randint(0, 12))}
    live = list(target)
    changes, seq, next_id = [], 0, 100
    for _ in range(rnd.randint(1, 30)):
        seq += 1
        kind = rnd.choice(["insert", "update", "delete", "pk_change", "tie", "null_seq"])
        if kind == "insert" or not live:
            key = (next_id, rnd.choice(regions))
            next_id += 1
            live.append(key)
            changes.append((*key, rnd.randrange(1000), "insert", seq))
        elif kind == "update":
            changes.append((*rnd.choice(live), rnd.randrange(1000), "update", seq))
        elif kind == "delete":
            changes.append((*rnd.choice(live), None, "delete", seq))
        elif kind == "pk_change":
            old = live.pop(rnd.randrange(len(live)))
            new = (next_id, old[1])
            next_id += 1
            live.append(new)
            changes.append((*old, None, "delete", seq))
            seq += 1
            changes.append((*new, rnd.randrange(1000), "update", seq))
        elif kind == "tie":
            key = rnd.choice(live)
            changes.append((*key, rnd.randrange(1000), "update", seq))
            changes.append((*key, None, "delete", seq))
        else:
            changes.append((*rnd.choice(live), rnd.randrange(1000), "update", None))
    rnd.shuffle(changes)  # arrival order must not matter
    return [(*k, v) for k, v in target.items()], changes


def test_touched_key_shortcut_equals_default_path(spark):
    """``apply_changes(..., touched=<pre-compaction keys>)`` — the CDC
    pipeline's one-compaction merge — must give the same target as the
    default path, which derives its key set from the compacted frame.
    Duplicate keys in ``touched`` are allowed by contract."""
    keys = ["id", "region"]
    for seed in range(8):
        rows, changes = _random_change_set(_random.Random(seed))
        target = spark.createDataFrame(rows, "id long, region string, v long")
        c = spark.createDataFrame(
            changes, "id long, region string, v long, op string, seq long"
        )
        want = sorted(apply_changes(target, c, keys).collect(), key=str)
        got = sorted(
            apply_changes(target, c, keys, touched=c.select(*keys)).collect(), key=str
        )
        assert got == want, f"seed {seed}"
