"""Apply-changes-by-key: the CDC MERGE contract (SURVEY.md §2.3 J1/J2,
§2.5 W2).

Reference semantics (cited for parity, not ported):
- upsert/delete by primary key — mongodb.go:1132-1182 (ReplaceOne
  upsert / DeleteOne), mysql.go:524-692, postgresql.go:726-965;
- when batching, the LAST event per key must win — the reference
  guarantees this by strictly ordered single-threaded apply
  (postgresql.go:602-667); we guarantee it by explicit latest-per-key
  compaction on a monotonic ``seq``, which is shuffle-safe;
- ``ignoreDeleteOps`` drops deletes per table (mongodb.go:1162-1169);
- null-safe all-column matching for keyless deletes
  (postgresql.go:933-965) maps to ``eqNullSafe``.

Spark-first design: compaction is a per-key argmax aggregate (one
shuffle on the key, partial map-side combine — see
compact_latest_per_key), then the merge is a null-safe hash anti-join
of the target against the changed keys + a union of the upserts — all
Catalyst-planned and idempotent: re-applying the same compacted batch
yields the same target, which is what makes foreachBatch
restart-safe. ``apply_changes`` is the kernel of the MERGE statement
and the Delta store. The bucketed CDC store runs the same rule as a
bucket-local window instead (``sources/bucketed.merge_buckets``): one
shuffle on the bucket id, no key broadcast, one file per bucket; both
forms order a key's changes with ``latest_first``.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

OP_COL = "op"
SEQ_COL = "seq"
DELETE_OP = "delete"


def latest_first(seq_col: str = SEQ_COL) -> F.Column:
    """THE latest-wins order over one key's changes, as an ascending
    sort key: the smallest value is the change that wins. Sequenced
    rows come first (a NULL seq loses to any sequenced change), then
    seq DESC, then op ASC (a delete wins a same-seq tie). One
    definition for both merge forms — ``compact_latest_per_key``'s
    ``min_by`` and the bucketed store's window ``orderBy``. seq must
    be numeric: the negation buys the mixed direction in one key."""
    return F.struct(
        F.when(F.col(seq_col).isNull(), F.lit(1)).otherwise(F.lit(0)).alias("n"),
        (-F.col(seq_col)).alias("s"),
        F.col(OP_COL).alias("o"),
    )


def compact_latest_per_key(changes: DataFrame, keys: Sequence[str], seq_col: str = SEQ_COL) -> DataFrame:
    """Keep only the last change per key (W2). Deterministic given a
    monotonic seq; ties broken by op ASCENDING so a delete at the same
    seq wins (mirrors log order where delete follows the write).

    Shape (r8): a per-key ``min_by(struct(<non-key cols>),
    struct(-seq, op))`` aggregate — identical semantics to the former
    ``row_number() OVER (ORDER BY seq DESC, op ASC) = 1`` window
    (min of -seq = max seq; ties fall to lexicographic-min op, exact
    for ARBITRARY op strings), but partial-aggregatable: each map
    task emits one row per key it saw instead of shuffling every
    change row into a per-key sort — the difference between O(batch)
    map-side combine and a full window sort on the hot path every
    CDC batch pays. (String-carrying argmins plan SortAggregate —
    per-task LOCAL sorts — because var-length aggregate buffers can't
    live in the hash-agg UnsafeRow map; still partial, still no
    global sort.)

    CONTRACT: the envelope producer must assign DISTINCT seq values to
    the delete+insert pair a REPLACE expands into (ours does — seq is
    per-event, not per-binlog-position). If a producer reused one seq
    for such a pair, this tie-break would keep the delete and drop the
    re-inserted row.

    NULL seq (a malformed event line that read as NULL under Spark's
    non-enforcing JSON schema) must LOSE to any sequenced change —
    the window form's ``seq DESC`` was NULLS LAST; a bare
    ``struct(-seq, op)`` min would invert that (a NULL struct field
    sorts FIRST under min), so the order key (``latest_first``)
    carries an explicit nulls-last flag. seq must be numeric (the
    envelope pins it to long)."""
    non_keys = [c for c in changes.columns if c not in keys]
    if not non_keys:
        return changes.dropDuplicates(list(keys))
    return (
        changes.groupBy(*keys)
        .agg(F.min_by(F.struct(*non_keys), latest_first(seq_col)).alias("__r"))
        .select(
            *[
                (F.col(c) if c in keys else F.col("__r").getField(c).alias(c))
                for c in changes.columns
            ]
        )
    )


def _null_safe_anti(target: DataFrame, keys_df: DataFrame, keys: Sequence[str]) -> DataFrame:
    cond = None
    for k in keys:
        c = target[k].eqNullSafe(keys_df[k])
        cond = c if cond is None else (cond & c)
    return target.join(keys_df, cond, "left_anti")


def apply_changes(
    target: DataFrame,
    changes: DataFrame,
    keys: Sequence[str],
    seq_col: str = SEQ_COL,
    ignore_deletes: bool = False,
    compact: bool = True,
    evolve_schema: bool = False,
    touched: DataFrame | None = None,
) -> DataFrame:
    """MERGE INTO target USING latest-per-key changes.

    ``changes`` carries the after-image in target's columns plus
    (op, seq). Result: target rows minus deleted keys minus replaced
    keys, plus upsert after-images (insert-or-update unified).

    ``evolve_schema=True`` is the schemaless-source contract (the
    reference's MongoDB path: new document fields just appear,
    mongodb.go:480-485 decodes whatever arrives): change columns
    absent from the target widen it (pre-existing rows read NULL),
    and target columns absent from the changes are null-filled in the
    after-image — full-document REPLACE semantics, matching the
    reference's ReplaceOne (mongodb.go:1132-1182) where a field
    missing from the replacement document is removed. Shared columns
    keep the TARGET's type (changes are cast): a same-name type
    change is a migration, not a merge side effect. Keys can never be
    evolved — they must exist in both sides by contract.

    ``touched``: the change-key set the target rows are anti-joined
    against, for a caller that already has it so the merge does not
    derive it again. The MERGE statement passes the keys of its in-plan
    duplicate-key guard (zero extra stages). Columns must be the key
    columns, and the key set must equal that of ``changes`` after the
    ``ignore_deletes`` filter — duplicates allowed, so the keys of the
    PRE-compaction change set qualify; caller guarantees no NULL-op
    rows (a NULL-op survivor is
    neither upsert nor delete, so the default path leaves its target
    row alone while a caller-built key set would drop it)."""
    # ignore_deletes BEFORE compaction: with deletes ignored they are
    # no-ops, so an upsert superseded by a later delete in the same
    # batch must still land (compacting first would keep only the
    # delete and silently drop the upsert)
    if ignore_deletes:
        changes = changes.filter(F.col(OP_COL) != DELETE_OP)
    if compact:
        changes = compact_latest_per_key(changes, keys, seq_col)

    if evolve_schema:
        # "keys can never be evolved" is a contract, not a hope: a
        # changes frame missing a key column would otherwise be
        # silently null-filled by the REPLACE loop below, producing
        # NULL-key upserts and no-op deletes
        missing_keys = set(keys) - set(changes.columns)
        if missing_keys:
            raise ValueError(
                f"evolve_schema cannot evolve key columns; changes frame "
                f"is missing keys {sorted(missing_keys)}"
            )
        missing_tgt = set(keys) - set(target.columns)
        if missing_tgt:
            raise ValueError(
                f"target is missing key columns {sorted(missing_tgt)}"
            )
        tgt_types = {f.name: f.dataType for f in target.schema.fields}
        chg_types = {f.name: f.dataType for f in changes.schema.fields}
        for c in changes.columns:
            # 'secured' is envelope bookkeeping (changes_for_table
            # always attaches it, cdc.py) — evolving it into the
            # target would persist a phantom per-row flag column. A
            # GENUINE source column with one of these names is
            # rejected loudly by changes_for_table itself (reserved
            # envelope names), so the skip here never hides user data.
            if c in (OP_COL, seq_col, "secured"):
                continue
            if c not in tgt_types:
                # new column: widen target with a typed NULL
                target = target.withColumn(c, F.lit(None).cast(chg_types[c]))
            elif chg_types[c] != tgt_types[c]:
                # pin to the target's type: without the explicit cast
                # the union would silently WIDEN the merged output
                # (int∪long → long), writing touched buckets under a
                # type parquet schema-merge then refuses to reconcile
                # with untouched ones
                changes = changes.withColumn(c, F.col(c).cast(tgt_types[c]))
        for c in target.columns:
            if c not in changes.columns:
                # REPLACE semantics: a field absent from the
                # after-image is removed (→ NULL), not carried over
                changes = changes.withColumn(c, F.lit(None).cast(tgt_types[c]))

    upserts = changes.filter(F.col(OP_COL) != DELETE_OP).select(*target.columns)

    if touched is None:
        deletes = changes.filter(F.col(OP_COL) == DELETE_OP).select(*keys)
        touched = upserts.select(*keys).unionByName(deletes).distinct()
    survivors = _null_safe_anti(target, touched, keys)
    return survivors.unionByName(upserts)
