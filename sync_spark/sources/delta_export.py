"""Delta-Lake-protocol export of the bucketed CDC store — closes the
table-format seam (SURVEY.md §2.1 S12; reference parity:
pkg/syncer/*'s targets are live databases, this engine's target is a
lakehouse table) from the WRITE side without the Delta jars: the
Delta transaction log is a PUBLIC, implementation-independent format
(delta.io PROTOCOL.md — JSON action files under ``_delta_log/`` next
to ordinary parquet), so the store can be *published* as a real Delta
table that any Delta reader (Spark+delta jar, delta-rs, DuckDB delta,
Trino, ...) consumes directly, even though this container cannot
itself read Delta back.

Mechanism per export:

1. hard-link every live parquet part file into the export dir,
   preserving the hive layout (``__bucket=K/part-*.parquet`` →
   Delta partition column ``__bucket``); links are metadata-only and
   pin inodes, so files the STORE later rewrites stay readable in the
   export — which is exactly Delta's tombstone/time-travel contract;
2. diff the live file set against the log replay of the previous
   version (add/remove applied in order — the same replay a Delta
   reader does) and append ONE new ``{version:020d}.json`` with
   `remove` actions for vanished files and `add` actions for new
   ones. No data change → no new version (idempotent);
3. version 0 additionally carries `protocol` (minReader 1 /
   minWriter 2) and `metaData` (stable table id, Spark schemaString,
   partitionColumns=[__bucket]); the metaData is re-emitted when the
   merged store schema evolves, which is Delta's own schema-evolution
   mechanism.

Crash-safety follows the repo discipline: the JSON commit is staged
under a dot-tmp name and ``os.replace``d into place (Delta requires
put-if-absent per version; a single-writer local export gets that
from the atomic rename), and links happen BEFORE the commit so a
crash can only leak unreferenced files, never reference missing ones.

Scale: an export is O(#changed files) link syscalls + one JSON
append — the add/remove diff touches file NAMES only, no data scan.
At 100 TB with 4096 buckets and a few files per bucket the log stays
KB-sized per version; Delta's checkpoint-parquet compaction is the
documented next step when version count grows into the thousands
(readers replay from the last checkpoint; without one they replay all
JSON versions — correct, just slower).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from typing import Optional

from pyspark.sql import SparkSession

from sync_spark.sources.bucketed import (
    BUCKET_COL,
    read_target,
    restore_parked_swaps,
)

LOG_DIR = "_delta_log"


def _log_path(delta_dir: str) -> str:
    return os.path.join(delta_dir, LOG_DIR)


def _version_file(delta_dir: str, version: int) -> str:
    return os.path.join(_log_path(delta_dir), f"{version:020d}.json")


def log_versions(delta_dir: str) -> list[int]:
    """Committed log versions, ascending (the reader's listing step)."""
    lp = _log_path(delta_dir)
    if not os.path.isdir(lp):
        return []
    out = []
    for e in os.listdir(lp):
        if e.endswith(".json") and e[:-5].isdigit():
            out.append(int(e[:-5]))
    return sorted(out)


def _read_actions(delta_dir: str, version: int) -> list[dict]:
    with open(_version_file(delta_dir, version)) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def replay_log(delta_dir: str) -> dict:
    """Replay the full log the way a Delta reader does: later actions
    win per path. Returns {'files': {path: add_action}, 'metaData':
    last metaData or None, 'protocol': last protocol or None,
    'txns': {appId: highest version}, 'version': last version or -1}."""
    files: dict[str, dict] = {}
    meta: Optional[dict] = None
    proto: Optional[dict] = None
    txns: dict[str, int] = {}
    versions = log_versions(delta_dir)
    for v in versions:
        for action in _read_actions(delta_dir, v):
            if "add" in action:
                files[action["add"]["path"]] = action["add"]
            elif "remove" in action:
                files.pop(action["remove"]["path"], None)
            elif "metaData" in action:
                meta = action["metaData"]
            elif "protocol" in action:
                proto = action["protocol"]
            elif "txn" in action:
                t = action["txn"]
                txns[t["appId"]] = max(txns.get(t["appId"], -1), t["version"])
    return {
        "files": files,
        "metaData": meta,
        "protocol": proto,
        "txns": txns,
        "version": versions[-1] if versions else -1,
    }


def write_commit(delta_dir: str, version: int, actions: list[dict]) -> None:
    """Append one log version atomically: stage under a dot-tmp name,
    ``os.replace`` into the final ``{version:020d}.json``. Raises if
    the version already exists (single-writer put-if-absent — the
    local-FS stand-in for Delta's LogStore contract)."""
    os.makedirs(_log_path(delta_dir), exist_ok=True)
    final = _version_file(delta_dir, version)
    if os.path.exists(final):
        raise RuntimeError(
            f"delta commit conflict: version {version} already exists in "
            f"{delta_dir!r} (concurrent writer?)"
        )
    tmp = os.path.join(
        _log_path(delta_dir), f".tmp_{version:020d}_{uuid.uuid4().hex[:8]}.json"
    )
    with open(tmp, "w") as fh:
        for action in actions:
            fh.write(json.dumps(action, separators=(",", ":")) + "\n")
    os.replace(tmp, final)


def _live_files(store_path: str) -> dict[str, dict]:
    """Current store parquet files keyed by their export-relative path
    (``__bucket=K/part-*.parquet``) with size/mtime/partition value."""
    restore_parked_swaps(store_path)
    out: dict[str, dict] = {}
    for b in sorted(os.listdir(store_path)):
        if not b.startswith(f"{BUCKET_COL}="):
            continue
        bval = b.split("=", 1)[1]
        bdir = os.path.join(store_path, b)
        for f in sorted(os.listdir(bdir)):
            if not f.endswith(".parquet") or f.startswith((".", "_")):
                continue
            st = os.stat(os.path.join(bdir, f))
            out[f"{b}/{f}"] = {
                "src": os.path.join(bdir, f),
                "partitionValues": {BUCKET_COL: bval},
                "size": st.st_size,
                "modificationTime": int(st.st_mtime * 1000),
            }
    return out


def _schema_string(spark: SparkSession, store_path: str) -> str:
    """Spark-JSON schemaString of the logical table + the __bucket
    partition column (Delta schemas include partition columns)."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    df = read_target(spark, store_path)
    fields = list(df.schema.fields) + [StructField(BUCKET_COL, IntegerType(), True)]
    return StructType(fields).json()


def _link_file(src: str, dst: str) -> None:
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    if os.path.exists(dst):
        return  # immutable part files: same name == same bytes
    try:
        os.link(src, dst)
    except OSError:
        shutil.copy2(src, dst)


def export_delta(
    spark: SparkSession, store_path: str, delta_dir: str, operation: str = "MERGE"
) -> Optional[int]:
    """Publish the store's CURRENT state as the next Delta log version
    under ``delta_dir``. Returns the committed version number, or None
    when nothing changed (no empty commits). Safe to call after every
    CdcPipeline batch; cost is proportional to the touched buckets.

    The previous-state diff is checkpoint-aware: after a
    ``write_checkpoint(..., clean_log=True)`` the JSON log may be
    empty, and diffing against a JSON-only replay would re-add every
    live file under an already-used version number."""
    state = replay_with_checkpoint(delta_dir)
    live = _live_files(store_path)

    adds = {p: a for p, a in live.items() if p not in state["files"]}
    removes = sorted(p for p in state["files"] if p not in live)
    schema_string = _schema_string(spark, store_path)
    meta_changed = (
        state["metaData"] is None or state["metaData"]["schemaString"] != schema_string
    )
    if not adds and not removes and not meta_changed:
        return None

    # link data files BEFORE committing the log entry: a crash here
    # leaks unreferenced links, never a log that points at nothing
    for p, a in sorted(adds.items()):
        _link_file(a["src"], os.path.join(delta_dir, p))

    version = state["version"] + 1
    now_ms = int(time.time() * 1000)
    actions: list[dict] = [
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": operation,
                "operationParameters": {},
                "engineInfo": "sync_spark-delta-export",
            }
        }
    ]
    if version == 0:
        actions.append(
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
        )
    if meta_changed:
        prior_id = state["metaData"]["id"] if state["metaData"] else uuid.uuid4().hex
        actions.append(
            {
                "metaData": {
                    "id": prior_id,
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": schema_string,
                    "partitionColumns": [BUCKET_COL],
                    "configuration": {},
                    "createdTime": (
                        state["metaData"]["createdTime"]
                        if state["metaData"]
                        else now_ms
                    ),
                }
            }
        )
    for p in removes:
        actions.append(
            {
                "remove": {
                    "path": p,
                    "deletionTimestamp": now_ms,
                    "dataChange": True,
                }
            }
        )
    for p, a in sorted(adds.items()):
        actions.append(
            {
                "add": {
                    "path": p,
                    "partitionValues": a["partitionValues"],
                    "size": a["size"],
                    "modificationTime": a["modificationTime"],
                    "dataChange": True,
                }
            }
        )

    write_commit(delta_dir, version, actions)
    return version


def read_export(spark: SparkSession, delta_dir: str, version: Optional[int] = None):
    """Read the exported table AS A DELTA READER WOULD — replay the
    log up to ``version`` (default: latest) — seeding from the
    ``_last_checkpoint`` parquet when one applies, exactly like a
    checkpoint-aware reader — and scan the active file set with
    partition values from the log, NOT from directory listing. This is the in-container verification path (no
    delta jar needed) and doubles as time travel over the export."""
    from pyspark.sql import functions as F

    state = replay_with_checkpoint(delta_dir, version)
    version = state["version"]
    files = state["files"]
    if not files:
        if state["metaData"] is not None:
            # a valid empty table (e.g. a freshly-bootstrapped delta
            # store): the log's schemaString is the schema, exactly as
            # a Delta reader would present it
            import json as _json

            from pyspark.sql import types as T

            full = T.StructType.fromJson(
                _json.loads(state["metaData"]["schemaString"])
            )
            part_cols = set(state["metaData"].get("partitionColumns") or [])
            rows = T.StructType(
                [f for f in full.fields if f.name not in part_cols]
            )
            return spark.createDataFrame([], rows)
        raise ValueError(f"no active files at version {version} in {delta_dir!r}")
    paths = [os.path.join(delta_dir, p) for p in sorted(files)]
    # basePath keeps partition discovery consistent; mergeSchema
    # mirrors read_target's evolution behavior
    df = (
        spark.read.option("basePath", delta_dir)
        .option("mergeSchema", "true")
        .parquet(*paths)
    )
    if BUCKET_COL in df.columns:
        df = df.drop(BUCKET_COL)
    return df


def vacuum_export(delta_dir: str, keep_versions: int = 2) -> dict:
    """Delta-style VACUUM for the export: physically delete data files
    that are NOT referenced by any of the last ``keep_versions`` log
    versions' active sets, then drop the log files older than the
    retained window. Time travel remains exact within the window and
    is explicitly surrendered before it — the same contract as Delta's
    ``VACUUM ... RETAIN``.

    The survivor set is the UNION of per-version replays (a file
    removed at version N is still needed to read version N-1), so this
    never breaks a retained as-of read. Files are unlinked (the store
    may still hold the inode via its own link — vacuum only releases
    the export's pin). Returns counts for the caller's audit log.

    Log truncation keeps replayability: the oldest retained version's
    full active state is REWRITTEN as a self-contained base commit
    (protocol + metaData + every active add) under its own version
    number before older JSON files are dropped — the same collapsing a
    Delta checkpoint performs, expressed in the JSON log itself so
    readers need no checkpoint support.

    Checkpoint-aware (ADVICE r5): after ``write_checkpoint(...,
    clean_log=True)`` the state at/below the checkpoint exists only in
    the checkpoint parquet — a pure-JSON replay would miss those adds
    and delete still-active data files. Survivors and per-version
    actives are therefore built via ``replay_with_checkpoint``, and
    when the truncation cutoff moves ABOVE an existing checkpoint the
    now-stale ``_last_checkpoint`` pointer and checkpoint parquet are
    deleted BEFORE any older JSON is dropped (a reader mid-crash then
    falls back to the full, still-valid JSON chain rather than seeding
    from a checkpoint that no longer sees the dropped remove actions).
    The cutoff REWRITE itself lands before the pointer unlink, so the
    base commit carries explicit remove actions for every
    checkpoint-state path absent at cutoff (ADVICE r6): a
    checkpoint-seeded replay in that crash window reconciles to
    exactly the cutoff state instead of resurrecting adds whose data
    files vacuum already unlinked."""
    json_versions = log_versions(delta_dir)
    lc = read_last_checkpoint(delta_dir)
    cp_version = lc["version"] if lc else None
    all_versions = sorted(
        set(json_versions) | ({cp_version} if cp_version is not None else set())
    )
    if not all_versions:
        return {"deleted_files": 0, "dropped_versions": 0}
    retained = all_versions[-keep_versions:]
    cutoff = retained[0]

    # checkpoint-seeded replay per retained version; union = survivors
    survivors: set[str] = set()
    per_version: dict[int, dict[str, dict]] = {}
    cutoff_txns: dict[str, int] = {}
    for v in retained:
        st = replay_with_checkpoint(delta_dir, v)
        per_version[v] = st["files"]
        survivors |= set(st["files"])
        if v == retained[0]:
            cutoff_txns = st.get("txns") or {}
    latest = replay_with_checkpoint(delta_dir, all_versions[-1])
    meta, proto = latest["metaData"], latest["protocol"]

    # delete unreferenced data files
    deleted = 0
    for b in sorted(os.listdir(delta_dir)):
        if not b.startswith(f"{BUCKET_COL}="):
            continue
        bdir = os.path.join(delta_dir, b)
        for f in sorted(os.listdir(bdir)):
            rel = f"{b}/{f}"
            if f.endswith(".parquet") and rel not in survivors:
                os.unlink(os.path.join(bdir, f))
                deleted += 1
        if not os.listdir(bdir):
            os.rmdir(bdir)

    dropped = [v for v in json_versions if v < cutoff]
    cp_stale = cp_version is not None and cp_version < cutoff
    if dropped or cp_stale:
        # rewrite the cutoff version as a self-contained base commit
        # (staged + os.replace: a crash leaves the old, still-valid
        # chain in place)
        base_actions: list[dict] = [
            {
                "commitInfo": {
                    "timestamp": int(time.time() * 1000),
                    "operation": "VACUUM BASE",
                    "operationParameters": {"keepVersions": keep_versions},
                    "engineInfo": "sync_spark-delta-export",
                }
            }
        ]
        if proto:
            base_actions.append({"protocol": proto})
        if meta:
            base_actions.append({"metaData": meta})
        # carry writer-txn state through the collapse: dropping it
        # would reset every streaming writer's idempotence watermark
        # and let a crash-replayed batch double-apply
        for app, tv in sorted(cutoff_txns.items()):
            base_actions.append({"txn": {"appId": app, "version": tv}})
        if cp_stale:
            # Self-correcting base commit for the crash window between
            # the os.replace below and the _last_checkpoint unlink: a
            # checkpoint-seeded reader replays checkpoint state (at
            # cp_version) + this commit. Adds alone would RESURRECT
            # files removed between cp_version and cutoff — whose data
            # files were already physically deleted above — so emit an
            # explicit remove for every checkpoint-state path absent at
            # cutoff. For a pure-JSON replay the removes are idempotent
            # no-ops (those paths were already removed at <= cutoff, or
            # never added once the older JSON is gone).
            cp_files = replay_with_checkpoint(delta_dir, cp_version)["files"]
            now_ms = int(time.time() * 1000)
            for p in sorted(set(cp_files) - set(per_version[cutoff])):
                base_actions.append(
                    {
                        "remove": {
                            "path": p,
                            "deletionTimestamp": now_ms,
                            "dataChange": True,
                        }
                    }
                )
        for p in sorted(per_version[cutoff]):
            base_actions.append({"add": per_version[cutoff][p]})
        tmp = os.path.join(
            _log_path(delta_dir), f".tmp_base_{cutoff:020d}_{uuid.uuid4().hex[:8]}.json"
        )
        with open(tmp, "w") as fh:
            for action in base_actions:
                fh.write(json.dumps(action, separators=(",", ":")) + "\n")
        os.replace(tmp, _version_file(delta_dir, cutoff))
        if cp_stale:
            # pointer first, then the parquet: an orphan checkpoint
            # file without _last_checkpoint is never consulted
            os.unlink(os.path.join(_log_path(delta_dir), LAST_CHECKPOINT))
            cp_file = _checkpoint_file(delta_dir, cp_version)
            if os.path.exists(cp_file):
                os.unlink(cp_file)
        for v in dropped:
            os.unlink(_version_file(delta_dir, v))
    return {"deleted_files": deleted, "dropped_versions": len(dropped)}


# ---------------------------------------------------------------------------
# Protocol checkpoints: N.checkpoint.parquet + _last_checkpoint
# ---------------------------------------------------------------------------

LAST_CHECKPOINT = "_last_checkpoint"


def _checkpoint_file(delta_dir: str, version: int) -> str:
    return os.path.join(_log_path(delta_dir), f"{version:020d}.checkpoint.parquet")


def write_checkpoint(
    delta_dir: str, version: Optional[int] = None, clean_log: bool = False
) -> dict:
    """Write the Delta-protocol checkpoint for ``version`` (default:
    latest): one parquet file ``{v:020d}.checkpoint.parquet`` holding
    the replayed state — a `protocol` row, a `metaData` row, and one
    `add` row per active file (no expired tombstones to carry: the
    export's vacuum owns physical deletion) — plus the
    ``_last_checkpoint`` pointer JSON {"version", "size"}. External
    readers then replay from the checkpoint and only the JSON versions
    AFTER it, instead of the whole log (PROTOCOL.md's checkpoint
    contract; delta-rs/Spark+delta/Trino all consume this).

    With ``clean_log=True`` the JSON commits at or below the
    checkpointed version are deleted afterwards — the protocol's
    metadata-cleanup step, valid because any reader now starts at the
    checkpoint. Time travel below the checkpoint is surrendered (the
    same trade as vacuum's base-commit collapse; this is the
    protocol-standard variant of it).

    The parquet is written with pyarrow (NOT a Spark write: Spark
    writes a directory of parts, and the protocol demands exactly one
    file at exactly this name), staged and os.replace'd like every
    commit; ``_last_checkpoint`` is replaced only after the checkpoint
    file is durable, so a crash between the two leaves a valid
    (checkpoint-less) log. Scale: the checkpoint is O(#active files)
    rows — file metadata, never data."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    json_versions = log_versions(delta_dir)
    lc = read_last_checkpoint(delta_dir)
    all_versions = sorted(
        set(json_versions) | ({lc["version"]} if lc else set())
    )
    if not all_versions:
        raise ValueError(f"no log to checkpoint in {delta_dir!r}")
    if version is None:
        version = all_versions[-1]
    if version not in all_versions:
        raise ValueError(f"version {version} not in log (have {all_versions})")

    # seed from the previous checkpoint + trailing JSON (ADVICE r5):
    # after a clean_log cycle the protocol/metaData live only in the
    # prior checkpoint, and a pure-JSON replay would brick the next
    # checkpoint with 'no metaData/protocol'
    state = replay_with_checkpoint(delta_dir, version)
    files = state["files"]
    meta = state["metaData"]
    proto = state["protocol"]
    txns = state.get("txns") or {}
    if meta is None or proto is None:
        raise ValueError("log replay found no metaData/protocol — corrupt log?")

    proto_t = pa.struct(
        [("minReaderVersion", pa.int32()), ("minWriterVersion", pa.int32())]
    )
    txn_t = pa.struct([("appId", pa.string()), ("version", pa.int64())])
    format_t = pa.struct(
        [("provider", pa.string()), ("options", pa.map_(pa.string(), pa.string()))]
    )
    meta_t = pa.struct(
        [
            ("id", pa.string()),
            ("format", format_t),
            ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
            ("configuration", pa.map_(pa.string(), pa.string())),
            ("createdTime", pa.int64()),
        ]
    )
    add_t = pa.struct(
        [
            ("path", pa.string()),
            ("partitionValues", pa.map_(pa.string(), pa.string())),
            ("size", pa.int64()),
            ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_()),
        ]
    )

    meta_row = dict(meta)
    meta_row["configuration"] = list((meta_row.get("configuration") or {}).items())
    fmt = dict(meta_row.get("format") or {})
    fmt["options"] = list((fmt.get("options") or {}).items())
    meta_row["format"] = fmt
    add_rows = [
        {**a, "partitionValues": list((a.get("partitionValues") or {}).items()),
         "dataChange": False}
        for _, a in sorted(files.items())
    ]
    txn_rows = [
        {"appId": app, "version": v} for app, v in sorted(txns.items())
    ]
    n = 2 + len(add_rows) + len(txn_rows)
    protocol_col = [proto] + [None] * (n - 1)
    meta_col = [None, meta_row] + [None] * (n - 2)
    add_col = [None, None] + add_rows + [None] * len(txn_rows)
    txn_col = [None] * (2 + len(add_rows)) + txn_rows
    table = pa.table(
        {
            "protocol": pa.array(protocol_col, type=proto_t),
            "metaData": pa.array(meta_col, type=meta_t),
            "add": pa.array(add_col, type=add_t),
            "txn": pa.array(txn_col, type=txn_t),
        }
    )
    final = _checkpoint_file(delta_dir, version)
    tmp = final + f".tmp_{uuid.uuid4().hex[:8]}"
    pq.write_table(table, tmp)
    os.replace(tmp, final)

    lc_final = os.path.join(_log_path(delta_dir), LAST_CHECKPOINT)
    lc_tmp = lc_final + f".tmp_{uuid.uuid4().hex[:8]}"
    with open(lc_tmp, "w") as fh:
        json.dump({"version": version, "size": n}, fh)
    os.replace(lc_tmp, lc_final)

    dropped = 0
    if clean_log:
        for v in json_versions:
            if v <= version:
                os.unlink(_version_file(delta_dir, v))
                dropped += 1
        # the superseded checkpoint parquet (if any) is no longer
        # reachable once _last_checkpoint advanced and its JSON is gone
        if lc and lc["version"] < version:
            old_cp = _checkpoint_file(delta_dir, lc["version"])
            if os.path.exists(old_cp):
                os.unlink(old_cp)
    return {"version": version, "rows": n, "dropped_versions": dropped}


def read_last_checkpoint(delta_dir: str) -> Optional[dict]:
    p = os.path.join(_log_path(delta_dir), LAST_CHECKPOINT)
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        return json.load(fh)


def replay_with_checkpoint(delta_dir: str, version: Optional[int] = None) -> dict:
    """State replay the way a checkpoint-aware Delta reader does:
    load ``_last_checkpoint`` (if usable for the requested version),
    seed the state from the checkpoint parquet's rows, then apply only
    the JSON commits after it. Falls back to the pure-JSON replay when
    no checkpoint applies — e.g. time travel BELOW the checkpoint with
    the JSON still present."""
    import pyarrow.parquet as pq

    lc = read_last_checkpoint(delta_dir)
    if version is None:
        v_all = log_versions(delta_dir)
        version = max(v_all[-1] if v_all else -1, lc["version"] if lc else -1)
    if lc is None or lc["version"] > version:
        # pure-JSON replay trimmed to `version`
        files: dict[str, dict] = {}
        meta = proto = None
        txns: dict[str, int] = {}
        for v in log_versions(delta_dir):
            if v > version:
                break
            for action in _read_actions(delta_dir, v):
                if "add" in action:
                    files[action["add"]["path"]] = action["add"]
                elif "remove" in action:
                    files.pop(action["remove"]["path"], None)
                elif "metaData" in action:
                    meta = action["metaData"]
                elif "protocol" in action:
                    proto = action["protocol"]
                elif "txn" in action:
                    t = action["txn"]
                    txns[t["appId"]] = max(txns.get(t["appId"], -1), t["version"])
        return {"files": files, "metaData": meta, "protocol": proto,
                "txns": txns, "version": version}

    tbl = pq.read_table(_checkpoint_file(delta_dir, lc["version"]))
    files = {}
    meta = proto = None
    txns = {}
    for row in tbl.to_pylist():
        if row.get("protocol"):
            proto = row["protocol"]
        if row.get("metaData"):
            m = dict(row["metaData"])
            m["configuration"] = dict(m.get("configuration") or [])
            f = dict(m["format"] or {})
            f["options"] = dict(f.get("options") or [])
            m["format"] = f
            meta = m
        if row.get("add"):
            a = dict(row["add"])
            a["partitionValues"] = dict(a.get("partitionValues") or [])
            files[a["path"]] = a
        if row.get("txn"):  # column absent in pre-r11 checkpoints
            t = row["txn"]
            txns[t["appId"]] = max(txns.get(t["appId"], -1), t["version"])
    for v in log_versions(delta_dir):
        if v <= lc["version"] or v > version:
            continue
        for action in _read_actions(delta_dir, v):
            if "add" in action:
                files[action["add"]["path"]] = action["add"]
            elif "remove" in action:
                files.pop(action["remove"]["path"], None)
            elif "metaData" in action:
                meta = action["metaData"]
            elif "protocol" in action:
                proto = action["protocol"]
            elif "txn" in action:
                t = action["txn"]
                txns[t["appId"]] = max(txns.get(t["appId"], -1), t["version"])
    return {"files": files, "metaData": meta, "protocol": proto,
            "txns": txns, "version": version}
