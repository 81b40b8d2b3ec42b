"""The benchmark's workloads. Each drives the public API from one
process, checks every output, and returns a ``Result``.

Every workload reports the same end-to-end metrics (named in
BENCHMARK.json); each workload's docstring states its unit of work.
"""

from __future__ import annotations

import contextlib
import gc
import math
import os
import random
import resource
import shutil
import statistics
import time
from dataclasses import dataclass, field
from datetime import datetime
from pathlib import Path

from perfbench import ckpt, oracle
from perfbench.stats import summary
from perfbench.trace import Tracer, read_event_logs, rollup

SETUP_REPS = 3
N_BUCKETS = 16

# cdc_drain_small: a closed-loop drain of a backlog of 500-event files,
# one file per trigger, into a 1k-row target, then reads of the result
DRAIN_SNAPSHOT_ROWS = 1_000
DRAIN_EVENTS_PER_FILE = 500
# one file per warm-up batch, the first one cold; the JIT keeps cutting
# batch time for several batches, as in the registry below
DRAIN_WARM_FILES = 6
DRAIN_MAX_FILES = 40
READS_PER_KIND = 1
LOOKUP_KEYS = 8
SECURITY_KEY = "perfbench-aes-gcm-key"

# registry: one fixed query set over generated tables at this scale
REGISTRY_SF = 0.01  # the workload is named registry_sf0.01 after it
# untimed passes after the cold one: the JIT keeps speeding every query
# up for several passes, so timing them would make the median depend on
# how many passes a run fits in
REGISTRY_WARM_PASSES = 5
REGISTRY_QUERIES = (  # one per registry module the benchmark traces
    "a_cube_revenue",
    "a_group_delta",
    "a_hll_merge_rollup",
    "d_decontaminate",
    "f_json_extract",
    "q14_promo_revenue",
    "q1_pricing_summary",
    "t_bm25_topk",
)
# the registry modules those queries live in (per-layer metric names)
REGISTRY_MODULES = (
    "batch_queries",
    "extended_queries",
    "function_queries",
    "relational",
    "retrieval",
    "sketch_queries",
    "text_queries",
    "tpch_queries",
)


@dataclass
class Result:
    e2e: dict[str, float]
    layers: dict[str, float]
    attempted: int
    failed: int
    report: dict = field(default_factory=dict)


class Run:
    """One benchmark run: its work directory, session and optional
    tracer."""

    def __init__(self, work: Path, seed: int, seconds: float, tracer: Tracer | None):
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.spark = None
        self.setup_s = math.nan
        self.get_spark_s = math.nan
        self.t0 = time.perf_counter()
        self.phases: dict[str, float] = {}

    def mark(self, phase: str) -> None:
        """Record when ``phase`` ended, in seconds since the run began."""
        self.phases[phase] = round(time.perf_counter() - self.t0, 3)

    def span(self, name: str, tag=None):
        return self.tracer.span(name, tag) if self.tracer else contextlib.nullcontext()

    def setup(self, app: str, make_inputs):
        """Start a session and build the inputs, ``SETUP_REPS`` times
        (each after stopping the previous session); keeps the last and
        records the medians."""
        from sync_spark.session import get_spark

        totals, sessions = [], []
        inputs = None
        for rep in range(SETUP_REPS):
            if self.spark is not None:
                self.spark.stop()
            d = self.work / f"inputs{rep}"
            shutil.rmtree(d, ignore_errors=True)
            t0 = time.perf_counter()
            self.spark = get_spark(app)
            self.spark.range(1).count()
            t1 = time.perf_counter()
            inputs = make_inputs(d)
            totals.append(time.perf_counter() - t0)
            sessions.append(t1 - t0)
        self.setup_s = statistics.median(totals)
        self.get_spark_s = statistics.median(sessions)
        self.mark("setup")
        return inputs

    def cpu_s(self) -> float:
        """CPU seconds used so far by this process and the Spark JVM's
        process tree (Python workers included)."""
        from pyspark import SparkContext

        ru = resource.getrusage(resource.RUSAGE_SELF)
        total = ru.ru_utime + ru.ru_stime
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is None:
            return total
        tick = os.sysconf("SC_CLK_TCK")
        todo = [proc.pid]
        while todo:
            pid = todo.pop()
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
                with open(f"/proc/{pid}/task/{pid}/children") as fh:
                    todo += [int(c) for c in fh.read().split()]
            except FileNotFoundError:
                continue
            # utime, stime, and the same for children already reaped
            total += sum(int(x) for x in fields[11:15]) / tick
        return total

    def peak_rss_mb(self) -> float:
        """Peak resident set of this process plus the Spark JVM."""
        from pyspark import SparkContext

        kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            with open(f"/proc/{proc.pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        return kb / 1024.0


# -- CDC shared ------------------------------------------------------------


def _security_rules():
    """``name`` masked, ``balance`` AES-GCM encrypted."""
    from sync_spark.spec import FieldSecurity

    return [FieldSecurity("name", "masked"), FieldSecurity("balance", "encrypted")]


def _row_schema():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("balance", T.DoubleType()),
        ]
    )


def _cdc_dirs(run: Run) -> dict[str, str]:
    dirs = {k: str(run.work / "cdc" / k) for k in ["target", "events", "ckpt", "dlq", "stats", "check"]}
    os.makedirs(dirs["events"], exist_ok=True)
    os.makedirs(dirs["check"], exist_ok=True)
    return dirs


def _pipeline(run: Run, dirs: dict[str, str]):
    """The CDC task under test: one secured table, one event file per
    trigger, DLQ and apply stats on."""
    from sync_spark.spec import SyncSpec
    from sync_spark.streaming.pipeline import CdcPipeline, TableTarget

    return CdcPipeline(
        run.spark,
        SyncSpec(task_id=1, type="parquet", field_security={"accounts": _security_rules()}),
        [TableTarget("accounts", dirs["target"], _row_schema(), ["id"])],
        event_log_dir=dirs["events"],
        checkpoint_dir=dirs["ckpt"],
        dlq_path=dirs["dlq"],
        security_key=SECURITY_KEY,
        max_files_per_trigger=1,
        stats_path=dirs["stats"],
        n_buckets=N_BUCKETS,
    )


def _data_progress(query) -> list[dict]:
    return [p for p in query.recentProgress if p.get("numInputRows", 0) > 0]


def _generator_bad(run: Run, n_files: int, per_file: int) -> int:
    """The generator's own count of bad (null-key) events in its first
    ``n_files`` files -- the DLQ's expected size."""
    from bench_streaming import build_log

    d = run.work / "recount"
    shutil.rmtree(d, ignore_errors=True)
    bad = build_log(str(d), n_files, per_file, seed=run.seed)["bad"]
    shutil.rmtree(d, ignore_errors=True)
    return bad


def _check_cdc(run: Run, dirs, files: list[str], n_snapshot: int, per_file: int):
    """(attempted, failed, detail): one attempt per target key plus one
    for the DLQ count."""
    checked, wrong = oracle.check_target(
        run.spark,
        dirs["target"],
        files,
        n_snapshot,
        dirs["check"],
        security_key=SECURITY_KEY,
    )
    dlq_rows = run.spark.read.parquet(dirs["dlq"]).count() if os.path.isdir(dirs["dlq"]) else 0
    want_bad = _generator_bad(run, len(files), per_file)
    detail = {"target_keys": checked, "target_wrong": wrong, "dlq_rows": dlq_rows, "dlq_expected": want_bad}
    return checked + 1, wrong + (dlq_rows != want_bad), detail


def _install_cdc_spans(run: Run, dirs: dict[str, str]) -> dict[int, dict]:
    """Patch the CDC layer boundaries; returns {overwrite span id:
    written-layout facts} filled in as batches run."""
    import pyarrow.parquet as pq
    from pyspark.sql.readwriter import DataFrameWriter

    from sync_spark.streaming import pipeline as pl

    tr = run.tracer
    tr.patch(pl.CdcPipeline, "_apply_batch", "addBatch", lambda self, batch, batch_id: batch_id)
    tr.patch(pl.CdcPipeline, "_batch_summary", "summary")
    tr.patch(pl, "write_bucketed", "write_bucketed")

    written: dict[int, dict] = {}
    orig_overwrite = pl.overwrite_buckets
    orig_parquet = DataFrameWriter.parquet

    def overwrite_buckets(merged, path, keys, n_buckets, touched):
        touched = sorted(set(touched))
        with tr.span("overwrite_buckets") as rec:
            orig_overwrite(merged, path, keys, n_buckets, touched)
        files = [
            os.path.join(path, f"__bucket={b}", f)
            for b in touched
            for f in os.listdir(os.path.join(path, f"__bucket={b}"))
            if f.endswith(".parquet")
        ]
        written[rec["id"]] = {
            "touched": len(touched),
            "files": len(files),
            "bytes": sum(os.path.getsize(f) for f in files),
            "rows": sum(pq.ParquetFile(f).metadata.num_rows for f in files),
        }

    def parquet(self, path, *args, **kwargs):
        name = (
            "dlq_write"
            if str(path).startswith(dirs["dlq"])
            else "stats_write"
            if str(path).startswith(dirs["stats"])
            else None
        )
        if name is None:
            return orig_parquet(self, path, *args, **kwargs)
        with tr.span(name):
            return orig_parquet(self, path, *args, **kwargs)

    tr.swap(pl, "overwrite_buckets", overwrite_buckets)
    tr.swap(DataFrameWriter, "parquet", parquet)
    return written


def _cdc_layers(run: Run, progress: list[dict], written: dict[int, dict], folded) -> dict[str, float]:
    """Per-layer figures over the measured batches (``progress``)."""
    tr = run.tracer
    by_batch = {p["batchId"]: p for p in progress}
    adds = [s for s in tr.spans if s["name"] == "addBatch" and s["tag"] in by_batch]
    counts = rollup(tr, folded, {"addBatch"})
    n = max(len(adds), 1)

    def mean(xs):
        return sum(xs) / n

    per = []
    for s in adds:
        parts = {k: tr.children_ms(s["id"], k) for k in ["summary", "dlq_write", "stats_write", "overwrite_buckets"]}
        total = (s["end"] - s["start"]) * 1000.0
        ow = [written[c["id"]] for c in tr.spans if c["parent"] == s["id"] and c["id"] in written]
        events = by_batch[s["tag"]]["numInputRows"]
        per.append((total, parts, ow, events, counts.get(s["id"], {})))
    dur = [p["durationMs"] for p in progress]
    return {
        "stream.overhead_ms": statistics.median([d["triggerExecution"] - d.get("addBatch", 0) for d in dur]),
        "stream.walCommit_ms": statistics.median([d.get("walCommit", 0) for d in dur]),
        "pipeline.addBatch_ms": statistics.median([t for t, *_ in per]) if per else 0.0,
        "pipeline.summary_ms": mean(p[1]["summary"] for p in per),
        "pipeline.dlq_write_ms": mean(p[1]["dlq_write"] for p in per),
        "pipeline.stats_write_ms": mean(p[1]["stats_write"] for p in per),
        "pipeline.self_ms": mean(p[0] - sum(p[1].values()) for p in per),
        "pipeline.jobs_per_batch": mean(p[4].get("jobs", 0) for p in per),
        "pipeline.stages_per_batch": mean(p[4].get("stages", 0) for p in per),
        "pipeline.tasks_per_batch": mean(p[4].get("tasks", 0) for p in per),
        "bucketed.overwrite_buckets_ms": mean(p[1]["overwrite_buckets"] for p in per),
        "bucketed.touched_frac": mean(sum(w["touched"] for w in p[2]) / N_BUCKETS for p in per),
        "bucketed.rows_rewritten_per_event": mean(sum(w["rows"] for w in p[2]) / p[3] for p in per),
        "bucketed.bytes_written_per_event": mean(sum(w["bytes"] for w in p[2]) / p[3] for p in per),
        "bucketed.files_written_per_batch": mean(sum(w["files"] for w in p[2]) for p in per),
    }


def _snapshot_layers(run: Run, target: str) -> dict[str, float]:
    """The snapshot's bucketed write: called right after it, while the
    target holds only the snapshot."""
    spans = [s for s in run.tracer.spans if s["name"] == "write_bucketed"]
    size = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(target)
        for f in fs
        if f.endswith(".parquet")
    )
    return {
        "snapshot.write_bucketed_ms": sum((s["end"] - s["start"]) * 1000.0 for s in spans),
        "snapshot.bytes_written": float(size),
    }


def _release(staged: list[str], events_dir: str, n: int) -> list[str]:
    """Move the next ``n`` staged event files into the watched log."""
    out = []
    for src in staged[:n]:
        dst = os.path.join(events_dir, os.path.basename(src))
        os.rename(src, dst)
        out.append(dst)
    del staged[:n]
    return out


# -- cdc_drain_small --------------------------------------------------------


def _reads(run: Run, dirs: dict[str, str], src, n_events: int) -> list[tuple[str, float, bool]]:
    """Serving reads of the drained target: point lookups of snapshot
    keys (never touched by the log), a monitor row-count tick and the
    apply-stats rollup. Returns (kind, ms, answer right) per read."""
    from sync_spark.operators.monitor import apply_stats_totals, monitor_tick
    from sync_spark.sources.bucketed import lookup_keys, read_target

    spark = run.spark
    rnd = random.Random(run.seed)
    out = []
    for i in range(READS_PER_KIND):
        for kind in ("lookup", "monitor", "stats"):
            t0 = time.perf_counter()
            with run.span(f"read.{kind}", tag=i):
                if kind == "lookup":
                    keys = rnd.sample(range(DRAIN_SNAPSHOT_ROWS), LOOKUP_KEYS)
                    rows = lookup_keys(spark, dirs["target"], [(k,) for k in keys]).collect()
                    ok = sorted(r["id"] for r in rows) == sorted(keys) and all(
                        r["name"] == "*" * len(f"s{r['id']}") for r in rows
                    )
                elif kind == "monitor":
                    pairs = {"accounts": (src, read_target(spark, dirs["target"]))}
                    (row,) = monitor_tick(spark, 1, pairs, logged_at=datetime(2024, 1, 1)).collect()
                    ok = row["src_count"] == DRAIN_SNAPSHOT_ROWS and (
                        DRAIN_SNAPSHOT_ROWS <= row["tgt_count"] <= DRAIN_SNAPSHOT_ROWS + n_events
                    )
                else:
                    rows = apply_stats_totals(spark, dirs["stats"]).collect()
                    ok = 0 < sum(r["total"] for r in rows) <= n_events
            out.append((kind, (time.perf_counter() - t0) * 1000.0, ok))
    return out


def cdc_drain_small(run: Run) -> Result:
    """Closed loop: drain a backlog of 500-event files one file per
    trigger (availableNow) into a 1k-row bucketed target whose ``name``
    is masked and ``balance`` AES-GCM encrypted, then serve reads from
    it. Unit of work: one micro-batch."""
    from bench_streaming import build_log
    from pyspark.sql import functions as F

    from sync_spark.functions.security import apply_security_rules
    from sync_spark.streaming.pipeline import snapshot_if_empty

    def make_inputs(d: Path) -> str:
        build_log(str(d), DRAIN_MAX_FILES, DRAIN_EVENTS_PER_FILE, seed=run.seed)
        return str(d)

    staging = run.setup("perfbench_cdc_drain_small", make_inputs)
    staged = sorted(os.path.join(staging, f) for f in os.listdir(staging) if f.endswith(".jsonl"))
    spark = run.spark
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", str(DRAIN_MAX_FILES + 10))
    dirs = _cdc_dirs(run)
    written = _install_cdc_spans(run, dirs) if run.tracer else {}

    src = spark.range(DRAIN_SNAPSHOT_ROWS).select(
        F.col("id"),
        F.concat(F.lit("s"), F.col("id").cast("string")).alias("name"),
        F.col("id").cast("double").alias("balance"),
    )
    secured = apply_security_rules(src, _security_rules(), key=SECURITY_KEY)
    snapshot_if_empty(spark, secured, dirs["target"], key_cols=["id"], n_buckets=N_BUCKETS)
    snap_layers = _snapshot_layers(run, dirs["target"]) if run.tracer else {}
    pipe = _pipeline(run, dirs)
    run.mark("snapshot")

    released = _release(staged, dirs["events"], DRAIN_WARM_FILES)
    t0 = time.perf_counter()
    q = pipe.start(trigger_once=True)
    q.awaitTermination()
    cold_s = time.perf_counter() - t0
    warm = _data_progress(q)
    run.mark("warm-up")
    per_batch_s = warm[-1]["durationMs"]["triggerExecution"] / 1000.0
    n = min(max(math.ceil(run.seconds / per_batch_s), 3), len(staged))

    backlog = _release(staged, dirs["events"], n)
    released += backlog
    t_release = time.time()
    cpu0 = run.cpu_s()
    q = pipe.start(trigger_once=True)
    q.awaitTermination()
    cpu_drain = run.cpu_s() - cpu0
    measured = _data_progress(q)
    run.mark("drain")
    lat = [p["durationMs"]["triggerExecution"] for p in measured]
    events = sum(p["numInputRows"] for p in measured)
    # how long each backlog file waited until its batch committed
    commits = ckpt.file_commit_times(dirs["ckpt"])
    visible = [(commits[f] - t_release) * 1000.0 for f in backlog]

    n_events = len(released) * DRAIN_EVENTS_PER_FILE
    reads = _reads(run, dirs, src, n_events)
    run.mark("reads")
    attempted, failed, detail = _check_cdc(run, dirs, released, DRAIN_SNAPSHOT_ROWS, DRAIN_EVENTS_PER_FILE)
    attempted += len(reads)
    failed += sum(1 for *_, ok in reads if not ok)
    run.mark("check")

    e2e = {
        "throughput_per_s": events / (sum(lat) / 1000.0),
        "latency_p50_ms": statistics.median(lat),
    }
    report = {
        "events_per_s": e2e["throughput_per_s"],
        "batch_p50_ms": e2e["latency_p50_ms"],
        "batch_ms": summary(lat),
        "backlog_visible_ms": summary(visible),
        "cpu_ms_per_event": cpu_drain * 1000.0 / events,
        "warm_up_drain_s": cold_s,
        "read_ms": {k: summary([ms for kk, ms, _ in reads if kk == k]) for k in ("lookup", "monitor", "stats")},
        "batches": [(p["batchId"], p["numInputRows"], p["durationMs"]["triggerExecution"]) for p in warm + measured],
        "check": detail,
    }
    layers = {"__cdc__": (measured, written), "__reads__": reads, **snap_layers} if run.tracer else {}
    return Result(e2e, layers, attempted, failed, report)


# -- registry ---------------------------------------------------------------


def registry(run: Run) -> Result:
    """Closed loop, one client: the fixed query set over generated
    tables, each query run cold once, then in ``REGISTRY_WARM_PASSES``
    untimed warm-up passes, then in timed passes for the run's
    duration, in sorted order, caches evicted after every execution.
    Every execution is checked. Unit of work: one timed query
    execution."""
    from perfbench import datagen
    from sync_spark.registry import all_queries

    def make_inputs(d: Path) -> str:
        datagen.write_tables(str(d), run.seed, REGISTRY_SF)
        return str(d)

    sf_dir = run.setup("perfbench_registry", make_inputs)
    spark = run.spark
    specs = [all_queries()[n] for n in sorted(REGISTRY_QUERIES)]
    want = oracle.oracle_row_counts(sf_dir, specs)

    # start the Python worker pool (arrow and pandas imports) outside
    # the timed executions, as users of a warm session never pay it
    def _ident(it):
        yield from it

    spark.range(8).repartition(4).mapInPandas(_ident, "id long").count()

    times: dict[str, list[float]] = {s.name: [] for s in specs}
    attempted = failed = 0
    mismatches: list[str] = []

    def execute(spec, tag: str) -> float:
        nonlocal attempted, failed
        attempted += 1
        with run.span("query", tag=tag):
            t0 = time.perf_counter()
            with run.span("construct"):
                df = spec.spark_fn(spark, sf_dir)
            with run.span("action"):
                n = df.count()
            dt = time.perf_counter() - t0
        if spec.name in want and n != want[spec.name]:
            failed += 1
            mismatches.append(f"{tag}: {n} rows, oracle {want[spec.name]}")
        del df
        spark.catalog.clearCache()
        gc.collect()
        return dt

    cold = [execute(s, f"{s.name}#0") for s in specs]
    for w in range(1, REGISTRY_WARM_PASSES + 1):
        for s in specs:
            execute(s, f"{s.name}#w{w}")
    passes = 0
    cpu0 = run.cpu_s()
    t_warm = time.perf_counter()
    while passes == 0 or time.perf_counter() - t_warm < run.seconds:
        passes += 1
        for s in specs:
            times[s.name].append(execute(s, f"{s.name}#{passes}"))
    cpu_warm = run.cpu_s() - cpu0
    warm = [t for ts in times.values() for t in ts]
    suites = [sum(times[s.name][p] for s in specs) for p in range(passes)]
    e2e = {
        "throughput_per_s": len(warm) / sum(warm),
        "latency_p50_ms": statistics.median(warm) * 1000.0,
    }
    report = {
        "suite_s": statistics.median(suites),
        "cold_suite_s": sum(cold),
        "query_ms": summary([t * 1000.0 for t in warm]),
        "warm_passes": passes,
        "cpu_ms_per_query": cpu_warm * 1000.0 / len(warm),
        "per_query_warm_p50_ms": {n: statistics.median(ts) * 1000.0 for n, ts in times.items()},
        "oracle_mismatches": mismatches,
    }
    layers = {"__registry__": (specs, passes)} if run.tracer else {}
    return Result(e2e, layers, attempted, failed, report)


def _registry_layers(run: Run, specs, passes: int, folded) -> dict[str, float]:
    tr = run.tracer
    counts = rollup(tr, folded, {"query"})
    module = {s.name: s.spark_fn.__module__.rsplit(".", 1)[-1] for s in specs}
    out = {}
    for m in REGISTRY_MODULES:
        for k in ["construct_s", "action_s", "jobs", "tasks", "shuffle_bytes", "spill_bytes", "gc_ms"]:
            out[f"operators.{m}.{k}"] = 0.0
    for s in tr.spans:
        if s["name"] != "query":
            continue
        name, pass_ = s["tag"].rsplit("#", 1)
        if pass_ == "0" or pass_.startswith("w"):  # cold and warm-up passes
            continue
        m = module[name]
        c = counts.get(s["id"], {})
        acc = {
            "construct_s": tr.children_ms(s["id"], "construct") / 1000.0,
            "action_s": tr.children_ms(s["id"], "action") / 1000.0,
            "jobs": c.get("jobs", 0),
            "tasks": c.get("tasks", 0),
            "shuffle_bytes": c.get("shuffle_bytes", 0),
            "spill_bytes": c.get("spill_bytes", 0),
            "gc_ms": c.get("gc_ms", 0),
        }
        for k, v in acc.items():
            out[f"operators.{m}.{k}"] += v / passes
    return out


def _read_layers(run: Run, reads, folded) -> dict[str, float]:
    tr = run.tracer
    counts = rollup(tr, folded, {"read.lookup", "read.monitor", "read.stats"})
    spans = [s for s in tr.spans if s["name"].startswith("read.")]
    lookups = [s for s in spans if s["name"] == "read.lookup"]
    scanned = sum(counts.get(s["id"], {}).get("records_read", 0) for s in lookups)
    return {
        "read.p50_ms": statistics.median([ms for _, ms, _ in reads]),
        "read.jobs_per_read": sum(counts.get(s["id"], {}).get("jobs", 0) for s in spans) / max(len(spans), 1),
        "read.rows_scanned_per_key": scanned / max(len(lookups) * LOOKUP_KEYS, 1),
    }


def layer_metrics(run: Run, result: Result, event_log_dir: str, names: dict[str, str]):
    """Fold the spans and the event log into every per-layer metric
    (layers the workload bypasses read 0), plus the exact
    [jobs, stages, tasks] of every micro-batch and query execution."""
    folded = read_event_logs(event_log_dir)
    out = dict.fromkeys(names, 0.0)
    out["session.get_spark_s"] = run.get_spark_s
    raw = result.layers
    if "__cdc__" in raw:
        measured, written = raw["__cdc__"]
        out.update(_cdc_layers(run, measured, written, folded))
    if "__reads__" in raw:
        out.update(_read_layers(run, raw["__reads__"], folded))
    if "__registry__" in raw:
        out.update(_registry_layers(run, *raw["__registry__"], folded))
    for k, v in raw.items():
        if not k.startswith("__"):
            out[k] = v
    unknown = set(out) - set(names)
    if unknown:
        raise KeyError(f"per-layer metrics not declared: {sorted(unknown)}")
    counts = rollup(run.tracer, folded, {"addBatch", "query"})
    units = {
        f"{s['name']}:{s['tag']}": [counts[s["id"]][k] for k in ("jobs", "stages", "tasks")]
        for s in run.tracer.spans
        if s["id"] in counts
    }
    untagged = folded.get(None, {}).get("jobs", 0)
    return out, units, untagged


WORKLOADS = {
    "cdc_drain_small": cdc_drain_small,
    "registry_sf0.01": registry,
}
