"""The benchmark's own tests: input generation, the percentile rule, the
event-log fold, the checkpoint file-to-batch mapping and the metric
names BENCHMARK.json declares. None of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import ckpt, datagen  # noqa: E402
from perfbench.stats import percentile, summary, tail_percentile  # noqa: E402
from perfbench.trace import SPAN_PROP, Tracer, fold_event_log, rollup  # noqa: E402


def test_registry_tables_are_deterministic_per_seed():
    a, b, c = datagen.tables(5, 0.001), datagen.tables(5, 0.001), datagen.tables(6, 0.001)
    assert sorted(a) == sorted(datagen.tables(5, 0.001)) and len(a) == 10
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == 6000 and a["orders"].num_rows == 1500


def test_event_log_is_deterministic_per_seed(tmp_path):
    from bench_streaming import build_log

    counts = [build_log(str(tmp_path / d), 3, 50, seed=s) for d, s in [("a", 4), ("b", 4), ("c", 9)]]
    assert counts[0] == counts[1]
    files = sorted(p.name for p in (tmp_path / "a").iterdir())
    assert [(tmp_path / "a" / f).read_bytes() for f in files] == [
        (tmp_path / "b" / f).read_bytes() for f in files
    ]
    assert (tmp_path / "a" / files[0]).read_bytes() != (tmp_path / "c" / files[0]).read_bytes()


@pytest.mark.parametrize(
    "n,want", [(1, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0), (10000, 99.9)]
)
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert tail_percentile(n) == want


def test_percentile_is_nearest_rank_and_summary_names_it():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50 and percentile(xs, 90) == 90 and percentile(xs, 100) == 100
    assert summary([float(x) for x in xs]) == {"n": 100, "p50": 50.5, "p90": 90.0}
    assert summary([1.0, 2.0, 3.0]) == {"n": 3, "p50": 2.0}


def _ev(kind, **kw):
    return json.dumps({"Event": kind, **kw})


def test_event_log_fold_counts_only_submitted_stages():
    tagged = {SPAN_PROP: "2"}
    lines = [
        _ev("SparkListenerJobStart", **{"Job ID": 0, "Stage IDs": [0, 1], "Properties": tagged}),
        _ev("SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": 1}, "Properties": tagged}),
        _ev(
            "SparkListenerTaskEnd",
            **{
                "Stage ID": 1,
                "Task Metrics": {
                    "JVM GC Time": 7,
                    "Memory Bytes Spilled": 100,
                    "Disk Bytes Spilled": 10,
                    "Shuffle Write Metrics": {"Shuffle Bytes Written": 64},
                    "Input Metrics": {"Records Read": 5},
                    "Output Metrics": {"Records Written": 3, "Bytes Written": 900},
                },
            },
        ),
        _ev("SparkListenerTaskEnd", **{"Stage ID": 1, "Task Metrics": {"JVM GC Time": 1}}),
        _ev("SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 1}}),
        # stage 0 was skipped (shuffle reused): listed by the job, never run
        _ev("SparkListenerJobEnd", **{"Job ID": 0}),
        _ev("SparkListenerJobStart", **{"Job ID": 1, "Stage IDs": [2], "Properties": {}}),
        _ev("SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": 2}}),
        _ev("SparkListenerTaskEnd", **{"Stage ID": 2, "Task Metrics": {}}),
        _ev("SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 2}}),
        "",
    ]
    folded = fold_event_log(lines)
    assert folded["2"] == {
        "jobs": 1,
        "stages": 1,
        "tasks": 2,
        "gc_ms": 8,
        "shuffle_bytes": 64,
        "spill_bytes": 110,
        "records_read": 5,
        "records_written": 3,
        "bytes_written": 900,
    }
    assert folded[None]["jobs"] == 1 and folded[None]["tasks"] == 1

    # span 2 is a child of root span 1: its counts roll up to the root
    tr = Tracer()
    tr.spans = [
        {"id": 1, "name": "query", "tag": "q#1", "parent": None, "start": 0.0, "end": 2.0},
        {"id": 2, "name": "action", "tag": "q#1", "parent": 1, "start": 0.5, "end": 1.5},
    ]
    assert rollup(tr, folded, {"query"})[1]["tasks"] == 2
    assert tr.children_ms(1, "action") == pytest.approx(1000.0)


def _write(path: Path, *lines: str) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text("\n".join(lines) + "\n")


def test_files_map_to_the_batch_that_read_them(tmp_path):
    ck = tmp_path / "ckpt"
    ev = tmp_path / "events"
    f = [str(ev / f"events-{i:010d}.jsonl") for i in range(1, 5)]

    def entry(path, idx):
        return json.dumps({"path": f"file://{path}", "timestamp": 1, "batchId": idx})

    # log index 0 and 1 hold one file each, index 2 two files; a compact
    # file at index 2 repeats the earlier entries with their own index
    _write(ck / "sources" / "0" / "0", "v1", entry(f[0], 0))
    _write(ck / "sources" / "0" / "1", "v1", entry(f[1], 1))
    _write(ck / "sources" / "0" / "2.compact", "v1", entry(f[0], 0), entry(f[1], 1), entry(f[2], 2), entry(f[3], 2))
    # batch 0 read index 0; batch 1 read indexes 1-2 (three files)
    _write(ck / "offsets" / "0", "v1", "{}", json.dumps({"logOffset": 0}))
    _write(ck / "offsets" / "1", "v1", "{}", json.dumps({"logOffset": 2}))
    assert ckpt.file_batches(str(ck)) == {f[0]: 0, f[1]: 1, f[2]: 1, f[3]: 1}

    # only batch 0 committed: only its file has a commit time
    _write(ck / "commits" / "0", "v1", "{}")
    times = ckpt.file_commit_times(str(ck))
    assert list(times) == [f[0]]
    assert times[f[0]] == pytest.approx((ck / "commits" / "0").stat().st_mtime)


def test_benchmark_json_names_the_traced_registry_modules():
    from perfbench.workloads import REGISTRY_MODULES, REGISTRY_QUERIES, WORKLOADS
    from sync_spark.registry import all_queries

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {w["name"] for w in bench["workloads"]} == set(WORKLOADS)
    specs = all_queries()
    assert sorted({specs[q].spark_fn.__module__.rsplit(".", 1)[-1] for q in REGISTRY_QUERIES}) == list(
        REGISTRY_MODULES
    )
    traced = {m["name"].split(".")[1] for m in bench["per_layer"] if m["name"].startswith("operators.")}
    assert traced == set(REGISTRY_MODULES)
