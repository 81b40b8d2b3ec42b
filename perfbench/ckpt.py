"""Reads a Structured Streaming checkpoint's on-disk logs to map each
event file to the micro-batch that consumed it and each batch to the
wall-clock time it committed.

Layout (single file source, as CdcPipeline writes it):

- ``sources/0/<j>`` and ``<j>.compact``: ``v1`` then one JSON entry per
  discovered file, ``{"path", "timestamp", "batchId": j}``; a compact
  file repeats every earlier entry with its original ``batchId``;
- ``offsets/<b>``: ``v1``, batch metadata, then the source offset
  ``{"logOffset": j}`` -- batch b read every log index up to j;
- ``commits/<b>``: written when batch b has been applied.
"""

from __future__ import annotations

import bisect
import json
import os
from urllib.parse import unquote, urlparse


def _numbered(d: str) -> list[str]:
    return [e for e in os.listdir(d) if e.isdigit()] if os.path.isdir(d) else []


def batch_log_offsets(checkpoint_dir: str) -> dict[int, int]:
    """{batch id: last source-log index the batch read}."""
    out = {}
    d = os.path.join(checkpoint_dir, "offsets")
    for e in _numbered(d):
        with open(os.path.join(d, e)) as fh:
            lines = [ln for ln in fh.read().splitlines() if ln.strip()]
        out[int(e)] = int(json.loads(lines[2])["logOffset"])
    return out


def file_log_index(checkpoint_dir: str) -> dict[str, int]:
    """{absolute file path: source-log index it was discovered at}."""
    out: dict[str, int] = {}
    d = os.path.join(checkpoint_dir, "sources", "0")
    if not os.path.isdir(d):
        return out
    for entry in os.listdir(d):
        base = entry[: -len(".compact")] if entry.endswith(".compact") else entry
        if not base.isdigit():
            continue
        with open(os.path.join(d, entry)) as fh:
            for ln in fh:
                ln = ln.strip()
                if not ln or ln == "v1":
                    continue
                rec = json.loads(ln)
                path = os.path.abspath(unquote(urlparse(rec["path"]).path))
                out[path] = int(rec.get("batchId", base))
    return out


def file_batches(checkpoint_dir: str) -> dict[str, int]:
    """{absolute file path: id of the micro-batch that consumed it}: the
    first batch whose log offset reaches the file's log index."""
    offsets = batch_log_offsets(checkpoint_dir)
    batches = sorted(offsets)
    cuts = [offsets[b] for b in batches]
    out = {}
    for path, idx in file_log_index(checkpoint_dir).items():
        i = bisect.bisect_left(cuts, idx)
        if i < len(batches):
            out[path] = batches[i]
    return out


def commit_times(checkpoint_dir: str) -> dict[int, float]:
    """{batch id: epoch seconds its commit marker was written}."""
    d = os.path.join(checkpoint_dir, "commits")
    return {int(e): os.stat(os.path.join(d, e)).st_mtime for e in _numbered(d)}


def file_commit_times(checkpoint_dir: str) -> dict[str, float]:
    """{absolute file path: commit time of the batch that consumed it},
    for committed batches only."""
    commits = commit_times(checkpoint_dir)
    return {
        p: commits[b] for p, b in file_batches(checkpoint_dir).items() if b in commits
    }
