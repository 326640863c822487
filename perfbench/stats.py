"""Pure helpers: percentiles and streaming latency from a checkpoint.

Nothing here imports Spark, so the unit tests run without a JVM.
"""

from __future__ import annotations

import json
import math
import os
from urllib.parse import unquote, urlparse


def percentile(values: list[float], p: float) -> float:
    """The ``p``-th percentile (0..100) with linear interpolation
    between the closest ranks (NumPy's default method)."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50)


def _log_entries(path: str) -> list[dict]:
    """Entries of one file-source log file: a version line, then one
    JSON object per line."""
    with open(path) as fh:
        lines = fh.read().splitlines()
    return [json.loads(ln) for ln in lines[1:] if ln.strip()]


def _batch_files(log_dir: str) -> list[tuple[int, str]]:
    """(batch id, path) of the log files in a checkpoint directory:
    ``N`` or ``N.compact``; checksums and temporaries are skipped."""
    out = []
    for name in os.listdir(log_dir):
        stem = name[: -len(".compact")] if name.endswith(".compact") else name
        if stem.isdigit():
            out.append((int(stem), os.path.join(log_dir, name)))
    return sorted(out)


def first_batch_per_file(sources_dir: str) -> dict[str, int]:
    """File name -> id of the first micro-batch that read it.

    Every ``N.compact`` file repeats the entries of all earlier
    batches, each with its own original ``batchId``; taking the
    smallest id per file keeps a compaction from re-dating old files.
    """
    first: dict[str, int] = {}
    for _, path in _batch_files(sources_dir):
        for e in _log_entries(path):
            name = os.path.basename(unquote(urlparse(e["path"]).path))
            b = int(e["batchId"])
            if name not in first or b < first[name]:
                first[name] = b
    return first


def commit_times(commits_dir: str) -> dict[int, float]:
    """Batch id -> modification time of its commit file (epoch s)."""
    return {
        b: os.stat(path).st_mtime_ns / 1e9 for b, path in _batch_files(commits_dir)
    }


def file_latencies(
    first_batch: dict[str, int],
    commits: dict[int, float],
    due: dict[str, float],
) -> tuple[dict[str, float], list[str]]:
    """(file -> latency s, files never delivered). A file's latency is
    the commit time of the first batch that read it minus the time it
    was due to land."""
    lat, missing = {}, []
    for name, t_due in due.items():
        b = first_batch.get(name)
        if b is None or b not in commits:
            missing.append(name)
        else:
            lat[name] = commits[b] - t_due
    return lat, missing


def backlog_max(landed: list[float], delivered: list[float]) -> int:
    """Largest number of files landed but not yet delivered at any
    instant, from the landing and delivery times of each file."""
    events = [(t, 1) for t in landed] + [(t, -1) for t in delivered]
    # at equal times count the delivery first: a file delivered the
    # instant another lands never overlapped it
    events.sort(key=lambda e: (e[0], e[1]))
    depth = worst = 0
    for _, step in events:
        depth += step
        worst = max(worst, depth)
    return worst
