"""Unit tests of the percentile and checkpoint-latency helpers."""

import json
import os

import pytest

import probe
import stats


def test_percentile_interpolates_between_ranks():
    xs = [4.0, 1.0, 3.0, 2.0, 5.0]
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 50) == 3.0
    assert stats.percentile(xs, 100) == 5.0
    assert stats.percentile(xs, 90) == pytest.approx(4.6)
    assert stats.percentile([1.0, 2.0], 50) == 1.5
    assert stats.percentile([7.0], 90) == 7.0


def test_percentile_matches_the_sample_count_rule():
    # 100 samples leave 10 beyond the 90th percentile
    xs = [float(i) for i in range(1, 101)]
    assert stats.percentile(xs, 90) == pytest.approx(90.1)
    assert sum(x > stats.percentile(xs, 90) for x in xs) == 10


def test_percentile_of_nothing_raises():
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def _write_log(path, batch_entries):
    with open(path, "w") as fh:
        fh.write("v1\n")
        for name, batch in batch_entries:
            fh.write(json.dumps({"path": f"file:///data/in/{name}",
                                 "timestamp": 0, "batchId": batch}) + "\n")


def _checkpoint(tmp_path, batches):
    """A file-source log as Spark writes it with compactInterval 3:
    batch 2 is a compaction that repeats batches 0 and 1."""
    src = tmp_path / "sources" / "0"
    src.mkdir(parents=True)
    entries = [(f"f{i}.parquet", b) for b, files in enumerate(batches) for i in files]
    for b, files in enumerate(batches):
        own = [(f"f{i}.parquet", b) for i in files]
        if b == 2:
            upto = [e for e in entries if e[1] <= 2]
            _write_log(src / "2.compact", upto)
        else:
            _write_log(src / str(b), own)
    (src / ".1.crc").write_text("x")
    return str(src)


def test_first_batch_ignores_compaction_repeats(tmp_path):
    src = _checkpoint(tmp_path, [[0, 1], [2], [3, 4], [5]])
    first = stats.first_batch_per_file(src)
    assert first == {"f0.parquet": 0, "f1.parquet": 0, "f2.parquet": 1,
                     "f3.parquet": 2, "f4.parquet": 2, "f5.parquet": 3}


def test_latency_from_commit_of_first_batch(tmp_path):
    src = _checkpoint(tmp_path, [[0, 1], [2], [3, 4], [5]])
    commits = tmp_path / "commits"
    commits.mkdir()
    for b, t in enumerate([100.0, 101.0, 103.0]):  # batch 3 never committed
        (commits / str(b)).write_text("v1\n{}\n")
        os.utime(commits / str(b), (t, t))
    ct = stats.commit_times(str(commits))
    assert ct == {0: 100.0, 1: 101.0, 2: 103.0}
    due = {f"f{i}.parquet": 99.5 for i in range(6)}
    due["f6.parquet"] = 99.5  # never read by any batch
    lat, missing = stats.file_latencies(stats.first_batch_per_file(src), ct, due)
    assert lat == {"f0.parquet": 0.5, "f1.parquet": 0.5, "f2.parquet": 1.5,
                   "f3.parquet": 3.5, "f4.parquet": 3.5}
    assert sorted(missing) == ["f5.parquet", "f6.parquet"]


def test_backlog_max():
    assert stats.backlog_max([0, 1, 2], [0.5, 1.5, 2.5]) == 1
    assert stats.backlog_max([0, 1, 2], [3, 3, 3]) == 3
    # a delivery at the instant of the next landing frees its slot first
    assert stats.backlog_max([0, 1], [1, 2]) == 1
    assert stats.backlog_max([], []) == 0


def test_parse_size_of_sql_metrics():
    assert probe.parse_size("5.6 MiB") == pytest.approx(5.6 * 2**20)
    assert probe.parse_size("0.0 B") == 0.0
    assert probe.parse_size(
        "total (min, med, max (stageId: taskId))\n12.3 MiB (1.0 KiB, 2.0 MiB, 3.0 MiB "
        "(stage 3.0: task 7))") == pytest.approx(12.3 * 2**20)
    assert probe.parse_size("1,024.0 KiB") == pytest.approx(1024 * 1024)
