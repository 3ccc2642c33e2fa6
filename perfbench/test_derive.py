"""Tests for the benchmark's derivations.

    python3 -m pytest perfbench/test_derive.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import derive  # noqa: E402
import layers  # noqa: E402


def test_prefix_self_subtracts_successive_prefixes():
    totals = [("sources.pages", 1.0), ("operators.parse", 3.5),
              ("operators.route", 4.0), ("operators.aggregate", 4.25)]
    assert derive.prefix_self(totals) == {
        "sources.pages": 1.0, "operators.parse": 2.5,
        "operators.route": 0.5, "operators.aggregate": 0.25,
    }


def test_prefix_self_keeps_negative_noise():
    assert derive.prefix_self([("a", 2.0), ("b", 1.9)])["b"] == pytest.approx(-0.1)


def test_tail_has_ten_samples_beyond():
    t = derive.tail([float(i) for i in range(1, 41)])  # 1..40
    assert t == {"value": 30.0, "percentile": 75.0, "n": 40, "beyond": 10, "short": False}


def test_tail_exactly_eleven_samples():
    t = derive.tail([float(i) for i in range(11)])
    assert (t["value"], t["beyond"], t["short"]) == (0.0, 10, False)


def test_tail_too_few_samples_reports_max():
    t = derive.tail([3.0, 1.0, 2.0])
    assert (t["value"], t["percentile"], t["short"]) == (3.0, 100.0, True)


def test_tail_rejects_empty():
    with pytest.raises(ValueError):
        derive.tail([])


def test_count_failed():
    assert derive.count_failed([True, False, True, False, False]) == (5, 3)
    assert derive.count_failed([]) == (0, 0)


def _log(path, entries):
    with open(path, "w") as f:
        f.write("v1\n" + "".join(json.dumps(e) + "\n" for e in entries))


def _entry(name, batch):
    return {"path": f"file:///w/watched/{name}", "timestamp": 1, "batchId": batch}


def test_file_batches_plain_and_compacted(tmp_path):
    log = tmp_path / "sources" / "0"
    log.mkdir(parents=True)
    # batches 0..9 compacted into 9.compact, then plain 10 and 11
    _log(log / "9.compact", [_entry(f"f{i}.parquet", i // 2) for i in range(20)])
    _log(log / "10", [_entry("f20.parquet", 10), _entry("f21.parquet", 10)])
    _log(log / "11", [_entry("f22.parquet", 11)])
    (log / ".11.crc").write_text("")
    got = derive.file_batches(str(log))
    assert got["f0.parquet"] == 0 and got["f19.parquet"] == 9
    assert got["f21.parquet"] == 10 and got["f22.parquet"] == 11
    assert len(got) == 23


def test_file_batches_overlapping_compact_and_plain_files_agree(tmp_path):
    log = tmp_path / "0"
    log.mkdir()
    _log(log / "1", [_entry("a.parquet", 1)])
    _log(log / "1.compact", [_entry("a.parquet", 1), _entry("b.parquet", 0)])
    assert derive.file_batches(str(log)) == {"a.parquet": 1, "b.parquet": 0}


def test_file_batches_missing_dir(tmp_path):
    assert derive.file_batches(str(tmp_path / "nope")) == {}


def test_commit_times_and_freshness(tmp_path):
    commits = tmp_path / "commits"
    commits.mkdir()
    for b, t in ((0, 100.0), (1, 103.0)):
        p = commits / str(b)
        p.write_text("v1\n{}\n")
        os.utime(p, (t, t))
    (commits / ".0.crc").write_text("")
    done = derive.commit_times(str(commits))
    assert done == {0: 100.0, 1: 103.0}
    visible = {"a": 99.0, "b": 101.5, "c": 102.0, "d": 102.5}
    batch_of = {"a": 0, "b": 1, "c": 2}
    lat, missing = derive.freshness(visible, batch_of, done)
    assert lat == {"a": 1.0, "b": 1.5}
    assert missing == ["c", "d"]  # c's batch never committed, d never taken


def test_backlog_max_counts_waiting_files_at_batch_starts():
    visible = {"a": 0.0, "b": 0.1, "c": 0.2, "d": 1.5}
    batch_of = {"a": 0, "b": 1, "c": 1, "d": 2}
    # batch 0 starts at 0.15 (a, b visible, none taken yet); batch 1 at 1.0
    # (b, c waiting); batch 2 at 2.0 (d waiting)
    assert derive.backlog_max(visible, batch_of, {0: 0.15, 1: 1.0, 2: 2.0}) == 2


@pytest.mark.parametrize(
    "text,value",
    [
        ("1,234", 1234.0),
        ("total (min, med, max (stageId: taskId))\n12.5 MiB (1.0 MiB, 3.0 MiB, 4.0 MiB (stage 1.0: task 2))",
         12.5 * 2**20),
        ("total (min, med, max (stageId: taskId))\n1.5 s (0 ms, 2 ms, 9 ms (stage 3.0: task 7))", 1.5),
        ("total (min, med, max (stageId: taskId))\n250 ms (0 ms, 2 ms, 9 ms (stage 3.0: task 7))", 0.25),
        ("", 0.0),
    ],
)
def test_metric_value_parses_sql_metric_strings(text, value):
    assert layers.metric_value(text) == pytest.approx(value)
