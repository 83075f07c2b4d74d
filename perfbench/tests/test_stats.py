"""The benchmark's metric math, checked without Spark.

Run: ``python3 -m pytest perfbench/tests -q``
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


def test_percentile_rule_needs_ten_samples_beyond():
    assert stats.percentile_rule(list(range(19))) is None
    q, v, n = stats.percentile_rule(list(range(1, 21)))
    assert (q, v, n) == (50, 10, 20)
    q, v, n = stats.percentile_rule([float(x) for x in range(1, 101)])
    assert (q, v, n) == (90, 90.0, 100)
    # 99 would leave only 1 sample beyond
    q, _, _ = stats.percentile_rule(list(range(1, 1001)))
    assert q == 99


def test_percentile_rule_ignores_input_order():
    xs = [5, 1, 9, 3, 7, 2, 8, 4, 6, 10] * 3
    assert stats.percentile_rule(xs) == stats.percentile_rule(sorted(xs))


def test_self_time_subtracts_union_of_children():
    spans = [
        {"id": 0, "parent": None, "t0": 0.0, "t1": 10.0},
        # overlapping children cover [1, 6]
        {"id": 1, "parent": 0, "t0": 1.0, "t1": 4.0},
        {"id": 2, "parent": 0, "t0": 3.0, "t1": 6.0},
        # a child running past its parent counts only inside the parent
        {"id": 3, "parent": 0, "t0": 9.0, "t1": 12.0},
        {"id": 4, "parent": 1, "t0": 2.0, "t1": 3.0},
    ]
    st = stats.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)


def test_union_length_merges_overlaps():
    assert stats.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert stats.union_length([]) == 0


def test_failure_ratio():
    assert stats.failure_ratio(20, 0) == 0.0
    assert stats.failure_ratio(8, 2) == 0.25
    with pytest.raises(ValueError):
        stats.failure_ratio(0, 0)


def _log(path, entries):
    with open(path, "w") as fh:
        fh.write("v1\n")
        for e in entries:
            fh.write(json.dumps(e) + "\n")


def test_file_batches_reads_deltas_and_compactions(tmp_path):
    log = tmp_path / "sources" / "0"
    log.mkdir(parents=True)
    _log(log / "0", [{"path": "file:///in/a.json", "timestamp": 1, "batchId": 0},
                     {"path": "file:///in/b.json", "timestamp": 2, "batchId": 0}])
    _log(log / "1", [{"path": "file:///in/c.json", "timestamp": 3, "batchId": 1}])
    # a compaction repeats earlier entries; later deltas add to it
    _log(log / "9.compact", [{"path": "file:///in/a.json", "timestamp": 1, "batchId": 0}])
    _log(log / "10", [{"path": "file:///in/d.json", "timestamp": 4, "batchId": 10}])
    (log / ".1.crc").write_text("ignored")
    got = stats.file_batches(str(tmp_path))
    assert got == {
        "file:///in/a.json": 0,
        "file:///in/b.json": 0,
        "file:///in/c.json": 1,
        "file:///in/d.json": 10,
    }
