"""Tests of the benchmark's own helpers. They need no Spark session:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import gen, reference, stats  # noqa: E402
from perfbench.trace import Span, self_times  # noqa: E402


def _digests(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            path = os.path.join(d, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_same_seed_gives_byte_identical_files(workload, tmp_path):
    a = gen.generate(workload, 11, str(tmp_path / "a"))
    b = gen.generate(workload, 11, str(tmp_path / "b"))
    c = gen.generate(workload, 12, str(tmp_path / "c"))
    assert a == b
    da, db, dc = (_digests(str(tmp_path / x)) for x in "abc")
    assert da == db and len(da) == a["files"]
    assert da != dc


def test_stream_files_replay_in_index_order(tmp_path):
    gen.generate("async-stream", 3, str(tmp_path))
    d = tmp_path / "events.parquet"
    names = sorted(os.listdir(d))
    mtimes = [os.path.getmtime(d / n) for n in names]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)


def test_percentile_refuses_thin_tail():
    values = list(range(1, 101))
    assert stats.percentile(values, 90) == 90   # 10 samples beyond
    assert stats.percentile(values, 50) == 50
    with pytest.raises(ValueError):
        stats.percentile(values[:99], 90)       # 9 beyond
    with pytest.raises(ValueError):
        stats.percentile(values, 95)
    with pytest.raises(ValueError):
        stats.percentile(list(range(19)), 50)


def test_late_drop_model_worked_example():
    # 10 ms windows, 5 ms delay. Batch 2's late watermark is batch 0's
    # max (30) minus the delay: 25. Windows ending at or before 25 are
    # late there, so ("a", 12) and ("b", 19) drop (window [10, 20))
    # while ("a", 20) stays (window [20, 30) ends at 30). Batch 1 still
    # sees no watermark, so its old row ("a", 1) is admitted.
    batches = [
        [("a", 30), ("b", 28)],
        [("a", 1), ("a", 45)],
        [("a", 12), ("b", 19), ("b", 11), ("a", 20)],
        [("c", 39), ("c", 35), ("c", 44)],
    ]
    m = reference.late_drop_model(batches, window_ms=10, delay_ms=5)
    assert m["late_wm"] == [None, None, 25, 40]
    # batch 2: groups (a, 1) and (b, 1); batch 3: (c, 3) ends at 40 <= 40
    assert m["dropped"] == [0, 0, 2, 1]
    assert m["total"] == 3
    assert m["final_wm"] == 40


def test_self_time_subtracts_union_of_children():
    spans = [
        Span(0, "pass", "bench", "pass", 0.0, 10.0),
        Span(1, "a", "operators", "unit", 1.0, 3.0, parent=0),
        Span(2, "b", "operators", "unit", 2.0, 5.0, parent=0),   # overlaps a
        Span(3, "c", "blocks", "release", 7.0, 8.0, parent=0),
        Span(4, "a.exec", "operators", "exec", 1.5, 2.5, parent=1),
        Span(5, "late", "bench", "pass", 9.5, 12.0, parent=0),   # runs past its parent
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - (4.0 + 1.0 + 0.5))
    assert st[1] == pytest.approx(1.0)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)


def test_union_find_components():
    assert reference.components([(3, 4), (1, 2), (2, 4), (7, 8)]) == [
        (1, 1), (2, 1), (3, 1), (4, 1), (7, 7), (8, 7)]
