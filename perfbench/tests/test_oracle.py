"""The oracle comparison."""

from __future__ import annotations

from perfbench import workloads as W


def test_compare_reports_differences():
    assert W.compare(["a", "b"], [(1, 2.0)], ["b", "a"], [(2.0, 1)]) is None
    assert "row count" in W.compare(["a"], [(1,)], ["a"], [])
    assert "columns" in W.compare(["a"], [(1,)], ["b"], [(1,)])
    assert "mismatch" in W.compare(["a"], [(1,)], ["a"], [(2,)])
    # a half-cent tie rounded two ways is the same result; a lost row is not
    assert W.compare(["s"], [(266619962.44,)], ["s"], [(266619962.43,)]) is None
    assert W.compare(["s"], [(4012047.47,)], ["s"], [(4012047.46,)]) is None
    assert "mismatch" in W.compare(["s"], [(266619962.44,)], ["s"], [(266569962.44,)])
    # more than a cent apart is a different result, however large the sum
    assert "mismatch" in W.compare(["s"], [(266619962.45,)], ["s"], [(266619962.43,)])
    assert "mismatch" in W.compare(["a"], [(0.051,)], ["a"], [(0.07,)])
