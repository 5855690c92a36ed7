"""Latency tail rule and the record comparison's fingerprint guard."""

import pytest

from perfbench import compare, host


def test_tail_has_ten_samples_beyond():
    assert host.tail(list(range(10))) is None
    t = host.tail([float(i) for i in range(100)])
    assert t == {"value": 89.0, "percentile": 90, "samples": 100}
    t = host.tail([float(i) for i in range(11)])
    assert t["value"] == 0.0 and t["samples"] == 11


def _rec(fp, v):
    return {"workload": "w", "fingerprint": fp, "metrics": {"pass_s": v}}


METRIC = [{"name": "pass_s", "unit": "s", "better": "lower", "bound": 0.2}]


def test_compare_refuses_other_fingerprint():
    a = {"nproc": 4, "cpu_model": "x", "local_width": 4}
    b = dict(a, nproc=32, local_width=32)
    with pytest.raises(compare.Incomparable):
        compare.diff([_rec(a, 1.0)], [_rec(b, 1.0)], METRIC)


def test_compare_flags_regression_beyond_bound():
    fp = {"nproc": 4}
    ok = compare.diff([_rec(fp, 1.0)], [_rec(fp, 1.1)], METRIC)
    bad = compare.diff([_rec(fp, 1.0)], [_rec(fp, 1.3)], METRIC)
    assert ok[0]["verdict"] == "ok" and bad[0]["verdict"] == "WORSE"
