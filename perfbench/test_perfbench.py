"""Tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import statistics
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
import sysmon  # noqa: E402
from spans import Tracer  # noqa: E402
from stats import drift_ratio, kind_median_geomean, ratio  # noqa: E402


def test_same_seed_gives_byte_identical_fsimage(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    gen.write_image(a, gen.namespace_rows(7, files_per_dir=2))
    gen.write_image(b, gen.namespace_rows(7, files_per_dir=2))
    gen.write_image(c, gen.namespace_rows(8, files_per_dir=2))
    with open(a, "rb") as fa, open(b, "rb") as fb, open(c, "rb") as fc:
        da, db, dc = fa.read(), fb.read(), fc.read()
    assert da == db
    assert da != dc


def test_tree_shape_is_seed_independent():
    for seed in (1, 2):
        t = gen.expected_totals(gen.namespace_rows(seed, files_per_dir=260))
        # the JMH dataset of the reference: 807 dirs incl. root, 209,560 files
        assert (t["dirs"], t["files"]) == (807, 209_560)
        assert t["distinct_paths"] == t["rows"]


def test_sizes_straddle_the_small_file_limit():
    sizes = [gen.file_size(r) for r in gen.namespace_rows(3) if r["type"] == "FILE"]
    small = sum(s < gen.SMALL_LIMIT for s in sizes)
    assert 0 < small < len(sizes)
    assert max(sizes) > gen.BLOCK_SIZE


def test_same_seed_gives_same_op_sequence():
    workloads = pytest.importorskip("workloads")
    ops = workloads.REPORT_OPS
    assert {k for k, _ in ops} == set(workloads.REPORT_KINDS)
    assert {f for _, f in ops} == set(workloads.FORMATS)
    for n in range(3):
        assert workloads.pass_sequence(5, n, ops) == workloads.pass_sequence(5, n, ops)
        assert sorted(workloads.pass_sequence(5, n, ops)) == sorted(ops)
    assert workloads.pass_sequence(5, 0, ops) != workloads.pass_sequence(6, 0, ops)
    rows = gen.namespace_rows(5, files_per_dir=3)
    assert workloads.report_params(5, rows) == workloads.report_params(5, rows)


def test_wrong_output_fails_the_check():
    workloads = pytest.importorskip("workloads")
    exp = gen.expected_totals(gen.namespace_rows(4, files_per_dir=3))
    keys = ("rows", "sum_size", "distinct_paths")
    good = (exp["rows"], exp["sum_size"], exp["distinct_paths"])
    assert workloads.check_totals(good, exp, keys)
    assert not workloads.check_totals((good[0] - 1, good[1], good[2]), exp, keys)
    assert not workloads.check_totals((good[0], good[1] + 1, good[2]), exp, keys)


def test_end_to_end_figures_of_a_synthetic_run():
    workloads = pytest.importorskip("workloads")
    b = workloads.Bench("report_mix", 1, 10.0, False, "")
    b.m["setup_s"] = 1.5
    b.ops = [{"kind": k, "sec": s} for k, s in (("a", 1.0), ("a", 3.0), ("b", 8.0), ("b", 8.0))]
    b.cpu = {"driver": 1.0, "jvm": 6.0, "pyworker": 1.0}
    b.layout = [(1, 900, 10), (1, 1000, 10), (1, 1100, 10)]
    b.failures, b._seq = ["a"], 8
    # the reference loop ran at its nominal time on average
    b.ref = [sysmon.REF_LOOP_S * f for f in (0.8, 1.2, 1.0)]
    m = {k: v for k, (v, _unit) in b.e2e().items()}
    assert m["setup_s"] == 1.5
    assert m["op_p50_gm_rs"] == pytest.approx(4.0)  # sqrt(median 2 * median 8)
    assert m["ops_per_rs"] == pytest.approx(4 / 20.0)
    assert m["cpu_rs_per_op"] == pytest.approx(2.0)
    assert m["ok_ratio"] == pytest.approx(7 / 8)
    assert m["layout_bytes_per_inode"] == pytest.approx(100.0)
    # a host 1.5 times slower at everything: the same figures, but setup_s
    b.ops = [{**o, "sec": o["sec"] * 1.5} for o in b.ops]
    b.cpu = {k: v * 1.5 for k, v in b.cpu.items()}
    b.ref = [r * 1.5 for r in b.ref]
    slow = {k: v for k, (v, _unit) in b.e2e().items()}
    for k in ("op_p50_gm_rs", "ops_per_rs", "cpu_rs_per_op"):
        assert slow[k] == pytest.approx(m[k])


def test_kind_median_geomean_on_synthetic_log():
    # one kind: its median
    assert kind_median_geomean([("a", 3.0), ("a", 1.0), ("a", 2.0)]) == pytest.approx(2.0)
    # kinds weigh the same whatever their op count: medians 1 and 4
    log = [("a", 1.0)] * 9 + [("b", 4.0)]
    assert kind_median_geomean(log) == pytest.approx(2.0)
    # a slower rare kind moves it, where the median of the whole log stays
    slower = [("a", 1.0)] * 9 + [("b", 16.0)]
    assert kind_median_geomean(slower) == pytest.approx(4.0)
    assert statistics.median(s for _, s in slower) == statistics.median(s for _, s in log)
    with pytest.raises(ValueError):
        kind_median_geomean([])


def test_ratio():
    assert ratio(3.0, 2.0) == 1.5
    assert ratio(1.0, 0.0) == 0.0


def test_drift_ratio_on_synthetic_log():
    # two kinds, 1 s and 10 s; a settled log has no drift whatever the mix
    settled = [("a", 1.0), ("b", 10.0)] * 8
    assert drift_ratio(settled) == pytest.approx(1.0)
    # every op of the last quarter 20% slower than its kind's usual time
    log = [("a", 1.0), ("b", 10.0)] * 6 + [("a", 1.2), ("b", 12.0)] * 2
    assert drift_ratio(log) == pytest.approx(1.2)
    # a warm-up tail at the start shows as a ratio below 1
    assert drift_ratio([("a", 2.0)] * 2 + [("a", 1.0)] * 6) == pytest.approx(0.5)
    # kinds that ran once say nothing about drift
    assert drift_ratio([("x", 9.0)] + log + [("y", 0.1)]) == pytest.approx(1.2)
    assert drift_ratio([("x", 9.0), ("y", 0.1)]) == 1.0


def test_spans_account_for_the_op():
    t = Tracer()
    t.enabled = True
    with t.span("op", kind="k"):
        with t.span("child"):
            pass
    with t.span("other"):
        pass
    op, child, other = t.spans
    assert child["parent"] == op["id"] and other["parent"] is None
    assert op["kind"] == "k"
    ((dur, own),) = t.self_times("op")
    assert dur == op["end"] - op["start"]
    assert own == pytest.approx(dur - (child["end"] - child["start"]))
    t.enabled = False
    with t.span("ignored"):
        pass
    assert len(t.spans) == 3
