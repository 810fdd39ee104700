"""Fast self-tests of the benchmark's own code; no Spark session starts.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import shutil
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import probes  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


@pytest.fixture
def work():
    """A scratch directory inside the checkout, as the benchmark uses."""
    path = os.path.join(run.WORK, f"selftest-{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    yield path
    shutil.rmtree(path, ignore_errors=True)


# ------------------------------------------------------------ statistics

def test_tail_falls_back_to_median_below_21_samples():
    samples = [float(i) for i in range(1, 21)]
    assert probes.tail_percentile(samples) == (50.0, 10.5)
    assert probes.tail_percentile([3.0]) == (50.0, 3.0)


def test_tail_leaves_exactly_ten_samples_beyond():
    samples = [float(i) for i in range(30, 0, -1)]      # unsorted input
    pct, value = probes.tail_percentile(samples)
    assert value == 20.0
    assert sum(s > value for s in samples) == 10
    assert pct == pytest.approx(100 * 20 / 30)


def test_tail_rejects_no_samples():
    with pytest.raises(ValueError):
        probes.tail_percentile([])


def test_quantile_is_nearest_rank():
    values = [float(i) for i in range(1, 101)]
    assert probes.quantile(values, 0.95) == 95.0
    assert probes.quantile([7.0], 0.95) == 7.0


def test_union_and_driver_gap():
    iv = [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (9.0, 12.0)]
    assert probes.union_length(iv, 0.0, 10.0) == pytest.approx(5.0)
    jobs = [probes.Job(i, None, a, b, [], 1) for i, (a, b) in enumerate(iv)]
    assert probes.driver_gap_s(jobs, 0.0, 10.0) == pytest.approx(5.0)


# -------------------------------------------------- failed_ratio accounting

class _Sampler:
    def cpu_s(self) -> float:
        return 0.0


class _Flaky:
    """A workload whose second pass raises and whose third mismatches."""

    def __init__(self):
        self.n = 0

    def run(self, spark, fx, work):
        self.n += 1
        if self.n == 2:
            raise RuntimeError("injected")
        return workloads.Applied(None, self.n)

    def check(self, spark, fx, handle):
        return handle != 3, 0.01, 100


def test_failed_passes_are_counted_not_fatal(work):
    wl = _Flaky()
    work = os.path.join(work, "p")
    ok, attempted = run._passes(wl, None, None, work, _Sampler(), 0)
    assert (len(ok), attempted) == (1, 1)
    assert ok[0].batch_walls == [ok[0].wall]
    ok, attempted = run._passes(wl, None, None, work, _Sampler(), 0)
    assert (len(ok), attempted) == (0, 1)          # raised
    ok, attempted = run._passes(wl, None, None, work, _Sampler(), 0)
    assert (len(ok), attempted) == (0, 1)          # oracle mismatch


# ------------------------------------------------------- reconciliation

class _Ctx:
    def __init__(self):
        self.props = {}

    def getLocalProperty(self, k):
        return self.props.get(k)

    def setLocalProperty(self, k, v):
        self.props[k] = v

    def setJobGroup(self, gid, desc):
        self.props["spark.jobGroup.id"] = gid


class _Spark:
    sparkContext = _Ctx()


def _span(tr, name, layer, start, end, cpu, prefix=None):
    with tr.span(name, "r", layer,
                 prefix=None if prefix is None else tr.spans[prefix]) as sp:
        pass
    sp.start, sp.end, sp.cpu0, sp.cpu1 = start, end, 0.0, cpu
    return tr.spans.index(sp)


def test_layer_self_costs_reconcile_with_untraced_wall():
    """decode 2 s; reduce 5 s recomputing decode; merge 9 s recomputing
    reduce: self times 2 + 3 + 4 equal the 9 s an untraced pass spends
    running the same plan once."""
    tr = probes.Tracer(_Spark(), _Sampler())
    dec = _span(tr, "decode", "decode", 0, 2, 8.0)
    red = _span(tr, "reduce", "reduce", 2, 7, 18.0, prefix=dec)
    mrg = _span(tr, "merge", "merge", 7, 16, 30.0, prefix=red)
    stages = {0: probes.Stage(0, 0.1, 0),
              1: probes.Stage(1, 0.2, 50),
              2: probes.Stage(2, 0.3, 50),
              3: probes.Stage(3, 0.1, 80)}
    jobs = [probes.Job(0, f"decode:{dec}", 0.5, 1.5, [0], 4),
            probes.Job(1, f"reduce:{red}", 3.0, 6.0, [1], 4),
            probes.Job(2, f"merge:{mrg}", 8.0, 10.0, [2], 4),
            # submitted from an engine thread: no group, inside merge
            probes.Job(3, None, 11.0, 15.0, [3], 4)]
    costs = probes.layer_costs(tr, jobs, stages)
    assert costs["decode"].wall_s == pytest.approx(2.0)
    assert costs["reduce"].wall_s == pytest.approx(3.0)
    assert costs["merge"].wall_s == pytest.approx(4.0)
    assert costs["reduce"].cpu_s == pytest.approx(10.0)
    assert costs["merge"].jobs == 2
    # merge's shuffle minus the reduce shuffle it recomputed
    assert costs["merge"].shuffle_bytes == 80
    ratio = probes.reconcile({k: c.wall_s for k, c in costs.items()}, 9.0)
    assert abs(ratio - 1) <= probes.RECONCILE_TOLERANCE
    assert ratio == pytest.approx(1.0)
    assert _Spark.sparkContext.props["spark.jobGroup.id"] is None


# ------------------------------------------------------------- fixtures

def test_fixture_is_seeded_cached_and_described(work, monkeypatch):
    pytest.importorskip("binlog_spark")
    monkeypatch.setitem(workloads.CONFIGS, "bulk_replay",
                        {"n_changes": 300})
    a = workloads.build_fixture("bulk_replay", 5, work)
    again = workloads.build_fixture("bulk_replay", 5, work)
    b = workloads.build_fixture("bulk_replay", 6, work)
    assert a == again
    assert a.digest != b.digest
    assert a.n_changes == 300 and a.n_frames > 0 and a.n_files >= 1
    assert a.binlog_bytes == sum(
        os.path.getsize(os.path.join(a.dump, n))
        for n in workloads.binlog_files(a.dump))
