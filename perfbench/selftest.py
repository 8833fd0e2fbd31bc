"""Self-tests of the benchmark itself (no Spark session needed).

    python3 perfbench/selftest.py

- the generators write byte-identical inputs for the same seed and
  different inputs for another seed;
- every correctness check rejects a wrong result;
- every cycle of the run-ingest inputs has the same shape and covers
  every platform and sheet version, a valid run and runs with an
  injected error;
- the tail estimator picks the highest percentile with ten samples
  beyond it, and gives no value without one;
- the throughput estimator takes each slot's median over the cycles;
- over a registry_reports window the median and the tail read fall in
  the middle of one query's group of latencies.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]

from perfbench import checks, corpus, rundirs  # noqa: E402
from perfbench.run import ops_per_s, tail  # noqa: E402
from perfbench.trace import OpRecord  # noqa: E402
from perfbench.workloads import REPORT_SAMPLE, RegistryReports  # noqa: E402


def tree_digest(root: str) -> str:
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(root)):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def generated(tmp: str, seed: int, tag: str) -> tuple[str, str]:
    c = os.path.join(tmp, f"corpus-{seed}-{tag}")
    corpus.generate(c, seed, 0.002)
    r = os.path.join(tmp, f"runs-{seed}-{tag}")
    for cycle in range(2):
        rundirs.generate(r, seed, cycle)
    return tree_digest(c), tree_digest(r)


def test_inputs_deterministic() -> None:
    with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_work")) as tmp:
        a = generated(tmp, 7, "a")
        b = generated(tmp, 7, "b")
        c = generated(tmp, 8, "c")
    assert a == b, "same seed must give byte-identical inputs"
    for i, what in enumerate(("corpus", "run folders")):
        assert a[i] != c[i], f"another seed must give other {what}"


def test_checks_reject_wrong_results() -> None:
    cols = ["k", "v"]
    rows = [(1, "a"), (2, "b"), (3, None)]
    good = checks.canonical_digest(cols, rows)
    assert checks.check_query_result(checks.canonical_digest(cols, rows[::-1]), good) is None
    assert checks.check_query_result(checks.canonical_digest(cols, rows[:2]), good)
    assert checks.check_query_result(
        checks.canonical_digest(cols, [(1, "a"), (2, "b"), (3, "c")]), good)
    assert checks.check_query_result(
        checks.canonical_digest(["k", "w"], rows), good)
    assert checks.check_query_types([("k", "bigint")], ["k"], ["BIGINT"]) is None
    assert checks.check_query_types([("k", "bigint")], ["k"], ["HUGEINT"])

    row = {"run_igf_id": "R1"}
    assert checks.check_fetch([row], "run_igf_id", "R1", 1) is None
    assert checks.check_fetch([], "run_igf_id", "R1", 1)
    assert checks.check_fetch([row, row], "run_igf_id", "R1", 1)
    assert checks.check_fetch([{"run_igf_id": "R2"}], "run_igf_id", "R1", 1)
    assert checks.check_exists(True, True, "x") is None
    assert checks.check_exists(False, True, "x")

    want = {"run": {(1, "a"), (2, "b")}}
    assert checks.check_readback(want, {"run": {(1, "a"), (2, "b")}}) == []
    assert checks.check_readback(want, {"run": {(1, "a")}})
    assert checks.check_readback(want, {"run": {(1, "a"), (2, "b"), (3, "c")}})
    assert checks.check_readback(want, {})

    assert checks.check_totals({"files": 4, "reads": 9}, {"files": 4, "reads": 9}) == []
    assert checks.check_totals({"files": 4, "reads": 9}, {"files": 4, "reads": 8})
    assert checks.check_violations("r", 1, 1) is None
    assert checks.check_violations("r", 0, 1)
    assert checks.check_violations("r", 2, 1)


def test_cycles_same_shape() -> None:
    """Every cycle of a seed registers runs of the same shape, each
    platform and sheet version among them, and a valid run beside the
    runs with an injected error."""
    shapes = [
        [
            (s.platform, s.version, s.error, s.experiments, s.runs,
             s.files, s.reads, s.lanes, len(s.metadata))
            for s in rundirs.generate("runs", 5, cycle, write=False)
        ]
        for cycle in range(3)
    ]
    assert shapes[0] == shapes[1] == shapes[2], shapes
    assert {(p, v) for p, v, *_ in shapes[0]} == {
        ("HISEQ4000", "v1"), ("MISEQ", "v1"), ("NEXTSEQ2000", "v2")}
    assert [s[2] is None for s in shapes[0]] == [True, False, False]


def test_tail() -> None:
    v = [float(i) for i in range(1, 101)]  # 100 samples
    value, pct, beyond = tail(v)
    assert value == 90.0 and beyond == 10, (value, beyond)
    value, pct, beyond = tail([float(i) for i in range(11)])
    assert value == 0.0 and pct == 0.0 and beyond == 10
    assert tail([3.0, 1.0, 2.0]) is None


def test_ops_per_s() -> None:
    # one cycle: completed operations over the summed latency
    one = [OpRecord(i, "read", "q", lat, slot=i) for i, lat in enumerate([1.0, 2.0, 1.0])]
    assert abs(ops_per_s(one) - 3 / 4.0) < 1e-12
    one[0].ok = False
    assert abs(ops_per_s(one) - 2 / 4.0) < 1e-12
    # three cycles of two slots: a slow cycle does not move the medians
    ops = [
        OpRecord(0, "read", "a", a, slot=0) for a in (1.0, 1.0, 9.0)
    ] + [OpRecord(0, "read", "b", b, slot=1) for b in (2.0, 3.0, 2.0)]
    assert abs(ops_per_s(ops) - 2 / 3.0) < 1e-12


def test_registry_window_ranks() -> None:
    """With the sample's queries well apart in cost, the median read and
    the tail read are each the middle latency of one query."""
    n_q, passes = len(REPORT_SAMPLE), RegistryReports.MIN_CYCLES
    lat = [q + 0.01 * p for q in range(1, n_q + 1) for p in range(passes)]
    mid = 0.01 * (passes // 2)
    for v in (statistics.median(lat), tail(lat)[0]):
        assert abs(v - mid - round(v - mid)) < 1e-9, v


def main() -> int:
    os.makedirs(os.path.join(ROOT, ".bench_work"), exist_ok=True)
    for name, fn in sorted(globals().items()):
        if name.startswith("test_"):
            fn()
            print(f"ok {name}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
