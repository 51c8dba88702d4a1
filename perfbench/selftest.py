"""Self-tests of the benchmark itself.

    python3 perfbench/selftest.py          # all checks (about 5 minutes)
    python3 perfbench/selftest.py --quick  # pure-Python checks only

1. Inputs, the graph mirror and the grid closed forms behave as
   documented, and BENCHMARK.json lists exactly the metrics the runner
   prints (no Spark).
2. Every workload runs at the tiny size (sf0.001, grid 10) and every
   operation passes verification.
3. The same seed gives the same operation sequence and identical
   per-layer job and stage counts on two traced runs.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import datagen  # noqa: E402
from mirror import GraphMirror, grid_dist, grid_khop  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def test_inputs_are_seeded():
    a, b = datagen.make_tables(5, 0.001), datagen.make_tables(5, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(datagen.make_tables(6, 0.001)["lineitem"])


def test_mirror_semantics():
    # 0 -> 1 -> 2 -> 0 is a 3-cycle; 3 is isolated.
    m = GraphMirror([0, 1, 2, 3], [(0, 1), (1, 2), (2, 0)])
    assert m.khop(0, 2) == {1, 2}  # root not re-reached within 2 hops
    assert m.khop(0, 3) == {0, 1, 2}  # ... but within 3
    assert not m.add_edge(0, 99)  # unknown endpoint: dropped
    assert m.ssp_dist(0, 2) == 2 and m.ssp_dist(0, 3) is None
    assert m.valid_path([0, 1, 2], 2, 0, 2) and not m.valid_path([0, 2], 1, 0, 2)


def test_grid_closed_forms():
    n = 12
    m = GraphMirror(range(n * n), datagen.grid_edges(n))
    for src, h in ((0, 5), (13, 3), (n * n - 2, 4)):
        assert grid_khop(n, src, h) == m.khop(src, h)
        assert len(grid_khop(n, 0, h)) == h * (h + 3) // 2
    assert grid_dist(n, 1, n + 3) == m.ssp_dist(1, n + 3) == 3
    assert grid_dist(n, 5, 4) is None


def test_benchmark_json_matches_runner():
    import run

    with open(ROOT / "BENCHMARK.json") as f:
        bench = json.load(f)
    assert bench["per_layer"] == run.per_layer_spec()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)


def _traced_run(workload: str, seed: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", "1", "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    with open(ROOT / ".perfbench_out" / f"{workload}-seed{seed}-trace1.json") as f:
        detail = json.load(f)
    return result, detail


def test_workloads_tiny_and_repeatable():
    for name in WORKLOADS:
        (r1, d1), (r2, d2) = _traced_run(name, 11), _traced_run(name, 11)
        for r in (r1, r2):
            assert r["correct"] and r["failed"] == 0 and r["attempted"] > 0, (name, r)
        assert [o["name"] for o in d1["ops"]] == [o["name"] for o in d2["ops"]], name
        counts = [
            {k: v["value"] for k, v in r["metrics"].items()
             if k.endswith((".jobs", ".stages", ".calls"))}
            for r in (r1, r2)
        ]
        assert counts[0] == counts[1], (name, counts)


def main() -> int:
    tests = [test_inputs_are_seeded, test_mirror_semantics, test_grid_closed_forms,
             test_benchmark_json_matches_runner]
    if "--quick" not in sys.argv:
        tests.append(test_workloads_tiny_and_repeatable)
    for t in tests:
        t()
        print(f"ok {t.__name__}", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
