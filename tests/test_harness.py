"""Harness parity tests (SURVEY §5.2.6 + §2.1 quirk 5).

- .bench CSV round-trip: the exact writer↔visualizer format contract
  (`_` x-axis marker, trailing comma).
- perform_bench: calibrated duration clamped at 0; profiler samples.
- iterate_bench: reference sweep semantics, one list kwarg.
- Workload goldens: grid/chain closed forms from the reference's own
  generators (SURVEY §5.2.1).
"""

from __future__ import annotations

import os
import time

import pytest

from graphdatabases_spark.graph.api import GraphEngine
from graphdatabases_spark.harness import (
    Profiler,
    executor_metrics,
    find_engine_pids,
    iter_header,
    iterate_bench,
    perform_bench,
    read_bench,
    save_data,
    sweep_values,
)
from graphdatabases_spark.harness.workloads import (
    bench_add_single_edge,
    bench_add_single_node,
    bench_get_single_node,
    bench_spp,
    bench_traversal,
    create_grid_graph,
)


class TestBenchCsv:
    def test_round_trip_and_contract(self, tmp_path):
        rows = [[100.0, 12.5, 512.0, 1.25], [200.0, 13.0, 520.0, 2.5]]
        path = save_data(
            str(tmp_path), "bench_x", "Spark", iter_header("size"), rows
        )
        raw = open(path).read().splitlines()
        # Contract: `_` marks the x-axis column; rows end with a comma.
        assert raw[0].split(",")[0] == "_size"
        assert raw[1].endswith(",")
        cols, x_idx, got = read_bench(path)
        assert cols == ["size", "CPU [%]", "MEM [MB]", "TIME [s]"]
        assert x_idx == 0
        assert got == rows

    def test_x_marker_added_if_missing(self, tmp_path):
        path = save_data(str(tmp_path), "b", "Spark", ["Time [s]", "CPU [%]"], [[0.1, 5.0]])
        assert open(path).readline().startswith("_Time [s]")


class TestVisualizer:
    """O22 plot emission: .bench → plot file round trip (reference
    visualizer.py:5-65, file-emitting instead of interactive)."""

    def _write_bench(self, tmp_path, engine, scale=1.0):
        rows = [
            [100.0 * (i + 1), 10.0 * scale + i, 500.0, 0.5 * scale * (i + 1)]
            for i in range(4)
        ]
        return save_data(
            str(tmp_path), "bench_traversal_iter", engine, iter_header("size"), rows
        )

    def test_single_bench_plot_written(self, tmp_path):
        from graphdatabases_spark.harness.visualizer import show_single_bench

        path = self._write_bench(tmp_path, "Spark")
        out = show_single_bench(path, ["TIME [s]", "CPU [%]"])
        assert os.path.exists(out) and os.path.getsize(out) > 0
        content = open(out).read()
        if out.endswith(".svg"):  # builtin backend: one polyline per column
            assert content.count("<polyline") == 2
            assert "TIME [s]" in content and "size" in content

    def test_multiple_bench_lines_and_avg_bars(self, tmp_path):
        from graphdatabases_spark.harness.visualizer import show_multiple_bench

        paths = [
            self._write_bench(tmp_path / "a", "Spark", 1.0),
            self._write_bench(tmp_path / "b", "NEO4j", 2.0),
        ]
        lines = show_multiple_bench(paths, ["TIME [s]"], use_avg=False)
        bars = show_multiple_bench(paths, ["TIME [s]"], use_avg=True)
        assert len(lines) == 1 and len(bars) == 1
        for out in (*lines, *bars):
            assert os.path.exists(out) and os.path.getsize(out) > 0
        if lines[0].endswith(".svg"):
            content = open(lines[0]).read()
            # Reference ordering: known engines first (NEO4j before Spark).
            assert content.count("<polyline") == 2
            assert content.index("NEO4j") < content.index("Spark")
        if bars[0].endswith(".svg"):
            assert open(bars[0]).read().count("<rect") >= 3  # bg + 2 bars

    REF_RESULTS = "/root/reference/Results"

    @pytest.mark.skipif(
        not os.path.isdir("/root/reference/Results"),
        reason="reference Results not available",
    )
    def test_reads_and_plots_reference_published_bench_files(self, tmp_path):
        """Golden compatibility: the reader and visualizer must be
        drop-in for the reference's OWN published .bench files (the
        authors' 2022 runs) — parse, single plot, and the three-backend
        comparison the reference GUI produced."""
        import glob

        from graphdatabases_spark.harness.visualizer import (
            show_multiple_bench,
            show_single_bench,
        )

        traverse = sorted(glob.glob(f"{self.REF_RESULTS}/traverse/*.bench"))
        assert len(traverse) == 3  # NEO4j / Arango / Orient
        for p in traverse:
            cols, x_idx, rows = read_bench(p)
            assert cols[x_idx] == "hops" and len(rows) >= 5
            assert all(len(r) == len(cols) for r in rows)
        single = show_single_bench(
            traverse[0], ["TIME [s]"], out=str(tmp_path / "one.svg")
        )
        assert os.path.getsize(single) > 0
        multi = show_multiple_bench(
            traverse, ["TIME [s]"], use_avg=False, out_dir=str(tmp_path)
        )
        bars = show_multiple_bench(
            traverse, ["TIME [s]"], use_avg=True, out_dir=str(tmp_path)
        )
        content = open(multi[0]).read()
        # All three backends present, reference ordering preserved.
        assert content.count("<polyline") == 3
        assert (
            content.index("Orient") < content.index("Arango") < content.index("NEO4j")
        )
        assert os.path.getsize(bars[0]) > 0

    def test_cli_column_flags(self, tmp_path, capsys):
        from graphdatabases_spark.harness import visualizer

        path = self._write_bench(tmp_path, "Spark")
        assert visualizer.main([path, "--show", "TIME [s]"]) == 0
        out = capsys.readouterr().out.strip()
        assert os.path.exists(out)


class TestPerformBench:
    def test_duration_clamped_nonnegative(self, spark):
        """Reference quirk 5: overhead subtraction could go negative
        (benchmark.log idle '-0.006 s'); we clamp at 0."""
        engine = GraphEngine(spark)

        def workload(engine, size=1):
            # Real run returns instantly; suppressed calibration run
            # sleeps, forcing overhead > elapsed.
            if engine._suppressed:
                time.sleep(0.05)

        res = perform_bench(workload, engine=engine, profile=False)
        assert res.overhead > 0
        assert res.duration == 0.0

    def test_profiler_samples_and_calibration(self, spark):
        engine = GraphEngine(spark)

        def workload(engine, size=10):
            bench_add_single_node(engine, size)

        res = perform_bench(workload, engine=engine, sample_interval=0.02)
        assert res.duration >= 0
        assert res.mean_mem > 0  # JVM + python RSS visible via /proc
        assert len(res.samples) > 0

    def test_sweep_values(self):
        assert sweep_values(3, 100) == [100, 200, 300]

    def test_iterate_bench_requires_one_list(self, spark):
        engine = GraphEngine(spark)
        with pytest.raises(ValueError):
            iterate_bench(bench_add_single_node, engine=engine, size=5)

    def test_iterate_bench_rows(self, spark):
        engine = GraphEngine(spark)
        key, rows = iterate_bench(
            bench_add_single_node, engine=engine, size=[5, 10]
        )
        assert key == "size"
        assert [r[0] for r in rows] == [5.0, 10.0]
        assert all(len(r) == 4 and r[3] >= 0 for r in rows)


class TestWorkloadGoldens:
    def test_add_single_node_rows(self, spark):
        engine = GraphEngine(spark)
        bench_add_single_node(engine, 50)
        assert engine.graph.num_vertices() == 50
        row = engine.get_single_node(properties={"name": "test49"})
        assert row is not None and row["id"] == 49

    def test_add_single_edge_chain(self, spark):
        engine = GraphEngine(spark)
        bench_add_single_edge(engine, 100)
        assert engine.graph.num_edges() == 99
        # Chain closed form: SSP(0, 99) = 99 hops, on the distributed
        # kernel ('auto' finishes this engine-built chain on the driver).
        assert engine.ssp(0, 99, strategy="distributed").collect()[0]["dist"] == 99

    def test_grid_traversal_and_spp(self, spark):
        """Reference workload parameters scaled down: 20×20 grid,
        k-hop h(h+3)/2 closed form, SSP 1→(n+1)k = 2k−1 (SURVEY §5.2.1)."""
        engine = GraphEngine(spark)
        create_grid_graph(engine, 20)
        assert engine.graph.num_vertices() == 400
        assert engine.graph.num_edges() == 2 * 20 * 19
        h = 5
        dist = "distributed"  # the workload entries below run 'auto'
        assert engine.get_nodes_hops(0, h, strategy=dist).count() == h * (h + 3) // 2
        k = 7
        assert engine.ssp(1, 21 * k, strategy=dist).collect()[0]["dist"] == 2 * k - 1
        bench_traversal(engine, size=10)  # smoke via workload entry
        bench_spp(engine, size=3)

    def test_get_single_node_workload(self, spark):
        engine = GraphEngine(spark)
        bench_add_single_node(engine, 20)
        bench_get_single_node(engine, 20)  # semi-join point-lookup batch


class TestProfiler:
    def test_samples_own_process(self):
        with Profiler([__import__("os").getpid()], interval=0.02) as prof:
            t0 = time.perf_counter()
            while time.perf_counter() - t0 < 0.15:
                sum(range(10000))
        assert len(prof.samples) >= 2
        assert prof.mean_mem() > 0
        assert prof.mean_cpu() >= 0

    def test_find_engine_pids_includes_jvm(self, spark):
        pids = find_engine_pids()
        assert len(pids) >= 2  # driver python + spark JVM

    def test_executor_metrics(self, spark):
        infos = executor_metrics(spark)
        assert len(infos) >= 1
        assert {"host", "cache_memory", "num_running_tasks"} <= set(infos[0])


class TestCli:
    def test_cli_single_run_writes_bench_csv(self, tmp_path):
        """O24: the argparse launcher runs a workload end-to-end and
        writes a visualizer-compatible .bench CSV. Subprocess because the
        CLI owns (and stops) its SparkSession."""
        import subprocess
        import sys

        out = tmp_path / "Results"
        proc = subprocess.run(
            [
                sys.executable,
                "-m",
                "graphdatabases_spark.harness.cli",
                "bench_add_single_node",
                "--size",
                "50",
                "--out",
                str(out),
            ],
            capture_output=True,
            text=True,
            timeout=300,
            cwd="/root/repo",
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
        benches = list(out.glob("*.bench"))
        assert benches, proc.stdout
        header = benches[0].read_text().splitlines()[0]
        assert header.split(",")[0].startswith("_")

    def test_cli_plot_flag_emits_plot(self, tmp_path):
        """--plot closes the reference's benchmark→visualizer loop in
        one command: a plot file lands next to the .bench CSV."""
        import subprocess
        import sys

        out = tmp_path / "Results"
        proc = subprocess.run(
            [
                sys.executable,
                "-m",
                "graphdatabases_spark.harness.cli",
                "bench_add_single_node",
                "--size",
                "50",
                "--out",
                str(out),
                "--plot",
            ],
            capture_output=True,
            text=True,
            timeout=300,
            cwd="/root/repo",
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
        plots = list(out.glob("*.svg")) + list(out.glob("*.png"))
        assert plots, proc.stdout
        assert "plotted" in proc.stdout
