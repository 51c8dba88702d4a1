"""The graph engine's size regimes (``graph/regime.py``).

Every broadcast / driver-local / checkpoint decision of the graph
kernels reads one module, so patching one constant forces a regime in
every kernel.  These tests pin ``materialize``'s one-action contract,
force the shuffle regime (broadcast cap 0) across kernel families and
require bit-identical answers, force the distributed regime (local cap
0) against plan statistics and the adjacency cache, pin
``pagerank_units``' driver-local kernel to its distributed rounds on
the inputs where the two could part, and keep the size switches from
growing back outside ``regime.py``.
"""

from __future__ import annotations

import itertools
from pathlib import Path

import pytest
from pyspark.errors import ArithmeticException
from pyspark.sql import functions as F

import graphdatabases_spark
from graphdatabases_spark.graph import algorithms, regime
from graphdatabases_spark.graph.algorithms import connected_components, pagerank_units
from graphdatabases_spark.graph.generators import chain_graph, grid_graph
from graphdatabases_spark.graph.model import PropertyGraph
from graphdatabases_spark.graph.traversal import _collect_index, khop, ssp
from graphdatabases_spark.relational.graph_kernels import _mis_kernel, _sym_und_build

_group_ids = itertools.count()


def _jobs(spark, fn) -> int:
    """Spark jobs launched by ``fn()`` (tagged by a fresh job group)."""
    sc = spark.sparkContext
    group = f"test-regime-{next(_group_ids)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


class TestMaterialize:
    @pytest.mark.parametrize("shuffle", [False, True], ids=["narrow", "one-shuffle"])
    def test_one_job_fewer_than_eager_checkpoint_and_count(self, spark, shuffle):
        def frame():
            df = spark.range(0, 1000, numPartitions=4)
            if shuffle:
                df = df.groupBy((F.col("id") % 37).alias("k")).agg(F.sum("id").alias("s"))
            return df

        want = 37 if shuffle else 1000
        out = {}

        def lazy():
            out["df"], out["n"] = regime.materialize(frame())

        def eager():
            df = frame().localCheckpoint(eager=True)
            out["eager_n"] = df.count()

        lazy_jobs = _jobs(spark, lazy)
        eager_jobs = _jobs(spark, eager)
        assert out["n"] == out["eager_n"] == want
        assert lazy_jobs == eager_jobs - 1, (lazy_jobs, eager_jobs)

    def test_input_computed_once_across_count_and_reads(self, spark):
        calls = spark.sparkContext.accumulator(0)

        @F.udf("long")
        def tick(x):
            calls.add(1)
            return x

        df, n = regime.materialize(
            spark.range(0, 200, numPartitions=4).select(tick("id").alias("id"))
        )
        assert n == 200
        assert df.filter(F.col("id") % 2 == 0).count() == 100
        assert df.agg(F.sum("id")).collect()[0][0] == sum(range(200))
        assert calls.value == 200


def _spider(spark, arms: int = 30, length: int = 6):
    """A star whose hub 0 carries ``arms`` paths of ``length`` nodes,
    edges both ways: node i in 1..arms·length hangs off i-1, or off the
    hub at the start of an arm.  A 5-hop traversal from the hub runs one
    4-hop block and then the k=1 block; each level re-walks the previous
    one (block-end min), and the hub's degree bounds the in-block
    broadcasts."""
    fwd = spark.range(1, arms * length + 1).select(
        F.when((F.col("id") - 1) % length == 0, F.lit(0))
        .otherwise(F.col("id") - 1)
        .alias("src"),
        F.col("id").alias("dst"),
    )
    return fwd.unionByName(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


def _kernel_answers(spark, monkeypatch):
    """One answer per kernel family, each collected in a fixed order."""
    g = grid_graph(spark, 8)
    with monkeypatch.context() as m:  # the distributed rounds, not the driver
        m.setattr(regime, "LOCAL_EDGE_MAX", 0)
        cold = pagerank_units(g, num_iters=3)
        warm = sorted(pagerank_units(g, num_iters=4, init_ranks=cold).collect())
    two = chain_graph(spark, 6).edges.select("src", "dst").unionByName(
        grid_graph(spark, 4).edges.select(
            (F.col("src") + 100).alias("src"), (F.col("dst") + 100).alias("dst")
        )
    )
    comps = connected_components(two, strategy="distributed")
    sym, und, n_und = _sym_und_build(spark, grid_graph(spark, 10).edges.select("src", "dst"))
    try:
        mis = _mis_kernel(spark, sym, und, n_und, sym.count())
        mis = sorted(r["id"] for r in mis.collect())
    finally:
        sym.unpersist()
    star = _spider(spark)
    khop_star = khop(star, 0, 5, strategy="distributed")
    return {
        "pagerank_units_warm": warm,
        "cc_distributed": sorted(comps.collect()),
        "mis": mis,
        "khop_star": sorted(r["id"] for r in khop_star.collect()),
        "ssp_star_k1": ssp(star, 0, 6 * 17 + 5, max_hops=5, strategy="distributed").collect(),
        "ssp_star_far": ssp(star, 6 * 3, 6 * 20 + 1, strategy="distributed").collect(),
    }


def test_forced_shuffle_regime_is_bit_identical(spark, monkeypatch):
    """Broadcast cap 0: every size-switched join shuffles, the MIS
    kernel skips its driver-local tail and partitions by dst, and the
    traversal frontier joins the src-clustered edge copy.  Every answer
    must equal the default (broadcast) regime's exactly."""
    want = _kernel_answers(spark, monkeypatch)
    assert len(want["khop_star"]) == 30 * 5 + 1  # 5 levels of arms + the root (cycle)
    assert want["ssp_star_k1"][0]["dist"] == 5
    assert want["ssp_star_far"][0]["dist"] == 7  # up arm 2, through the hub
    monkeypatch.setattr(regime, "BROADCAST_MAX", 0)
    assert _kernel_answers(spark, monkeypatch) == want


class TestLocalCap:
    """``LOCAL_EDGE_MAX`` bounds every way to the driver-local regime:
    plan statistics and the adjacency cache as well as the count probe."""

    def _chosen(self, edges) -> str:
        with regime.strategy(edges, "auto") as (chosen, _):
            return chosen

    def test_parquet_statistics_follow_the_cap(self, spark, tmp_path, monkeypatch):
        path = str(tmp_path / "edges.parquet")
        chain_graph(spark, 50).edges.select("src", "dst").write.parquet(path)
        edges = spark.read.parquet(path)
        size = regime.plan_size_bytes(edges)
        assert size is not None and size <= regime.LOCAL_EDGE_MAX * regime._STATS_BYTES_PER_EDGE
        assert self._chosen(edges) == "local"
        monkeypatch.setattr(regime, "LOCAL_EDGE_MAX", 0)
        assert self._chosen(edges) == "distributed"

    def test_cached_index_larger_than_the_cap_is_not_local(self, spark, monkeypatch):
        # Python rows: no plan statistics, so only the cache or the
        # count probe can decide.
        edges = spark.createDataFrame([(i, i + 1) for i in range(19)], "src BIGINT, dst BIGINT")
        assert len(_collect_index(edges).src) == 19
        assert self._chosen(edges) == "local"
        monkeypatch.setattr(regime, "LOCAL_EDGE_MAX", 18)
        assert self._chosen(edges) == "distributed"


def _units_replay(verts, edges, num_iters, init=None, damping_pct=85, unit_scale=10**6):
    """Python integers: outdeg counts every edge row of a src, messages
    flow only between vertices, missing warm ranks start at
    ``unit_scale``."""
    outdeg: dict[int, int] = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    rank = {v: (init or {}).get(v, unit_scale) for v in verts}
    for _ in range(num_iters):
        msg = dict.fromkeys(verts, 0)
        for s, d in edges:
            if s in rank and d in msg:
                msg[d] += rank[s] // outdeg[s]
        rank = {
            v: (100 - damping_pct) * unit_scale // 100 + damping_pct * msg[v] // 100
            for v in verts
        }
    return sorted(rank.items())


def _rows(df) -> list[tuple]:
    """Rows as tuples in id order, a null id last."""
    return sorted(map(tuple, df.collect()), key=lambda r: (r[0] is None, r))


class TestPagerankUnitsLocal:
    """The driver-local ``pagerank_units`` returns the distributed
    rounds' bits, or hands the input to them."""

    # Duplicate rows (1→2 twice), a dst missing from the vertex frame
    # (3→9), a src missing from it (7→1), an isolated vertex (5).
    EDGES = [(1, 2), (1, 2), (2, 3), (3, 1), (3, 9), (4, 1), (7, 1), (2, 4)]
    VERTS = [1, 2, 3, 4, 5]

    def _auto(self, monkeypatch, graph, ran, **kw):
        """Rows of the default regime; appends to ``ran`` whether the
        local kernel answered."""
        local = algorithms._pagerank_units_local

        def spy(*args):
            out = local(*args)
            ran.append(out is not None)
            return out

        with monkeypatch.context() as m:
            m.setattr(algorithms, "_pagerank_units_local", spy)
            return _rows(pagerank_units(graph, **kw))

    def _distributed(self, monkeypatch, graph, **kw):
        with monkeypatch.context() as m:
            m.setattr(regime, "LOCAL_EDGE_MAX", 0)
            return _rows(pagerank_units(graph, **kw))

    def _run(self, monkeypatch, graph, **kw):
        """(auto rows, forced-distributed rows, whether auto ran locally)."""
        ran = []
        auto = self._auto(monkeypatch, graph, ran, **kw)
        return auto, self._distributed(monkeypatch, graph, **kw), ran == [True]

    def _graph(self, spark, verts):
        return PropertyGraph(
            spark.createDataFrame([(v,) for v in verts], "id BIGINT"),
            spark.createDataFrame(self.EDGES, "src BIGINT, dst BIGINT"),
        )

    def test_property_graph_cold(self, spark, monkeypatch):
        auto, dist, local = self._run(
            monkeypatch, self._graph(spark, self.VERTS), num_iters=4, unit_scale=10**6
        )
        assert local
        assert auto == dist == _units_replay(self.VERTS, self.EDGES, 4)

    def test_warm_start_with_extra_and_missing_ids(self, spark, monkeypatch):
        # 99 is no vertex, 3 and 5 have no prior rank.
        init = {1: 3 * 10**6, 2: 0, 4: 777_777, 99: 5 * 10**6}
        prev = spark.createDataFrame(list(init.items()), "id BIGINT, rank_units BIGINT")
        auto, dist, local = self._run(
            monkeypatch,
            self._graph(spark, self.VERTS),
            num_iters=3,
            unit_scale=10**6,
            init_ranks=prev,
        )
        assert local
        assert auto == dist == _units_replay(self.VERTS, self.EDGES, 3, init)

    def test_edge_frame_vertices_are_the_endpoints(self, spark, monkeypatch):
        edges = spark.createDataFrame(self.EDGES, "src BIGINT, dst BIGINT")
        auto, dist, local = self._run(monkeypatch, edges, num_iters=5, unit_scale=10**6)
        verts = sorted({v for e in self.EDGES for v in e})
        assert local
        assert auto == dist == _units_replay(verts, self.EDGES, 5)

    def test_repeated_vertex_id_runs_distributed(self, spark, monkeypatch):
        """A repeated id repeats the vertex's rows through both joins;
        the local kernel declines, and the rows match row for row."""
        auto, dist, local = self._run(
            monkeypatch, self._graph(spark, self.VERTS + [2]), num_iters=2, unit_scale=10**6
        )
        assert not local
        assert auto == dist
        assert [i for i, _ in auto].count(2) == 2

    def test_null_endpoint_runs_distributed(self, spark, monkeypatch):
        """A null dst counts in its src's outdeg and makes a null
        vertex; the local kernel declines, and the answers match."""
        edges = spark.createDataFrame(self.EDGES + [(2, None)], "src BIGINT, dst BIGINT")
        auto, dist, local = self._run(monkeypatch, edges, num_iters=2, unit_scale=10**6)
        assert not local
        assert auto == dist
        assert any(i is None for i, _ in auto)

    # One edge 1 -> 2 (two vertices), so vertex 2's first message is
    # unit_scale and 85 · unit_scale is the largest product.
    @pytest.mark.parametrize(
        "unit_scale, damping_pct, local",
        [((2**63 - 1) // 85, 85, True), (2**62, 1, False)],
        ids=["largest-product-fits", "total-over-int64"],
    )
    def test_overflow_guard(self, spark, monkeypatch, unit_scale, damping_pct, local):
        """Local while every sum and product fits int64; 2 · unit_scale
        = 2^63 units in total hands the run to the distributed rounds
        before any round (which, at damping 1, do not overflow)."""
        edges = spark.createDataFrame([(1, 2)], "src BIGINT, dst BIGINT")
        kw = dict(num_iters=2, unit_scale=unit_scale, damping_pct=damping_pct)
        auto, dist, ran_local = self._run(monkeypatch, edges, **kw)
        assert ran_local is local
        assert auto == dist == _units_replay([1, 2], [(1, 2)], 2, None, damping_pct, unit_scale)

    def test_overflowing_product_raises_as_distributed(self, spark, monkeypatch):
        """The total fits int64 but 85 · unit_scale does not: the local
        kernel declines in its first round, and the run raises as the
        distributed rounds do (ANSI), instead of wrapping."""
        edges = spark.createDataFrame([(1, 2)], "src BIGINT, dst BIGINT")
        kw = dict(num_iters=2, unit_scale=(2**63 - 1) // 85 + 1)
        ran = []
        with pytest.raises(ArithmeticException):
            self._auto(monkeypatch, edges, ran, **kw)
        assert ran == [False]
        with pytest.raises(ArithmeticException):
            self._distributed(monkeypatch, edges, **kw)


def test_size_switches_live_in_regime():
    """The broadcast cap, the local caps and the removed deferral knobs
    are named only in ``graph/regime.py``: a kernel that wants a size
    decision asks regime instead of keeping its own threshold."""
    pkg = Path(graphdatabases_spark.__file__).parent
    banned = (
        "FRONTIER_BROADCAST_MAX",
        "_SYM_LOCAL_",
        "LOCAL_EDGE_THRESHOLD",
        "SPARK_GRAFT_BFS_DEFER",
    )
    hits = [
        f"{path.relative_to(pkg)}:{no}"
        for path in sorted(pkg.rglob("*.py"))
        if path != pkg / "graph" / "regime.py"
        for no, line in enumerate(path.read_text().splitlines(), 1)
        if any(name in line for name in banned)
    ]
    assert hits == []
