"""The graph engine's size regimes (``graph/regime.py``).

Every broadcast / driver-local / checkpoint decision of the graph
kernels reads one module, so patching one constant forces a regime in
every kernel.  These tests pin ``materialize``'s one-action contract,
force the shuffle regime (broadcast cap 0) across kernel families and
require bit-identical answers, and keep the size switches from growing
back outside ``regime.py``.
"""

from __future__ import annotations

import itertools
from pathlib import Path

import pytest
from pyspark.sql import functions as F

import graphdatabases_spark
from graphdatabases_spark.graph import regime
from graphdatabases_spark.graph.algorithms import connected_components, pagerank_units
from graphdatabases_spark.graph.generators import chain_graph, grid_graph
from graphdatabases_spark.graph.traversal import khop, ssp
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


def _kernel_answers(spark):
    """One answer per kernel family, each collected in a fixed order."""
    g = grid_graph(spark, 8)
    cold = pagerank_units(g, num_iters=3)
    warm = pagerank_units(g, num_iters=4, init_ranks=cold)
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
        "pagerank_units_warm": sorted(warm.collect()),
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
    want = _kernel_answers(spark)
    assert len(want["khop_star"]) == 30 * 5 + 1  # 5 levels of arms + the root (cycle)
    assert want["ssp_star_k1"][0]["dist"] == 5
    assert want["ssp_star_far"][0]["dist"] == 7  # up arm 2, through the hub
    monkeypatch.setattr(regime, "BROADCAST_MAX", 0)
    assert _kernel_answers(spark) == want


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
