"""The three benchmark workloads.

Each workload builds its inputs from the seed, sets itself up through the
package's bulk paths (timed as set-up), and then yields *passes*: a fixed,
seeded list of operations that a single client issues one after another
(closed loop). Every operation carries the check that verifies its output;
checks run after the timed phase, against expected values computed
outside it (a Python graph mirror, grid closed forms, DuckDB oracles and
NumPy).

A pass is the unit of work: every pass of a run has the same sequence of
operation kinds, so per-pass counters (jobs, stages, ...) repeat exactly
for a fixed seed.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np

import datagen
from mirror import GraphMirror, grid_dist, grid_khop, grid_valid_path
from oracles import canonical_rows, digest, oracle_rows_subprocess, rows_match


@dataclass
class Op:
    """One client request: a chain of calls, each into one layer."""

    name: str
    kind: str
    steps: list[tuple[str, Callable[[Any], Any]]]
    check: Callable[[Any], bool]
    result: Any = None
    error: str | None = None
    latency_s: float = 0.0
    ok: bool = False

    def run(self, tracer) -> None:
        val = None
        for layer, fn in self.steps:
            with tracer.span(layer, kind=self.kind, op=self.name):
                val = fn(val)
        self.result = val


# --- sizes ------------------------------------------------------------------
# "full" is what the benchmark measures; "tiny" is the self-test size.
SIZES = {
    "full": {
        "crud_grid": 20, "crud_people": 200, "crud_template": "full",
        "crud_khop_hops": 2, "crud_ssp_dist": 3,
        "analytics_sf": 0.001, "analytics_grid": 30, "analytics_depth": 12,
        "relational_sf": 0.01, "ann_queries": 100,
    },
    "tiny": {
        "crud_grid": 10, "crud_people": 30, "crud_template": "tiny",
        "crud_khop_hops": 2, "crud_ssp_dist": 3,
        "analytics_sf": 0.001, "analytics_grid": 10, "analytics_depth": 4,
        "relational_sf": 0.001, "ann_queries": 20,
    },
}

# One CRUD pass. Every op flushes the engine once; a pass starts a fresh
# engine, so the full pass's 8 flushes stay below GraphEngine's periodic
# checkpoint (every 16th flush). The pass is kept short so a run holds
# several passes and its figures are medians over them.
CRUD_TEMPLATE = {
    "full": ["read", "add_node", "read_new", "add_edge", "khop", "read_absent",
             "add_edge_missing", "ssp"],
    "tiny": ["read", "add_node", "add_edge", "khop", "read_new", "ssp"],
}

PERSON_BASE = 1_000_000
NEW_BASE = 2_000_000
MISSING_BASE = 9_000_000


class Workload:
    name = ""
    # Untimed passes before timing starts. The first passes of a fresh JVM
    # run slower while plan shapes and hot code are still being compiled.
    warm_passes = 1
    # Timed passes a run makes at the least, whatever ``--seconds`` says,
    # so the per-position medians have a middle value.
    min_passes = 1

    def __init__(self, spark, tracer, seed: int, size: str, work_dir: str):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.cfg = SIZES[size]
        self.work_dir = work_dir

    def make_inputs(self) -> None:
        """Write the seeded inputs (benchmark work, not timed as set-up)."""

    def setup(self) -> None:
        """The program's own set-up work; called several times, timed."""

    def plan_pass(self, k: int) -> list[Op]:
        raise NotImplementedError

    def prepare_checks(self) -> None:
        """Compute expected results that need no Spark (runs in a thread
        during the warm-up, never while ops are timed)."""

    def finish_pass(self, k: int, ops: list[Op]) -> None:
        """Post-pass verification that needs the program's end state."""


# --- graph_crud_mix -----------------------------------------------------------
class GraphCrudMix(Workload):
    """The reference's six-call API, one call at a time, on a preloaded
    GraphEngine: name lookups, node and edge writes (each flushed), k-hop
    traversals and shortest paths, in a fixed interleaving with seeded
    parameters."""

    name = "graph_crud_mix"
    warm_passes = 3
    min_passes = 3

    def make_inputs(self) -> None:
        self._states = {}
        n = self.cfg["crud_grid"]
        rng = random.Random(f"{self.seed}/crud-inputs")
        self.grid_files = datagen.write_grid_files(n, os.path.join(self.work_dir, "crud"))
        people = self.cfg["crud_people"]
        self.people = [(PERSON_BASE + i, f"person{i}") for i in range(people)]
        # Each person links into the grid and to one other person.
        self.person_edges = []
        for pid, _ in self.people:
            self.person_edges.append((pid, rng.randrange(n * n)))
            self.person_edges.append((pid, PERSON_BASE + rng.randrange(people)))
        self.base_mirror = GraphMirror(
            list(range(n * n)) + [p for p, _ in self.people],
            datagen.grid_edges(n) + self.person_edges,
            names={nm: pid for pid, nm in self.people},
        )

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from graphdatabases_spark.graph import GraphEngine, PropertyGraph

        spark = self.spark
        eng = GraphEngine(spark)
        with self.tracer.span("graph.io"):
            eng.load_database(*self.grid_files)
            people = spark.createDataFrame(
                [(pid, ["person"], {"name": nm}) for pid, nm in self.people],
                "id long, labels array<string>, props map<string,string>",
            )
            eng.add_nodes_df(people)
            edges = spark.createDataFrame(self.person_edges, "src long, dst long").select(
                "src", "dst",
                F.array(F.lit("knows")).alias("labels"),
                F.create_map().cast("map<string,string>").alias("props"),
            )
            eng.add_edges_df(edges)
            # Materialize the bulk load once, as a loaded backend would be.
            g = eng.graph
            self.base_graph = PropertyGraph(
                g.vertices.localCheckpoint(eager=True), g.edges.localCheckpoint(eager=True)
            )

    def plan_pass(self, k: int) -> list[Op]:
        from graphdatabases_spark.graph import GraphEngine

        cfg, n = self.cfg, self.cfg["crud_grid"]
        eng = GraphEngine(self.spark, self.base_graph)
        mirror = self.base_mirror.copy()
        # The interleaving of op kinds is a fixed template (reads after
        # node writes, traversals after edge writes); the seed picks every
        # parameter. Only the ids of new nodes move with the pass, so every
        # pass does the same work on a fresh plan, and runs with different
        # seeds do the same kind of work.
        rng = random.Random(f"{self.seed}/crud-pass")
        kinds = CRUD_TEMPLATE[cfg["crud_template"]]
        new_ids: list[int] = []
        ops: list[Op] = []
        for kind in kinds:
            if kind.startswith("read"):
                if kind == "read_new":  # a node written earlier in this pass
                    name = f"new{rng.randrange(len(new_ids))}"
                elif kind == "read_absent":
                    name = f"absent{rng.randrange(1000)}"
                else:
                    name = self.people[rng.randrange(len(self.people))][1]
                want = mirror.lookup(name)
                ops.append(Op(
                    f"get_single_node:{name}", "read",
                    [("graph.api", lambda _, nm=name: eng.get_single_node(["person"], {"name": nm}))],
                    lambda row, want=want: (row is None) if want is None else (
                        row is not None and row["id"] == want
                    ),
                ))
            elif kind == "add_node":
                idx = len(new_ids)
                nid = NEW_BASE + k * 10_000 + idx
                new_ids.append(nid)
                mirror.add_node(nid, f"new{idx}")
                ops.append(Op(
                    f"add_node:{nid}", "write",
                    [("graph.api", lambda _, nid=nid, idx=idx: (
                        eng.add_node(nid, ["person"], {"name": f"new{idx}"}), eng.flush()))],
                    lambda _: True
                ))
            elif kind.startswith("add_edge"):
                # From a node written in this pass into the grid, or (for
                # add_edge_missing) to a vertex that does not exist, which
                # endpoint validation must drop.
                src = rng.choice(new_ids)
                if kind == "add_edge_missing":
                    dst = MISSING_BASE + rng.randrange(1000)
                else:
                    dst = rng.randrange(n * n)
                mirror.add_edge(src, dst)
                ops.append(Op(
                    f"add_edge:{src}->{dst}", "write",
                    [("graph.api", lambda _, s=src, d=dst: (eng.add_edge(s, d), eng.flush()))],
                    lambda _: True
                ))
            elif kind == "khop":
                h = cfg["crud_khop_hops"]
                src = rng.randrange(n * (n - h))
                want = mirror.khop(src, h)
                ops.append(Op(
                    f"get_nodes_hops:{src}/{h}", "traverse",
                    [("graph.traversal", lambda _, s=src, h=h: eng.get_nodes_hops(s, h).collect())],
                    lambda rows, want=want: {r["id"] for r in rows} == want,
                ))
            else:
                d = cfg["crud_ssp_dist"]
                r0, c0 = rng.randrange(n - d), rng.randrange(n - d)
                dr = rng.randint(0, d)
                src, dst = r0 * n + c0, (r0 + dr) * n + c0 + (d - dr)
                want = mirror.ssp_dist(src, dst)
                snap = mirror.copy()
                ops.append(Op(
                    f"ssp:{src}->{dst}", "traverse",
                    [("graph.traversal", lambda _, s=src, t=dst: eng.ssp(s, t).collect())],
                    lambda rows, s=src, t=dst, want=want, m=snap: (
                        (not rows) if want is None else (
                            len(rows) == 1 and rows[0]["dist"] == want
                            and m.valid_path(list(rows[0]["path"]), want, s, t)
                        )
                    ),
                ))
        self._states[k] = (eng, mirror)
        return ops

    def finish_pass(self, k: int, ops: list[Op]) -> None:
        """Writes have no output of their own: they are verified by the
        reads and traversals after them and by the end state, the distinct
        vertex and edge sets, compared with the mirror."""
        eng, mirror = self._states.pop(k)
        eng.flush()
        verts = {r["id"] for r in eng.graph.vertices.select("id").collect()}
        edges = {(r["src"], r["dst"]) for r in eng.graph.edges.select("src", "dst").collect()}
        want_edges = {(s, d) for s, ds in mirror.adj.items() for d in ds}
        if verts != mirror.vertices or edges != want_edges:
            for op in ops:
                if op.kind == "write" and op.error is None:
                    op.error = "end state differs from the mirror"


class CatalogChecker:
    """Verifies catalog entry results against the entry's DuckDB oracle
    over the same parquet; results identical to an already verified
    result (same digest) pass without a second comparison."""

    def __init__(self, data_dir: str):
        self.data_dir = data_dir
        self._want: dict[str, list[tuple]] = {}
        self._ok_digests: dict[str, set[int]] = {}

    def prefetch(self, entries) -> None:
        """Compute the oracles in a child process: DuckDB's memory, once
        in this process, stayed resident in some runs and not in others,
        and made its peak RSS bimodal."""
        self._want.update(oracle_rows_subprocess(self.data_dir, entries))

    def check(self, entry: str, table) -> bool:
        got = canonical_rows(table)
        d = digest(got)
        ok = self._ok_digests.setdefault(entry, set())
        if d in ok:
            return True
        want = self._want.get(entry)  # filled by prefetch during the warm-up
        if want is None or not rows_match(got, want):
            return False
        ok.add(d)
        return True


def _entry_op(spark, name: str, data_dir: str, checker: CatalogChecker) -> Op:
    from graphdatabases_spark.relational import queries

    fn = queries()[name]
    return Op(
        name, "entry",
        [("relational.call", lambda _: fn(spark, data_dir)),
         ("relational.sink", lambda df: df.toArrow())],
        lambda tbl: checker.check(name, tbl),
    )


# --- graph_analytics ------------------------------------------------------------
ANALYTICS_ENTRIES = (
    "graph_pagerank_incremental",
    "graph_coloring_mis",
    "graph_matching_greedy",
)


class GraphAnalytics(Workload):
    """Iterative graph kernels through their catalog entries, plus
    forced-distributed k-hop and shortest path on a grid deep enough for
    a dozen BSP rounds. Wall time is rounds x per-round job latency.
    One 100-query IVF batch against an index built in set-up keeps the
    similarity layer measured in this workload too."""

    name = "graph_analytics"

    def make_inputs(self) -> None:
        tables = datagen.make_tables(self.seed, self.cfg["analytics_sf"])
        self.data_dir = datagen.write_tables(tables, os.path.join(self.work_dir, "analytics"))
        self.ann = AnnBatches(tables, self.seed, self.cfg["ann_queries"], self.data_dir,
                              ("ivf_query",))
        self.grid_files = datagen.write_grid_files(
            self.cfg["analytics_grid"], os.path.join(self.work_dir, "analytics")
        )
        self.checker = CatalogChecker(self.data_dir)

    def setup(self) -> None:
        from pyspark import StorageLevel

        from graphdatabases_spark.graph.io import load_graph_files

        old = getattr(self, "grid", None)
        if old is not None:
            old.edges.unpersist()
        with self.tracer.span("graph.io"):
            g = load_graph_files(self.spark, *self.grid_files)
            g.edges.persist(StorageLevel.MEMORY_AND_DISK).count()
        self.grid = g
        self.ann.build(self.spark, self.tracer)

    def prepare_checks(self) -> None:
        self.checker.prefetch(ANALYTICS_ENTRIES)

    def plan_pass(self, k: int) -> list[Op]:
        from graphdatabases_spark.graph import khop, ssp

        n, depth = self.cfg["analytics_grid"], self.cfg["analytics_depth"]
        rng = random.Random(f"{self.seed}/analytics-pass")
        g = self.grid
        ops = [_entry_op(self.spark, e, self.data_dir, self.checker) for e in ANALYTICS_ENTRIES]
        r0, c0 = rng.randrange(n - depth), rng.randrange(n - depth)
        src = r0 * n + c0
        want_k = grid_khop(n, src, depth)
        ops.append(Op(
            f"khop_dist:{src}/{depth}", "traverse",
            [("graph.traversal", lambda _: khop(g, src, depth, strategy="distributed").collect())],
            lambda rows: {r["id"] for r in rows} == want_k,
        ))
        dr = rng.randint(0, depth)
        dst = (r0 + dr) * n + c0 + (depth - dr)
        ops.append(Op(
            f"ssp_dist:{src}->{dst}", "traverse",
            [("graph.traversal", lambda _: ssp(g, src, dst, strategy="distributed").collect())],
            lambda rows: len(rows) == 1 and rows[0]["dist"] == grid_dist(n, src, dst)
            and grid_valid_path(n, list(rows[0]["path"]), depth, src, dst),
        ))
        ops += self.ann.ops()
        rng.shuffle(ops)
        return ops


# --- ANN batches -------------------------------------------------------------------
ANN_K = 3


class AnnBatches:
    """100-query ANN batches against indexes built in set-up, checked
    against NumPy: every returned neighbour's cosine matches, ranks run
    1..m in cosine order, and the exact search returns the true top-k
    (ties at the k-th cosine accepted either way)."""

    def __init__(self, tables, seed: int, n_queries: int, data_dir: str, kinds: tuple[str, ...]):
        emb = tables["embeddings"]
        self.data_dir = data_dir
        self.kinds = kinds
        self.vec_ids = emb.column("vec_id").to_numpy()
        x = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
        self.unit = x / np.linalg.norm(x, axis=1, keepdims=True)
        rng = np.random.default_rng([seed, 100])
        self.query_ids = np.sort(
            rng.choice(self.vec_ids, size=min(n_queries, len(self.vec_ids)), replace=False)
        )
        self._persisted: tuple = ()

    def build(self, spark, tracer) -> None:
        """The one-time index builds (IVF and/or LSH), in set-up."""
        from pyspark.sql import functions as F

        from graphdatabases_spark.functions import similarity as S

        for df in self._persisted:
            df.unpersist()
        with tracer.span("functions.similarity", op="index_build"):
            emb = spark.read.parquet(os.path.join(self.data_dir, "embeddings.parquet"))
            built = []
            if "ivf_query" in self.kinds:
                cents, corpus = S.ivf_build(emb, num_clusters=8)
                self.ivf = (cents.persist(), corpus.persist())
                built += self.ivf
            if "lsh_query" in self.kinds:
                self.lsh = S.lsh_build(emb).persist()
                built.append(self.lsh)
            for df in built:
                df.count()
        self._persisted = tuple(built)
        self.emb = emb
        self.qbatch = emb.filter(F.col("vec_id").isin([int(i) for i in self.query_ids]))

    def ops(self) -> list[Op]:
        from graphdatabases_spark.functions import similarity as S

        q, emb = self.qbatch, self.emb
        calls = {
            "cosine_topk": lambda _: S.cosine_topk(q, emb, k=ANN_K).toArrow(),
            "lsh_query": lambda _: S.lsh_query(self.lsh, q, k=ANN_K).toArrow(),
            "ivf_query": lambda _: S.ivf_query(self.ivf, q, k=ANN_K, nprobe=2).toArrow(),
        }
        return [
            Op(kind, "ann", [("functions.similarity", calls[kind])],
               lambda tbl, exact=(kind == "cosine_topk"): self.check(tbl, exact))
            for kind in self.kinds
        ]

    def check(self, tbl, exact: bool) -> bool:
        pos = {int(v): i for i, v in enumerate(self.vec_ids)}
        by_q: dict[int, list[tuple[int, int, float]]] = {}
        for qid, nid, cos, rank in zip(*(tbl.column(c).to_pylist() for c in
                                        ("query_id", "neighbor_id", "cos", "rank"))):
            by_q.setdefault(qid, []).append((rank, nid, cos))
        if set(by_q) - {int(i) for i in self.query_ids}:
            return False
        for qid in self.query_ids:
            rows = sorted(by_q.get(int(qid), []))
            sims = self.unit @ self.unit[pos[int(qid)]]
            if [r for r, _, _ in rows] != list(range(1, len(rows) + 1)) or len(rows) > ANN_K:
                return False
            for _, nid, cos in rows:
                if nid == qid or abs(sims[pos[nid]] - cos) > 2e-6:
                    return False
            if any(a[2] < b[2] for a, b in zip(rows, rows[1:])):
                return False
            if exact:
                others = np.delete(sims, pos[int(qid)])
                kth = np.sort(others)[::-1][ANN_K - 1]
                if len(rows) != ANN_K or rows[-1][2] < kth - 2e-6:
                    return False
        return True


# --- relational_pipeline ----------------------------------------------------------
RELATIONAL_ENTRIES = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q18_large_volume",
    "join_salted_skew",
    "join_asof_events",
    "window_topk_per_group",
    "agg_cube",
    "dedup_minhash_signatures",
    "text_repetition_score",
    "docs_c4_line_filters",
    "events_tumbling_hourly",
)


class RelationalPipeline(Workload):
    """Relational and LLM-data catalog entries (TPC-H, joins, window,
    cube, dedup, text, streaming windows) plus 100-query ANN batches
    against indexes built in set-up. Few jobs per op; time goes to
    executor-side scans, shuffles and Python/Arrow UDFs."""

    name = "relational_pipeline"

    def make_inputs(self) -> None:
        tables = datagen.make_tables(self.seed, self.cfg["relational_sf"])
        self.data_dir = datagen.write_tables(tables, os.path.join(self.work_dir, "relational"))
        self.checker = CatalogChecker(self.data_dir)
        self.ann = AnnBatches(tables, self.seed, self.cfg["ann_queries"], self.data_dir,
                              ("cosine_topk", "lsh_query", "ivf_query"))

    def setup(self) -> None:
        self.ann.build(self.spark, self.tracer)

    def prepare_checks(self) -> None:
        self.checker.prefetch(RELATIONAL_ENTRIES)

    def plan_pass(self, k: int) -> list[Op]:
        rng = random.Random(f"{self.seed}/relational-pass")
        ops = [_entry_op(self.spark, e, self.data_dir, self.checker) for e in RELATIONAL_ENTRIES]
        ops += self.ann.ops()
        rng.shuffle(ops)
        return ops


WORKLOADS = {w.name: w for w in (GraphCrudMix, GraphAnalytics, RelationalPipeline)}
