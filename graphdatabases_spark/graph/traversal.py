"""Traversal kernel: k-hop BFS and unweighted shortest path.

Rebuilds the reference's two traversal operations —
``get_nodes_hops(node_id, hops)`` (k-hop reachability, Neo4j var-length
path ``-[*1..h]->`` + DISTINCT at ``databases.py:122``; ArangoDB BFS with
``uniqueVertices:"global"`` at ``databases.py:224-227``) and
``ssp(src, dst)`` (hop-count shortest path, ``databases.py:125-127 /
229-233 / 291-293``) — as iterative DataFrame programs.

Semantics (SURVEY §2.1 quirk 2): the canonical k-hop result EXCLUDES the
root unless the root is re-reached via a cycle of length ≤ hops
(Neo4j/ArangoDB behavior; OrientDB's root-included variant is available
via ``include_root=True``).

Execution strategy (the 100-TB design decision), chosen by
``regime.strategy``:

- **distributed**: one blocked-BSP frontier loop (``_bfs_distributed``)
  serves all three calls.  Each level is ``frontier ⋈ edges on
  id=src → dst``, an anti-join against the visited set and a per-level
  reduction: ``distinct`` for k-hop/BFS, a per-id ``min(path)`` for the
  path-carrying shortest path.  The edge set is persisted once
  (unshuffled: the frontier side is broadcast while it has at most
  ``regime.BROADCAST_MAX`` rows, else it shuffle-joins a src-clustered
  copy).  While the frontier is small, up to 4 levels are composed into
  one lazy block; the block is reduced by ``min`` per id and its
  localCheckpoint is filled by the one probe job that also reads its
  size (and the target hit for ``ssp``), so the fixed BSP latency is
  paid once per block.  The checkpoints truncate lineage and guarantee
  the result holds no reference to the unpersisted edge cache.
- **local**: when the edge set fits on the driver, collect it once
  (cached across calls by plan semanticHash) as a CSR index and run a
  vectorized numpy BFS.  A 300-round distributed loop on a 45k-edge
  graph pays ~300 job latencies for no parallelism benefit; the local
  path answers in milliseconds, matching the reference's server-side
  traversal times (BASELINE: 0.06-1.1 s for 300 hops).
- **auto** (default): plan statistics decide when conclusive; else one
  count pass picks local if ``edges ≤ min(regime.LOCAL_EDGE_MAX,
  hops·500k)``.  A frame built from Python rows (``GraphEngine``
  writes) has no statistics and is probed, not taken as large.  At
  100 TB the statistics say distributed and no probe runs.
"""

from __future__ import annotations

from collections import deque

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark import StorageLevel
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from graphdatabases_spark.graph import regime
from graphdatabases_spark.graph.model import PropertyGraph

DIST_SCHEMA = StructType(
    [
        StructField("id", LongType(), nullable=False),
        StructField("dist", IntegerType(), nullable=False),
    ]
)

PATH_SCHEMA = StructType(
    [
        StructField("dist", IntegerType(), nullable=False),
        StructField("path", ArrayType(LongType()), nullable=False),
    ]
)

# --- multi-hop blocking for the distributed BFS kernels (round 14) --------
# The deep-traversal wall is NOT data volume: at depth 300 the grid500
# bench rows spent ~0.5 s/hop of fixed synchronous-BSP latency (eager
# checkpoint job + probe job + broadcast builds per hop) on frontiers of
# a few hundred rows.  When the frontier is provably small, up to
# _BLOCK_MAX_HOPS expansion levels are composed LAZILY into one plan and
# materialized by ONE action (the block-end probe), so the per-hop
# scheduling floor is paid once per BLOCK instead of once per hop.
# Exactness: every level still anti-joins `visited` (all
# pre-block discoveries), and the block result is reduced by
# min(dist) per id before anything reads it — within-block re-discovery
# echoes (an undirected edge walks back onto a level-i node at level
# i+2, which per-hop materialization used to kill via the visited
# anti-join) are therefore dropped, and a node's emitted dist is its
# true BFS level (a spurious parent has strictly larger dist, so every
# candidate it generates lands strictly above the child's true level —
# the min is untouched).  Deduped block == the exact BFS levels; the
# only cost of blocking is some re-expanded echo rows inside the block,
# bounded by (k/2)·|level| on symmetric graphs.
#
# Scale safety (the 100 TB contract): blocking only engages while the
# WORST-CASE estimated frontier stays driver-trivial — the block's k is
# the largest with rows·growth^k <= _BLOCK_SAFE_ROWS, where `growth` is
# a learned per-level expansion ratio that starts conservative (8x) and
# is re-estimated from each block's measured first/last level counts
# with a 2x margin (floor 2x, cap 64x).  A hub-explosive graph measures
# a large ratio after its first block and collapses back to k=1 — the
# pre-round-14 per-hop kernel, bit-identical behavior.
# Block size cap: measured on the 300-grid 60-hop fixture (interleaved
# A/B, 3 repeats, round 14): k=1 0.37 s/hop, k=2 0.28, k=4 0.24 (with
# the size-adaptive edge cache below), k=8 WORSE than k=4 — each level
# inside a block is still a sequentially-materialized AQE stage pair
# (shuffle + broadcast build), so past ~4 levels the saved
# checkpoint/probe jobs no longer dominate and the block's within-plan
# echo rows and planning cost grow.  4 is the measured knee.
_BLOCK_MAX_HOPS = 4
_BLOCK_SAFE_ROWS = 1_000_000

# Per-partition byte target for the persisted traversal edge cache.
# The per-level join schedules one task per cached edge partition; a
# sub-threshold-adjacent graph (the 500-grid deep rows: 499k edges,
# ~12 MB) otherwise inherits the scan's 32 partitions and pays 32
# near-empty task launches PER LEVEL.  64 MB/partition keeps big
# graphs parallel (a 100 GB edge set still gets ~1600 partitions) and
# collapses toy ones to 1-2 tasks; derived from plan stats, so the
# sizing adapts to the input instead of the local core count.
_EDGE_CACHE_PARTITION_BYTES = 64 << 20


def _block_k(frontier_rows: int, growth: float, remaining: int | None) -> int:
    """Largest hop-block size whose worst-case frontier estimate stays
    under ``_BLOCK_SAFE_ROWS`` (always >= 1; capped by remaining hops)."""
    k = 1
    est = frontier_rows * growth
    while (
        k < _BLOCK_MAX_HOPS
        and (remaining is None or k < remaining)
        and est * growth <= _BLOCK_SAFE_ROWS
    ):
        k += 1
        est *= growth
    return k


def _next_growth(ratio_k: float, k: int) -> float:
    """Re-estimate the per-level growth ratio from a block's overall
    first→last frontier ratio (k-th root), with a 2x safety margin,
    floored at 2x and capped at 64x."""
    per_level = max(ratio_k, 1e-9) ** (1.0 / k)
    return min(64.0, max(2.0, 2.0 * per_level))

def _edges_df(graph: PropertyGraph | DataFrame) -> DataFrame:
    if isinstance(graph, PropertyGraph):
        return graph.edge_pairs()  # memoized projection, no repeat RPC
    return graph.select("src", "dst")


def _spark_of(df: DataFrame) -> SparkSession:
    return df.sparkSession


def _shuffle_partitions(spark: SparkSession) -> int:
    """Session shuffle-partition count — the coalesce cap for the
    iterative loops' accumulated-union checkpoints."""
    return int(spark.conf.get("spark.sql.shuffle.partitions", "200"))


# Probe results cached by (semanticHash, col): the executedPlan() call
# below forces full physical planning on the JVM — a driver round-trip
# measured at ~15-40 ms per invocation — and the iterative kernels call
# the probe once per PUBLIC invocation on the same logical edge relation
# (the reference's workload shape is many calls against one loaded
# graph).  semanticHash needs only analysis (cheap) and is stable for
# the same logical plan within a session.  The probe is a performance
# hint only (skip-a-shuffle), so a stale entry after a mid-session
# bucketing-conf flip costs at most one redundant shuffle, never a
# wrong answer.
_HASHPART_CACHE: dict[tuple[int, str], bool] = {}
_HASHPART_CACHE_MAX = 64


def hash_partitioned_on(df: DataFrame, col: str) -> bool:
    """True when ``df``'s physical plan already reports hash
    partitioning on exactly (``col``) — a scan of a table bucketed by
    that column (the SURVEY §1.2 100-TB edge layout; the scan keeps its
    bucketed form when a downstream operator wants it, or always under
    ``spark.sql.sources.bucketing.autoBucketedScan.enabled=false``) or
    an upstream ``repartition(col)``.  The iterative kernels use this
    to SKIP their one-time edge-side shuffle: each round's join then
    exchanges only the frontier/dist side.

    The match is anchored to the FULL single-column form
    ``hashpartitioning(col#<exprId><type?>, <numPartitions>)`` — a
    multi-column partitioning (e.g. ``hashpartitioning(src#1L, dst#2L,
    200)``) means rows are NOT clustered by ``col`` alone and must
    return False, or the kernels would skip a shuffle the join actually
    needs every round."""
    import re

    try:
        key: tuple[int, str] | None = (df.semanticHash(), col)
    except Exception:
        key = None
    if key is not None and key in _HASHPART_CACHE:
        return _HASHPART_CACHE[key]
    try:
        p = (
            df._jdf.queryExecution()
            .executedPlan()
            .outputPartitioning()
            .toString()
        )
        out = (
            re.fullmatch(
                rf"hashpartitioning\({re.escape(col)}#\d+[A-Za-z]*(, \d+)?\)", p
            )
            is not None
        )
    except Exception:  # non-classic backend: conservatively re-shuffle
        out = False
    if key is not None:
        if len(_HASHPART_CACHE) >= _HASHPART_CACHE_MAX:
            _HASHPART_CACHE.clear()
        _HASHPART_CACHE[key] = out
    return out


# ---------------------------------------------------------------------------
# local fast path
# ---------------------------------------------------------------------------

# Tiny LRU for the local fast path: repeated traversals over the same
# logical edge set (the reference's workload shape — many khop/ssp calls
# against one loaded graph) skip the re-collect. Keyed by the analyzed
# plan's semanticHash: same plan ⇒ same data within a session (mutation
# goes through GraphEngine, which builds a new plan on every change).
_ADJ_CACHE: dict[int, "_AdjIndex"] = {}
_ADJ_CACHE_MAX = 4


class _AdjIndex:
    """Driver-side edge index: CSR over the compacted node universe.

    The traversal kernels run vectorized numpy BFS over ``indptr`` /
    ``nbr_idx`` (a Python dict BFS pays ~1 µs/edge in interpreter
    overhead; the CSR form does a whole frontier level in a handful of
    numpy ops). The dict view (``adj``) is built lazily for consumers
    that genuinely need per-node Python iteration (union-find, LPA,
    local triangle counting) — neighbor lists come out dst-sorted.
    """

    def __init__(self, src, dst):
        import numpy as np

        # src-only quicksort: BFS is neighbor-order-insensitive, and at
        # millions of edges a lexsort costs 4× a plain sort. The
        # deterministic dst-sorted view is deferred to `.adj` (small-
        # graph consumers only). Separate unique + union1d beats one
        # unique over the concatenation ~5× at this scale.
        order = np.argsort(src)
        self.src = src[order]
        self.dst = dst[order]
        self.universe = np.union1d(np.unique(self.src), np.unique(self.dst))
        n = len(self.universe)
        self.indptr = np.empty(n + 1, dtype=np.int64)
        self.indptr[:n] = np.searchsorted(self.src, self.universe, side="left")
        self.indptr[n] = len(self.src)
        self.nbr_idx = np.searchsorted(self.universe, self.dst)
        self._adj: dict[int, list[int]] | None = None

    def node_pos(self, node: int) -> int | None:
        """Position of ``node`` in the universe, or None if absent."""
        import numpy as np

        p = int(np.searchsorted(self.universe, node))
        if p >= len(self.universe) or int(self.universe[p]) != node:
            return None
        return p

    def predecessor_positions(self, node: int):
        """Universe positions of all u with an edge u → node."""
        import numpy as np

        return np.searchsorted(self.universe, self.src[self.dst == node])

    @property
    def adj(self) -> dict[int, list[int]]:
        if self._adj is None:
            import numpy as np

            # Deterministic view: dst-sorted within each src segment
            # (src is the primary lexsort key and already sorted, so
            # segment boundaries — indptr — are unchanged).
            d_sorted = self.dst[np.lexsort((self.dst, self.src))]
            self._adj = {
                int(self.universe[i]): d_sorted[
                    self.indptr[i] : self.indptr[i + 1]
                ].tolist()
                for i in range(len(self.universe))
                if self.indptr[i] < self.indptr[i + 1]
            }
        return self._adj


def _collect_index(edges: DataFrame) -> _AdjIndex:
    """Collect the edge set to a driver-side CSR index via Arrow."""
    key = edges.semanticHash()
    hit = _ADJ_CACHE.get(key)
    if hit is not None:
        return hit
    sel = edges.select("src", "dst")
    if hasattr(sel, "toArrow"):  # Spark 4: Arrow table, no pandas hop
        tbl = sel.toArrow()
        src = tbl.column("src").to_numpy()
        dst = tbl.column("dst").to_numpy()
    else:
        pdf = sel.toPandas()  # Arrow-batched transfer
        src = pdf["src"].to_numpy()
        dst = pdf["dst"].to_numpy()
    idx = _AdjIndex(src, dst)
    if len(_ADJ_CACHE) >= _ADJ_CACHE_MAX:
        _ADJ_CACHE.pop(next(iter(_ADJ_CACHE)))
    _ADJ_CACHE[key] = idx
    return idx


def _collect_adjacency(edges: DataFrame) -> dict[int, list[int]]:
    """Driver-side adjacency dict (compat view over the CSR index)."""
    return _collect_index(edges).adj


def _bfs_numpy(idx: _AdjIndex, src: int, max_hops: int | None):
    """Vectorized frontier BFS over the CSR index.

    Returns a dist ndarray aligned to ``idx.universe`` (-1 = unreached),
    or None when ``src`` does not appear in the universe at all.
    """
    import numpy as np

    pos = idx.node_pos(src)
    if pos is None:
        return None
    n = len(idx.universe)
    dist = np.full(n, -1, dtype=np.int32)
    dist[pos] = 0
    frontier = np.array([pos], dtype=np.int64)
    d = 0
    while len(frontier) and (max_hops is None or d < max_hops):
        d += 1
        starts = idx.indptr[frontier]
        counts = idx.indptr[frontier + 1] - starts
        total = int(counts.sum())
        if total == 0:
            break
        # Gather all frontier neighbors in one shot: repeat each start,
        # add a per-segment ramp (global arange minus segment offsets).
        ends = np.cumsum(counts)
        ramp = np.arange(total) - np.repeat(ends - counts, counts)
        nbrs = idx.nbr_idx[np.repeat(starts, counts) + ramp]
        new = np.unique(nbrs[dist[nbrs] < 0])
        if len(new) == 0:
            break
        dist[new] = d
        frontier = new
    return dist


def _all_integral(rows: list, schema: StructType) -> bool:
    """True when every value is an int (or an array of ints) matching an
    integral(-array) schema field — the only shapes the SQL-literal
    fast path below can render exactly."""
    for f in schema.fields:
        if isinstance(f.dataType, ArrayType):
            if not isinstance(f.dataType.elementType, (IntegerType, LongType)):
                return False
        elif not isinstance(f.dataType, (IntegerType, LongType)):
            return False
    import numbers

    for row in rows:
        for f, v in zip(schema.fields, row):
            if isinstance(f.dataType, ArrayType):
                if not all(isinstance(x, numbers.Integral) for x in v):
                    return False
            elif not isinstance(v, numbers.Integral):
                return False
    return True


def _local_result_df(spark: SparkSession, rows: list, schema: StructType) -> DataFrame:
    """Build a DataFrame from a small driver-side result in ONE slice —
    ``createDataFrame`` on a bare list fans a 1-row result across
    defaultParallelism tasks (a 32-task job to collect one row).
    Flat scalar rows ship as one Arrow batch (pandas) instead of pickled
    Row objects — ~3× faster to construct at 20k+ rows."""
    if rows and not any(isinstance(f.dataType, ArrayType) for f in schema.fields):
        import pandas as pd

        pdf = pd.DataFrame(rows, columns=[f.name for f in schema.fields])
        return spark.createDataFrame(pdf, schema)
    if rows and len(rows) == 1 and _all_integral(rows, schema):
        # The 1-ROW array-typed result (the SSP path): render as ONE
        # SQL statement — a single py4j round-trip. The Arrow batch
        # path below costs ~20 ms per call in JVM round-trips
        # (profiled round 8: >half of a cached ssp() invocation).
        # Restricted to exactly one row (ADVICE r8): a multi-row UNION
        # ALL of literal SELECTs has no contractual row order and its
        # derived nullability can differ from the declared schema —
        # with one row, ordering is moot and the single SELECT's
        # schema names/types are pinned by the CASTs below.
        # Arrays render as transform(split('1,2,…')) rather than an
        # array(…) literal: one string literal is ~5 expression nodes
        # where a 260-element array literal is 260+, and the analyzer
        # walks every node (measured 6-9 ms vs 8-13 ms per build).
        # Integral-only by construction (node ids/dists).
        selects = []
        for row in rows:
            cols = []
            for i, f in enumerate(schema.fields):
                if isinstance(f.dataType, ArrayType):
                    elem = f.dataType.elementType.simpleString()
                    if len(row[i]) == 0:
                        # split('') yields [''] → [NULL]; render empty
                        # arrays directly.
                        cols.append(
                            f"CAST(array() AS {f.dataType.simpleString()})"
                            f" AS {f.name}"
                        )
                        continue
                    inner = ",".join(str(int(v)) for v in row[i])
                    cols.append(
                        f"transform(split('{inner}', ','),"
                        f" x -> CAST(x AS {elem})) AS {f.name}"
                    )
                else:
                    cols.append(
                        f"CAST({int(row[i])} AS {f.dataType.simpleString()})"
                        f" AS {f.name}"
                    )
            selects.append("SELECT " + ", ".join(cols))
        return spark.sql(" UNION ALL ".join(selects))
    if rows:
        # Array-typed results (SSP paths): hand Spark ONE Arrow batch.
        # The row-list path re-verifies every element against the schema
        # driver-side (~6 ms extra on a 1-row path result — measured
        # round 5); Arrow skips that entirely.
        try:
            import pyarrow as pa
            from pyspark.sql.pandas.types import to_arrow_schema

            arrow_schema = to_arrow_schema(schema)
            cols = {
                f.name: [row[i] for row in rows]
                for i, f in enumerate(schema.fields)
            }
            return spark.createDataFrame(
                pa.table(cols, schema=arrow_schema), schema
            )
        except Exception:  # pragma: no cover - fallback for exotic types
            pass
    # Empty results: a plain-list createDataFrame (a LogicalRDD
    # without statistics) costs half the RPC roundtrips of
    # parallelize().
    return spark.createDataFrame(rows, schema)


def _numpy_result_df(
    spark: SparkSession, arrays: dict[str, "object"], schema: StructType
) -> DataFrame:
    """One-Arrow-batch DataFrame from numpy columns — no tuple list, no
    per-row conversion; the arrays are handed to pandas zero-copy."""
    import pandas as pd

    pdf = pd.DataFrame(arrays, columns=[f.name for f in schema.fields])
    return spark.createDataFrame(pdf, schema)


def _ssp_numpy(
    idx: _AdjIndex, src: int, dst: int, max_hops: int | None
) -> tuple[int, list[int]] | None:
    """Vectorized BFS with predecessor tracking over the CSR index;
    returns (dist, path) or None — same lexicographic-smallest-path
    contract as ``_ssp_local``.

    Lex order is maintained by rank propagation: the frontier is kept in
    path-lex order, every newly reached node takes its minimum-rank
    predecessor (all frontier paths have equal length, so comparing full
    paths reduces to comparing ranks), and the next frontier is ordered
    by (predecessor rank, node id) — which IS path-lex order for the new
    level.
    """
    import numpy as np

    if src == dst:
        return (0, [src])
    pos = idx.node_pos(src)
    dpos = idx.node_pos(dst)
    if pos is None or dpos is None:
        return None
    n = len(idx.universe)
    pred = np.full(n, -1, dtype=np.int64)
    visited = np.zeros(n, dtype=bool)
    visited[pos] = True
    frontier = np.array([pos], dtype=np.int64)  # in path-lex order
    d = 0
    while len(frontier) and (max_hops is None or d < max_hops):
        d += 1
        starts = idx.indptr[frontier]
        counts = idx.indptr[frontier + 1] - starts
        total = int(counts.sum())
        if total == 0:
            break
        ends = np.cumsum(counts)
        ramp = np.arange(total) - np.repeat(ends - counts, counts)
        cand_v = idx.nbr_idx[np.repeat(starts, counts) + ramp]
        cand_rank = np.repeat(np.arange(len(frontier)), counts)
        keep = ~visited[cand_v]
        cand_v, cand_rank = cand_v[keep], cand_rank[keep]
        if len(cand_v) == 0:
            break
        # cand_rank is nondecreasing by construction (candidates are
        # emitted frontier-slot by frontier-slot), so ONE stable sort
        # on v alone puts the min-rank predecessor first per v — no
        # two-key lexsort needed.
        order = np.argsort(cand_v, kind="stable")
        vs_sorted = cand_v[order]
        first = np.ones(len(vs_sorted), dtype=bool)
        first[1:] = vs_sorted[1:] != vs_sorted[:-1]
        new_v = vs_sorted[first]
        new_rank = cand_rank[order][first]
        pred[new_v] = frontier[new_rank]
        visited[new_v] = True
        # Next frontier in path-lex order: by (pred rank, node id) —
        # both nonnegative and < n, so one argsort of the combined
        # int64 key replaces the second lexsort.
        frontier = new_v[np.argsort(new_rank * np.int64(n) + new_v)]
        if visited[dpos]:
            path = [int(idx.universe[dpos])]
            p = dpos
            while pred[p] != -1:
                p = pred[p]
                path.append(int(idx.universe[p]))
            return (d, list(reversed(path)))
    return None


def _ssp_local(
    adj: dict[int, list[int]], src: int, dst: int, max_hops: int | None
) -> tuple[int, list[int]] | None:
    """BFS with predecessor tracking; returns (dist, path) or None.

    Deterministic: neighbors expand in ascending order (the adjacency
    lists come dst-sorted from the CSR build), so the returned path is
    the lexicographically-smallest shortest path.
    """
    if src == dst:
        return (0, [src])
    pred: dict[int, int] = {src: -1}
    q = deque([(src, 0)])
    while q:
        u, du = q.popleft()
        if max_hops is not None and du >= max_hops:
            continue
        for v in adj.get(u, ()):
            if v not in pred:
                pred[v] = u
                if v == dst:
                    path = [v]
                    while pred[path[-1]] != -1:
                        path.append(pred[path[-1]])
                    return (du + 1, list(reversed(path)))
                q.append((v, du + 1))
    return None


# ---------------------------------------------------------------------------
# distributed kernel
# ---------------------------------------------------------------------------

class _EdgeSides:
    """Per-traversal holder for the two physical layouts of the edge set.

    ``plain`` is the as-scanned cache (no shuffle) that broadcast-frontier
    rounds join against.  ``by_src`` — built lazily, only if some round's
    frontier exceeds ``regime.BROADCAST_MAX`` — is a src-hash-clustered
    copy (SURVEY §4.3.2): its InMemoryTableScan reports
    HashPartitioning(src), so a shuffle join against it exchanges ONLY
    the frontier side each round.
    """

    def __init__(self, edges: DataFrame):
        plain = edges.select("src", "dst")
        self._max_out_deg: int | None = None
        # Size-adaptive partition count for the persisted copy (round
        # 14; see _EDGE_CACHE_PARTITION_BYTES) — UNLESS the relation is
        # already src-clustered (bucketed table / upstream
        # repartition): coalesce would erase the hashpartitioning(src)
        # the shuffle-join regime exploits, re-introducing the per-round
        # edge exchange the bucketed layout exists to avoid.
        if not hash_partitioned_on(plain, "src"):
            est = regime.plan_size_bytes(plain)
            if est is not None and est > 0:
                # min() keeps the arg in Java-int range when stats
                # report "unknown" as Long.MaxValue; coalesce clamps to
                # the input partition count anyway (never increases).
                plain = plain.coalesce(
                    min(
                        1_000_000,
                        max(1, est // _EDGE_CACHE_PARTITION_BYTES + 1),
                    )
                )
        self.plain = plain.persist(StorageLevel.MEMORY_AND_DISK)
        self._by_src: DataFrame | None = None

    def by_src(self) -> DataFrame:
        if self._by_src is None:
            if hash_partitioned_on(self.plain, "src"):
                # src-bucketed edge table (SURVEY §1.2): the cache is
                # already src-clustered — no one-time shuffle needed.
                self._by_src = self.plain
            else:
                spark = _spark_of(self.plain)
                n = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
                self._by_src = self.plain.repartition(n, "src").persist(
                    StorageLevel.MEMORY_AND_DISK
                )
        return self._by_src

    def max_out_degree(self) -> int:
        """Max out-degree of the cached edge set (one aggregate job,
        computed lazily and memoized).  The multi-hop block loop uses
        ``frontier_rows * max_deg^i`` as a PROVABLE bound on the level-i
        expansion — the broadcast gate for in-block levels (advice r14:
        the learned growth ratio is an estimate, and a hub vertex inside
        a small frontier could otherwise get an F.broadcast hint on tens
        of millions of rows)."""
        if self._max_out_deg is None:
            row = (
                self.plain.groupBy("src")
                .agg(F.count(F.lit(1)).alias("c"))
                .agg(F.max("c").alias("m"))
                .collect()[0]
            )
            self._max_out_deg = int(row["m"] or 1)
        return self._max_out_deg

    def join_frontier(self, frontier: DataFrame, frontier_rows: int) -> DataFrame:
        """frontier ⋈ edges on id=src, picking the join side by size."""
        if frontier_rows <= regime.BROADCAST_MAX:
            return self.plain.join(F.broadcast(frontier), F.col("src") == F.col("id"))
        return self.by_src().join(frontier, F.col("src") == F.col("id"))

    def release(self) -> None:
        self.plain.unpersist()
        if self._by_src is not None and self._by_src is not self.plain:
            self._by_src.unpersist()


def _bfs_distributed(
    edges: DataFrame,
    src: int,
    max_hops: int | None,
    dst: int | None = None,
) -> tuple[DataFrame, tuple[int, list[int]] | None]:
    """Blocked-BSP frontier BFS from ``src``: the one distributed loop
    behind ``bfs_distances``, ``khop`` and ``ssp``.

    Returns ``(visited, hit)``: ``visited`` is the checkpointed
    DataFrame(id, dist) of the nodes reached within ``max_hops``.  With
    ``dst`` set, every frontier row also carries one path, the loop
    stops as soon as ``dst`` is reached, and ``hit`` is its
    ``(dist, path)`` with the lexicographically smallest shortest path
    (None if unreached).

    Each level joins the frontier against the persisted edges (the
    broadcast/shuffle switch is ``_EdgeSides``'), anti-joins the
    pre-block ``visited`` and reduces per id: ``distinct`` for an id
    frontier, ``min(path)`` for a path frontier (equal-length paths
    compare element-wise, so the per-level min keeps the global
    lex-min-path invariant).  Small-frontier levels are composed into
    lazy blocks (see ``_BLOCK_MAX_HOPS``) that end with a ``min`` per
    id: ``min(dist)``, or ``min(struct(dist, path))`` where dist leads,
    so the true first discovery beats within-block echoes.
    """
    spark = _spark_of(edges)
    paths = dst is not None
    # What a path payload changes: the frontier's columns, the per-level
    # reduction, and the extra target-hit probe column — dist leads the
    # struct, so the min is the earliest, then lex-smallest, dst path.
    cols = ["id", "path"] if paths else ["id"]
    frontier = (
        spark.createDataFrame([(src, 0, [src])], "id BIGINT, dist INT, path ARRAY<BIGINT>")
        if paths
        else spark.createDataFrame([(src, 0)], DIST_SCHEMA)
    )
    payload, probes = [], []
    if paths:
        payload = [F.concat(F.col("path"), F.array(F.col("dst"))).alias("path")]
        probes = [F.min(F.when(F.col("id") == dst, F.struct("dist", "path"))).alias("hit")]
    sides = _EdgeSides(edges)
    try:
        visited = frontier.select("id", "dist")
        visited_rows = 1
        frontier_rows = 1
        d = 0
        growth = 8.0  # conservative prior; learned per block (_next_growth)
        since_ckpt = 0
        while (max_hops is None or d < max_hops) and frontier_rows > 0:
            remaining = None if max_hops is None else max_hops - d
            k = _block_k(frontier_rows, growth, remaining)
            # Small-frontier regime: the real degree bound (lazy
            # one-time aggregate) gates the in-block broadcasts.
            max_deg = sides.max_out_degree() if k > 1 else None
            # Compose k hops lazily; each level anti-joins the
            # pre-block `visited` only (within-block echoes are removed
            # by the block-end min below — see _BLOCK_MAX_HOPS).  The
            # visited side broadcasts while its EXACT row count is under
            # the cap (one build per block, reused by every level).
            vis = regime.side(visited.select("id"), visited_rows)
            f = frontier.select(*cols)
            block = None
            for i in range(1, k + 1):
                # In-block level i's frontier side broadcasts only when
                # the PROVABLE bound frontier_rows·max_deg^(i-1) clears
                # the cap (advice r14 — never an estimate).  A
                # path-carrying row is ~8·d bytes, not 16: scale the
                # bound by the path length.
                bound = (
                    frontier_rows
                    if i == 1 or max_deg is None
                    else frontier_rows * max_deg ** (i - 1)
                )
                if paths:
                    bound *= max(1, (d + i) // 2)
                nf = (
                    sides.join_frontier(f, bound)
                    .select(F.col("dst").alias("id"), *payload)
                    .join(vis, "id", "left_anti")
                )
                nf = (
                    nf.groupBy("id").agg(F.min("path").alias("path"))
                    if paths
                    else nf.distinct()
                )
                lvl = nf.withColumn("dist", F.lit(d + i).cast("int"))
                block = lvl if block is None else block.unionByName(lvl)
                f = nf
            if k > 1:
                block = (
                    block.groupBy("id")
                    .agg(F.min(F.struct("dist", "path")).alias("m"))
                    .select("id", "m.dist", "m.path")
                    if paths
                    else block.groupBy("id").agg(F.min("dist").alias("dist"))
                )
            # One action per block: the probe fills the block's lazy
            # checkpoint (regime.materialize's pattern) and reads its
            # emptiness, the last level's size (next block's sizing and
            # growth re-estimate) and the target hit.  The checkpoint
            # also keeps `visited` free of lineage into `edges`, which
            # is unpersisted when this function returns.
            block = block.localCheckpoint(eager=False)
            stats = block.agg(
                F.count(F.lit(1)).alias("n"),
                F.count(F.when(F.col("dist") == d + k, 1)).alias("nlast"),
                *probes,
            ).collect()[0]
            if paths and stats["hit"] is not None:
                return visited, (stats["hit"]["dist"], list(stats["hit"]["path"]))
            if stats["n"] == 0:
                break
            visited = visited.union(block.select("id", "dist"))
            visited_rows += stats["n"]
            d += k
            since_ckpt += k
            if since_ckpt >= regime.CHECKPOINT_EVERY:
                # Collapse the growing union tree so plan size stays
                # O(1) — AND coalesce first: each union appends the
                # block's partitions, so without the coalesce the
                # checkpointed partition count grows ~linearly with
                # depth and the per-round anti-join's visited scan pays
                # that many task launches every round. Measured on the
                # 500-grid at 300 hops: 2.4 s/round average (715 s
                # total) with the growth vs a flat ~0.45 s/round once
                # capped (round-10 deep-BFS audit, SCALE.md).  In the
                # broadcast regime (exact count under the cap — ~64 MB
                # of (id, dist) rows) ONE partition suffices and every
                # per-block broadcast build of `visited` then schedules
                # one task instead of shuffle_partitions of them.
                visited = visited.coalesce(
                    1
                    if visited_rows <= regime.BROADCAST_MAX
                    else _shuffle_partitions(spark)
                ).localCheckpoint(eager=True)
                since_ckpt = 0
            if k > 1:
                growth = _next_growth(
                    stats["nlast"] / max(frontier_rows, 1), k
                )
            frontier_rows = stats["nlast"]
            frontier = block.filter(F.col("dist") == d)
        return visited, None
    finally:
        sides.release()


# ---------------------------------------------------------------------------
# public API
# ---------------------------------------------------------------------------

def bfs_distances(
    graph: PropertyGraph | DataFrame,
    src: int,
    max_hops: int | None = None,
    strategy: str = "auto",
) -> DataFrame:
    """Shortest hop-count distance from ``src`` to every reachable node.

    Returns DataFrame(id BIGINT, dist INT), including ``src`` at dist 0.
    """
    plan = _edges_df(graph)  # already src/dst-projected; no re-select RPC
    spark = _spark_of(plan)
    with regime.strategy(plan, strategy, max_hops) as (chosen, edges):
        if chosen == "local":
            idx = _collect_index(edges)
            dist = _bfs_numpy(idx, src, max_hops)
            if dist is None:  # src absent from the edge universe
                return _local_result_df(spark, [(src, 0)], DIST_SCHEMA)
            mask = dist >= 0
            return _numpy_result_df(
                spark,
                {"id": idx.universe[mask], "dist": dist[mask]},
                DIST_SCHEMA,
            )
        return _bfs_distributed(edges, src, max_hops)[0]


def khop(
    graph: PropertyGraph | DataFrame,
    src: int,
    hops: int,
    include_root: bool = False,
    strategy: str = "auto",
) -> DataFrame:
    """All distinct nodes reachable from ``src`` in 1..hops directed hops.

    Reference: ``get_nodes_hops`` (``databases.py:122 / 224-227 / 287-289``).
    Canonical semantics = Neo4j/ArangoDB: root EXCLUDED unless re-reached
    via a cycle of length ≤ hops. ``include_root=True`` gives OrientDB's
    root-included variant (``databases.py:288``).

    Returns DataFrame(id BIGINT).
    """
    plan = _edges_df(graph)  # already src/dst-projected; no re-select RPC
    spark = _spark_of(plan)
    with regime.strategy(plan, strategy, hops) as (chosen, edges):
        if chosen == "local":
            import numpy as np

            id_schema = StructType([StructField("id", LongType(), False)])
            idx = _collect_index(edges)
            dist = _bfs_numpy(idx, src, hops)
            if dist is None:  # src absent: nothing reachable, no cycle
                rows = [(src,)] if include_root else []
                return _local_result_df(spark, rows, id_schema)
            pos = idx.node_pos(src)
            mask = dist >= 0
            mask[pos] = False  # root excluded by default (quirk 2)
            root_in = include_root
            if not root_in:
                # Root re-reached via a cycle: some reached u at dist ≤
                # hops-1 has an edge u → src (vectorized over in-edges).
                pd_pos = idx.predecessor_positions(src)
                du = dist[pd_pos]
                root_in = bool(np.any((du >= 0) & (du <= hops - 1)))
            if root_in:
                mask[pos] = True
            return _numpy_result_df(spark, {"id": idx.universe[mask]}, id_schema)

        visited, _ = _bfs_distributed(edges, src, hops)
        result = visited.filter(F.col("dist") >= 1).select("id").localCheckpoint(
            eager=True
        )
        if include_root:
            root = spark.createDataFrame([(src,)], "id long")
            return result.union(root).distinct()
        # Cycle check: any edge u → src where dist(u) ≤ hops-1.
        closers = (
            edges.filter(F.col("dst") == src)
            .join(
                visited.filter(F.col("dist") <= hops - 1),
                edges.src == visited.id,
                "left_semi",
            )
            .limit(1)
        )
        if closers.count() > 0:
            root = spark.createDataFrame([(src,)], "id long")
            return result.union(root).distinct()
        return result


def ssp(
    graph: PropertyGraph | DataFrame,
    src: int,
    dst: int,
    max_hops: int | None = None,
    strategy: str = "auto",
) -> DataFrame:
    """Unweighted shortest path ``src → dst``; path returned.

    Reference: ``ssp`` (Neo4j ``shortestPath((a)-[*]->(b))``
    ``databases.py:125-127``; AQL ``OUTBOUND SHORTEST_PATH``
    ``databases.py:229-233``). The reference's Cypher form is depth-
    unbounded (SURVEY §7 risk 3); we cap at ``max_hops`` (default |V|
    implied by BFS termination — BFS naturally stops when the frontier
    empties, so no explicit cap is required for termination).

    Returns DataFrame(dist INT, path ARRAY<BIGINT>) with 0 or 1 row; the
    path is the lexicographically-smallest shortest path (deterministic).
    """
    plan = _edges_df(graph)  # already src/dst-projected; no re-select RPC
    spark = _spark_of(plan)
    with regime.strategy(plan, strategy) as (chosen, edges):
        if chosen == "local":
            hit = _ssp_numpy(_collect_index(edges), src, dst, max_hops)
        elif src == dst:
            hit = (0, [src])
        else:
            hit = _bfs_distributed(edges, src, max_hops, dst)[1]
        return _local_result_df(spark, [] if hit is None else [hit], PATH_SCHEMA)
