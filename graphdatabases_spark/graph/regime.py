"""Size regimes of the graph engine, decided in one place.

Every iterative kernel in ``graph/`` and ``relational/graph_*`` runs as
BSP rounds of joins (the Pregelix formulation: vertex state and
messages are relations, each superstep is one relational plan), and
each makes the same few size decisions:

- broadcast a per-round side, or shuffle-join it (``side``);
- run the whole kernel on the driver, or as distributed rounds
  (``strategy``);
- cut lineage every ``CHECKPOINT_EVERY`` rounds, and materialize a
  relation together with its row count (``materialize``).

The constants are read at call time, so patching one of them (as the
regime-forcing tests do) reaches every kernel.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Rows above which a per-round side (frontier, labels, ranks, the
# undecided set of the symmetry kernels) is shuffle-joined instead of
# broadcast.  An id + value row is ~16 bytes, so 4M rows is ~64 MB
# serialized: comfortably broadcastable, and far from the 8 GB
# broadcast limit a high-fan-out frontier would hit a few hops later.
BROADCAST_MAX = 4_000_000

# Edges a whole-kernel driver-local run may collect (one Arrow
# transfer, then numpy/Python): below it, N distributed rounds would
# pay N job latencies for no parallelism.
LOCAL_EDGE_MAX = 2_000_000

# Induced-subgraph edges a symmetry kernel's driver-local tail may
# collect (MIS, matching, b-matching): kept below the smallest swept
# bench graph so every swept sf still runs distributed rounds first.
INDUCED_EDGE_MAX = 1_000_000

# Rounds between lineage-truncating checkpoints in the iterative loops.
CHECKPOINT_EVERY = 4

# A traversal's local/distributed crossover: a driver-local run pays one
# O(E) collect (~1 s per million edges), a distributed run ~1-2 s of
# fixed job latency per round, so the local cap shrinks with the round
# count.
_EDGES_PER_HOP = 500_000

# Catalyst statistics decide without a job: below 32 bytes per edge of
# the local cap (64 MB at the default cap) the edge set certainly fits
# the driver, above 4 GB it certainly does not; in between one count
# pass decides.  The local bound follows LOCAL_EDGE_MAX at call time,
# so a cap of 0 forces the distributed regime.
_STATS_BYTES_PER_EDGE = 32
_STATS_DIST_BYTES = 4 << 30


def side(df: DataFrame, n_rows: int) -> DataFrame:
    """``df`` as a join side: broadcast while its exact row count
    ``n_rows`` is at most ``BROADCAST_MAX``, else left to a shuffle
    join."""
    return F.broadcast(df) if n_rows <= BROADCAST_MAX else df


def materialize(df: DataFrame) -> tuple[DataFrame, int]:
    """``(checkpointed df, row count)`` from ONE action.

    A lazy ``localCheckpoint`` is filled by the first job that reads
    it, so the count both materializes the rows and counts them; an
    eager checkpoint followed by a count runs the input, then scans the
    checkpoint again (one Spark job more).  The input is computed once
    and later reads hit the checkpoint."""
    df = df.localCheckpoint(eager=False)
    return df, df.count()


def plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's size estimate of ``df``'s optimized plan (no job)."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None


def _has_statsless_leaf(df: DataFrame) -> bool:
    """True when some leaf of the optimized plan reports the default
    size, i.e. has no statistics.  A frame built from Python rows is
    such a leaf (a ``LogicalRDD``); the plan size above it is then a
    placeholder of ~1e18 bytes, not a measurement."""
    try:
        unknown = df.sparkSession._jsparkSession.sessionState().conf().defaultSizeInBytes()
        leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
        return any(
            int(leaves.apply(i).stats().sizeInBytes()) >= unknown
            for i in range(leaves.size())
        )
    except Exception:
        return True


def _stats_decision(edges: DataFrame) -> str:
    """'local' | 'distributed' | 'probe' (statistics inconclusive)."""
    # traversal imports this module; its adjacency cache is read lazily.
    from graphdatabases_spark.graph.traversal import _ADJ_CACHE

    cached = _ADJ_CACHE.get(edges.semanticHash())
    if cached is not None and len(cached.src) <= LOCAL_EDGE_MAX:
        return "local"  # already collected: no job
    size = plan_size_bytes(edges)
    if size is None:
        return "probe"
    if size <= LOCAL_EDGE_MAX * _STATS_BYTES_PER_EDGE:
        return "local"
    if size >= _STATS_DIST_BYTES and not _has_statsless_leaf(edges):
        return "distributed"
    return "probe"


@contextmanager
def strategy(edges: DataFrame, strategy: str, max_hops: int | None = None):
    """Yield ``(chosen, edges)``, chosen being 'local' or 'distributed'.

    An explicit ``strategy`` is kept.  'auto' decides from plan
    statistics when they are conclusive; otherwise one count pass
    compares the edge count with ``LOCAL_EDGE_MAX`` (capped at
    ``max_hops`` × 500k for a bounded traversal).  For that probe the
    edge plan is persisted for the duration of the block, so the count,
    a local collect and the kernel's rounds read one cache instead of
    re-running the plan.  Results leave the block only in materialized
    form (driver rows or checkpoints), so the unpersist is safe.  At
    100 TB the statistics already say 'distributed' and no probe runs.
    """
    decision = strategy if strategy != "auto" else _stats_decision(edges)
    if decision != "probe":
        yield decision, edges
        return
    cap = LOCAL_EDGE_MAX
    if max_hops:
        cap = min(cap, max_hops * _EDGES_PER_HOP)
    edges = edges.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        yield ("local" if edges.count() <= cap else "distributed"), edges
    finally:
        edges.unpersist()
