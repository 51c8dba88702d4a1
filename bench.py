"""Headline benchmark: one JSON line for the driver's per-round record.

Runs a representative slice of the query catalog at
``$SPARK_GRAFT_SF_DIR`` (default ``/root/testdata/sf0.1``) on
``local[$SPARK_GRAFT_CPUS]``, plus the reference's own graph workloads
(150×150-grid k-hop / shortest-path, Wiki-Vote-scale bulk ingest —
BASELINE.md rows `bench_traversal`, `bench_spp`, `bench_add_database`)
re-expressed on Spark.

Output: ONE JSON line
``{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}``.

Noise floor (measured round 4, three back-to-back runs on an otherwise
idle box): the TOTAL is stable to ±3%, but INDIVIDUAL sub-second query
timings swing ±20–27% run-to-run even with min-of-3 — single-query
round-over-round deltas below ~30% are machine noise, not plan changes
(plan regressions are caught structurally by tests/test_plans.py
instead).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from graphdatabases_spark import get_spark
from graphdatabases_spark.graph import grid_graph, khop, ssp
from graphdatabases_spark.relational import queries

# Catalog queries timed at the bench scale factor — one per major
# surface (scan/agg, joins, windows, graph-on-tables, dedup, similarity,
# text, streaming batch replay).
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q18_large_volume",
    "q21_waiting_suppliers",
    "join_salted_skew",
    "join_sortmerge_fact",
    "join_asof_events",
    "window_topk_per_group",
    "agg_cube",
    "graph_khop_entity",
    "graph_pagerank",
    "graph_connected_components",
    "dedup_minhash_signatures",
    "dedup_lsh_candidates",
    "dedup_embedding_neardup",
    "text_repetition_score",
    "similarity_cosine_topk",
    "similarity_ann_lsh",
    "similarity_ann_ivf",
    "text_tfidf_topterms",
    "events_tumbling_hourly",
    # batch-7 curation surface (round 6): the posting-list dedup shape
    # and the zero-shuffle per-row-fold shape.
    "docs_substring_dedup",
    "docs_c4_line_filters",
    # round-7 removal surface: cross-doc span strip (posting list +
    # per-row rebuild) and the O(L^2)-per-row intra-doc scrub.
    "docs_substring_strip",
    "docs_intradoc_dedup",
    # round-7 continuation: LM-filter (vocab-bounded count tables),
    # water-filling quota application (stratum-partitioned windows),
    # and the quantization operating curve (one-scan pair scoring).
    "docs_bigram_lm_score",
    "docs_rebalance_select",
    "similarity_quantized_recall",
    # round-7 continuation 3: first-failure per-row-fold attribution,
    # the one-pass window-curve shape, and a bounded QI-domain audit.
    "docs_filter_funnel",
    "events_session_gap_curve",
    "customer_kanon_audit",
    # round 8: the DPP-pruned fact join, the second columnar format,
    # integer PPS sampling, the IVM partial-merge identity, the
    # l-diversity governance gate, per-apex wedge LCC, and the KMV
    # set-operation sketch. (The round-8 recall curves — PQ, IVFPQ,
    # SemDeDup — are sweep-proven but excluded here: their bounded
    # brute-force calibration anchors dominate wall time at sf0.1 and
    # the ANN serving cost is already benched by the ann_*_100q trio.)
    "events_dpp_date_join",
    "docs_orc_scan",
    "docs_pps_sample",
    "orders_incremental_agg",
    "customer_ldiversity_audit",
    "graph_clustering_coeff",
    "lineitem_kmv_setops",
    # round 9: the unbounded prefix-filter join on the staged Zipfian
    # corpus (candidate-bounded by construction), LPA + exact
    # modularity over the growing co-purchase graph, DSIR weighting
    # (bucket-bounded model aggs), concat-packing telemetry, and the
    # closed-form CUSUM windows. (retrieval_ndcg_mrr/rrf_fusion are
    # sweep-proven but excluded: their bounded brute-force anchor
    # dominates sf0.1 wall like the recall curves.)
    "dedup_prefix_zipf",
    "graph_modularity",
    "docs_dsir_weights",
    "docs_sequence_packing",
    "events_cusum_hourly",
    # round 10: the Louvain community-disjoint refinement pass (LPA +
    # exact-gain evaluation + two exact-Q scorings — the heaviest
    # graph-analytics entry, benched on purpose), and the
    # quantile-kernel trim (bounded two-pass histogram fences).
    "graph_louvain_onepass",
    "docs_length_quantile_trim",
    # round 11: the multilevel coarsening completion (3 weighted
    # local-move passes + 2 contractions; level 0 dominates).
    "graph_louvain_multilevel",
    # round 11: incremental rank maintenance (6 cold + 3 warm-start
    # fixed-point rounds over the entity graph; phase setup is one
    # checkpointed edge scan; below regime.LOCAL_EDGE_MAX edges each
    # phase is one Arrow collect and numpy rounds on the driver, above
    # it each round is a join plus a dst-keyed aggregation).
    "graph_pagerank_incremental",
    # round 11: the mergeable-serving trio — priority sampling
    # (TakeOrdered, ~0 shuffle), HLL time-axis rollup (register-state
    # aggs), and quantile serving from SUM-merged histograms.
    "docs_priority_sample",
    "events_hll_hourly_rollup",
    "docs_tok_quantile_hist_serving",
    # round 11: walk-corpus generation (ranked adjacency built once,
    # frontier broadcast per step) and temporal earliest-arrival
    # reachability (3 relaxation rounds over the dated entity graph).
    "graph_random_walks",
    "graph_temporal_reach",
    "graph_temporal_latest_dep",
    # round 12: the incremental-CC completion (base fixpoint + quotient
    # contraction + relabel), the KLL-lite sketch serving, the
    # multi-probe LSH curve, and the second-order biased walk kernel.
    "graph_cc_incremental",
    "docs_tok_kll_quantiles",
    "similarity_multiprobe_recall",
    "graph_node2vec_walks",
    # round 12 widening: the symmetry-breaking pair (vertex MIS + edge
    # matching), both audit-tuned (35.1x -> 17.2x and 22.6x -> 12.7x
    # shuffle at the 10x step).
    "graph_mis_luby",
    "graph_matching_greedy",
    # round 13: the incremental repairs (priority-DAG cascade, cold
    # base kernel + cone-bounded warm phase), capacity-b weighted
    # matching, the Holt level+trend fold, and the persisted-KLL-store
    # re-plan composition.
    "graph_mis_incremental",
    "graph_matching_incremental",
    "graph_bmatching_greedy",
    "events_holt_hourly",
    "events_holt_winters_hourly",
    "docs_tok_kll_store_replan",
    # round 13: coloring joins the headline now that the driver-local
    # tail removed its BSP round floor (44 s -> ~11 s at sf0.1).
    "graph_coloring_mis",
]


def _sf_from_dir(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else -1.0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        app_name="graphdatabases-spark-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")

    qs = queries()
    timings: dict[str, float] = {}
    medians: dict[str, float] = {}

    # Environment calibration (round-8 directive: separate code changes
    # from sandbox load).  Two fixed probes whose code never changes
    # round-over-round: a JVM-side whole-stage-codegen aggregation and a
    # driver-side pure-Python loop.  If a round's query timings shift
    # uniformly while these shift by the same factor, the cause is the
    # environment, not the plans.  Median-of-3 each.
    def _median3(fn) -> float:
        samples = []
        for _ in range(3):
            t0 = time.perf_counter()
            fn()
            samples.append(time.perf_counter() - t0)
        return round(sorted(samples)[1], 4)

    spark.range(1000).selectExpr("sum(id)").collect()  # JVM first-touch
    calib = {
        "jvm_agg_300m": _median3(
            lambda: spark.range(0, 300_000_000, 1, int(cpus))
            .selectExpr("sum(id % 1000003) AS s")
            .collect()
        ),
        "python_loop_10m": _median3(
            lambda: sum(i * i for i in range(10_000_000))
        ),
    }

    # Warm the JVM/codegen paths so timings measure queries, not startup:
    # run every headline query once at the smallest scale factor (whole-
    # stage codegen compiles per plan shape; sf0.001 data is negligible).
    spark.range(1000).selectExpr("sum(id)").collect()
    for name in HEADLINE:
        qs[name](spark, "/root/testdata/sf0.001").count()
    # Warmup must not pre-answer the timed runs: sf-independent graph
    # fixtures would otherwise hit the traversal adjacency cache.
    from graphdatabases_spark.graph.traversal import _ADJ_CACHE

    _ADJ_CACHE.clear()

    # Three timed runs per query; `queries` keeps the MIN (the noise
    # floor, continuous with every earlier round's record — one stray GC
    # pause or OS scheduling blip otherwise lands in the round-over-round
    # comparison; min-of-2 left ~±20% jitter in the r2→r3 comparison) and
    # `queries_median` additionally reports the MEDIAN of the same three
    # samples (round-8 directive: a robust central estimate a single
    # loaded-sandbox run can't move).  (The reference sweeps each
    # workload across sizes, equally reading steady-state numbers.)
    for name in HEADLINE:
        samples = []
        for _ in range(3):
            t0 = time.perf_counter()
            df = qs[name](spark, sf_dir)
            n = df.count()
            samples.append(time.perf_counter() - t0)
            assert n >= 0
        timings[name] = round(min(samples), 4)
        medians[name] = round(sorted(samples)[1], 4)

    # ANN-vs-brute-force comparison at a workload where the index cost
    # amortizes: one 100-query batch against the full embedding corpus.
    # The 5-query catalog entries above time the same kernels but are
    # dominated by fixed per-stage overhead at toy scale; this trio is
    # the scale-representative comparison (brute force grows with
    # |Q|x|corpus|, the ANN paths with probed candidates only).
    from pyspark.sql import functions as F  # noqa: N812
    from graphdatabases_spark.functions import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qbatch = emb.filter(F.col("vec_id") < 100)
    # Index builds (IVF train + cluster-assign; LSH signatures + norms)
    # are the one-time cost; like the reference's preloaded graph
    # backends (and grid_khop's adjacency warm above), they materialize
    # OUTSIDE the timed region and each timed run is a query batch
    # probing the prebuilt index.
    ivf_cents, ivf_corpus = S.ivf_build(emb, num_clusters=8)
    ivf_cents = ivf_cents.persist()
    ivf_corpus = ivf_corpus.persist()
    ivf_cents.count(), ivf_corpus.count()
    lsh_index = S.lsh_build(emb).persist()
    lsh_index.count()
    ann_runs = {
        "ann_brute_100q": lambda: S.cosine_topk(qbatch, emb, k=3),
        "ann_lsh_100q": lambda: S.lsh_query(lsh_index, qbatch, k=3),
        "ann_ivf_100q": lambda: S.ivf_query(
            (ivf_cents, ivf_corpus), qbatch, k=3, nprobe=2
        ),
    }
    for name, fn in ann_runs.items():
        fn().count()  # warm the plan shape
        samples = []
        for _ in range(3):
            t0 = time.perf_counter()
            n = fn().count()
            samples.append(time.perf_counter() - t0)
            assert n > 0
        timings[name] = round(min(samples), 4)
        medians[name] = round(sorted(samples)[1], 4)

    # Reference insert/lookup workloads (BASELINE.md rows 1-3): per-row
    # statement loops there (best backends: 24.7 s for 100k node
    # inserts, 64.3 s for the 9k chain, 24.3 s for 9k lookups), batch
    # dataflows here — same generated data, same verify counts.
    from graphdatabases_spark.graph.api import GraphEngine
    from graphdatabases_spark.harness.workloads import (
        bench_add_single_edge,
        bench_add_single_node,
        bench_get_single_node,
    )

    # Warm the insert/lookup plan shapes (codegen compiles per shape;
    # the headline warmup above only covers catalog queries).
    warm_eng = GraphEngine(spark)
    bench_add_single_node(warm_eng, 100)
    bench_get_single_node(warm_eng, 100)
    bench_add_single_edge(GraphEngine(spark), 100)

    eng = GraphEngine(spark)
    t0 = time.perf_counter()
    bench_add_single_node(eng, 100_000)
    timings["insert_nodes_100k"] = round(time.perf_counter() - t0, 4)

    t0 = time.perf_counter()
    bench_get_single_node(eng, 9_000)
    timings["point_lookups_9k"] = round(time.perf_counter() - t0, 4)

    t0 = time.perf_counter()
    bench_add_single_edge(GraphEngine(spark), 9_000)
    timings["insert_chain_9k"] = round(time.perf_counter() - t0, 4)

    # Bulk ingest (BASELINE.md's most dramatic rows): the reference's
    # `add_database` on Wiki-Vote (|V|=7,115, |E|=103,689) takes
    # 947.9 s on ArangoDB / 1573.6 s on Neo4j (reference benchmark.log,
    # one statement per row); the Spark bulk path is a single
    # distributed TSV read + dedup. Timed region = read + both counts
    # (full materialization), matching the reference's load-then-verify.
    wiki_nodes = "/root/reference/data_sets/Wiki-VoteN.txt"
    wiki_edges = "/root/reference/data_sets/Wiki-VoteE.txt"
    if os.path.exists(wiki_nodes) and os.path.exists(wiki_edges):
        from graphdatabases_spark.graph.io import load_graph_files

        t0 = time.perf_counter()
        wiki = load_graph_files(spark, wiki_nodes, wiki_edges)
        nv, ne = wiki.vertices.count(), wiki.edges.count()
        timings["wiki_vote_load"] = round(time.perf_counter() - t0, 4)
        assert (nv, ne) == (7115, 103689), (nv, ne)

    # Reference graph workloads (BASELINE.md): 150×150 grid, 300-hop
    # traversal from node 1; shortest path node 1 → node 151·130. The
    # reference's `create_gird_graph` builds the same grid one INSERT at
    # a time (305.4 s Arango / 486.1 s Neo4j / 805.4 s Orient); here it
    # is two `spark.range` projections — timed through full edge
    # materialization.
    t0 = time.perf_counter()
    g = grid_graph(spark, 150)
    g.edges.persist().count()
    timings["grid_build_150"] = round(time.perf_counter() - t0, 4)

    # The reference times traversals against an already-loaded backend
    # (the grid lives indexed in the server's RAM; BASELINE 0.058 s for
    # 300 hops), so the adjacency-index build and the one-time
    # result-construction code paths warm up before the timed region.
    khop(g, 0, 1).count()  # warm: builds + caches the adjacency index
    ssp(g, 0, 1).collect()  # warm: array-result construction path
    # Timed region = the operator call: on the adaptive local path the
    # full BFS compute runs eagerly inside it. The reference harness
    # likewise times submit + server compute WITHOUT materializing the
    # result cursor (SURVEY §3.2) — so the result-DataFrame fetch is
    # asserted outside the timed region.
    # The micro rows cost ~20-50 ms each, where single-run jitter is
    # ±30-50% (round-5 adjudication: 12 back-to-back SSP runs spanned
    # 25-39 ms on an identical code path); min-of-7 pins the floor.
    samples = []
    for _ in range(7):
        t0 = time.perf_counter()
        res = khop(g, 1, 300)
        samples.append(time.perf_counter() - t0)
        assert res.count() == 22349
    timings["grid_khop_300"] = round(min(samples), 4)
    medians["grid_khop_300"] = round(sorted(samples)[3], 4)

    samples = []
    for _ in range(7):
        t0 = time.perf_counter()
        res = ssp(g, 1, 151 * 130)
        samples.append(time.perf_counter() - t0)
        assert res.collect()[0]["dist"] == 259
    timings["grid_ssp_130"] = round(min(samples), 4)
    medians["grid_ssp_130"] = round(sorted(samples)[3], 4)

    # --- distributed BFS at depth (round-10 verdict item 2) ----------
    # The rows above exercise only the local CSR fast path (the
    # 150-grid's 44.7k edges sit far below LOCAL_EDGE_THRESHOLD), so
    # the 100 TB story for O4/O5 rested on plan pins alone. These rows
    # force strategy='distributed' on a 500x500 grid (499k edges) at
    # the reference's own max depth (300 hops, Results/traverse/), so
    # the synchronous join-loop kernel itself is measured: per-round
    # cost is FIXED BSP scheduling latency (~0.4-0.5 s on this box —
    # broadcast-frontier join + distinct + anti-join + checkpoint per
    # round), not data volume; wall ~= depth x round latency. That is
    # the honest deep-traversal tradeoff on any BSP engine, and why
    # the adaptive strategy keeps sub-threshold graphs on the CSR
    # path. One timed run each: jitter is a few percent of a 2-minute
    # total, min-of-N buys nothing. Values asserted against the
    # closed forms (SURVEY §5.2.1): |khop(1,300)| = h(h+3)/2 and
    # ssp to node 501*150 has dist 2k-1, k=150.
    if not os.environ.get("SPARK_GRAFT_SKIP_DEEP"):
        g500 = grid_graph(spark, 500)
        g500.edges.persist().count()
        khop(g500, 0, 1, strategy="distributed").count()  # warm codepath
        t0 = time.perf_counter()
        res = khop(g500, 1, 300, strategy="distributed")
        timings["grid500_khop300_dist"] = round(time.perf_counter() - t0, 4)
        assert res.count() == 300 * 303 // 2  # 45,450
        t0 = time.perf_counter()
        res = ssp(g500, 1, 501 * 150, strategy="distributed")
        timings["grid500_ssp299_dist"] = round(time.perf_counter() - t0, 4)
        assert res.collect()[0]["dist"] == 299
        g500.edges.unpersist()

    # --- sf1 scale section -------------------------------------------
    # Scale evidence above the driver's sf0.1 ceiling: the shuffle-heavy
    # subset re-timed at 10x the data (6M-row lineitem), exercising AQE
    # coalesce/skew behavior on shuffles big enough to matter. The sf1
    # input derives deterministically from sf0.1 (tools/make_sf1.py:
    # 10-copy key-offset replication; text/embeddings perturbed so dedup
    # and ANN outputs scale linearly, not quadratically). `linear_x` is
    # sf1_time / (10 * sf0.1_time) — 1.0 = perfectly linear scaling,
    # <1.0 = sublinear (fixed per-stage overhead amortizing away).
    sf1_section = {}
    if _sf_from_dir(sf_dir) == 0.1 and not os.environ.get("SPARK_GRAFT_SKIP_SF1"):
        try:
            sf1_section = _sf1_scale_section(spark, qs, timings)
        except Exception as e:  # pragma: no cover
            # Supplementary evidence: a failure here (disk full during
            # the derivation, etc.) must not void the round's primary
            # record. stderr only — stdout stays one JSON line.
            print(f"sf1 section skipped: {e!r}", file=sys.stderr)
            sf1_section = {"error": repr(e)[:200]}

    total = round(sum(timings.values()), 4)
    # The seven BASELINE.md-comparable rows, mirrored into a compact
    # key emitted AFTER queries_median: the driver records only the
    # JSON tail, and r09's record lost the insert/lookup/load rows
    # (the strongest baseline wins) because they only existed inside
    # `queries`, which precedes the medians in this dict (round-9
    # verdict item 4).
    baseline_rows = {
        k: medians.get(k, timings[k])
        for k in (
            "grid_khop_300",
            "grid_ssp_130",
            "insert_nodes_100k",
            "insert_chain_9k",
            "point_lookups_9k",
            "wiki_vote_load",
            "grid_build_150",
        )
        if k in timings
    }
    # The forced-distributed deep-BFS rows, likewise mirrored into a
    # tail-safe key (round-10 verdict item 3): they are the durable
    # record of the O4/O5 kernel's measured per-round cost at the
    # reference's max depth, and existed only inside the truncated
    # `queries` key in the r10 record.
    deep_rows = {
        k: timings[k]
        for k in ("grid500_khop300_dist", "grid500_ssp299_dist")
        if k in timings
    }
    out = {
        "metric": "headline_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_median": medians,
        "calib": calib,
        "baseline_rows": baseline_rows,
        "deep_rows": deep_rows,
        "sf": _sf_from_dir(sf_dir),
    }
    if sf1_section:
        out["sf1"] = sf1_section
    payload = json.dumps(out)
    # Round-over-round record robustness (r14 verdict item 2: the r13
    # driver record failed to parse despite rc=0 — the result JSON
    # survived only inside a truncated tail).  Defend both ways: the
    # JSON is ALSO written verbatim to BENCH_out.json next to this
    # script, and both streams are flushed before the one stdout line
    # so nothing can interleave with it.
    try:
        (Path(__file__).resolve().parent / "BENCH_out.json").write_text(
            payload + "\n"
        )
    except OSError as e:  # pragma: no cover - the stdout line remains
        print(f"BENCH_out.json write failed: {e!r}", file=sys.stderr)
    sys.stderr.flush()
    sys.stdout.flush()
    print(payload, flush=True)
    spark.stop()


def _sf1_scale_section(spark, qs, timings: dict[str, float]) -> dict:
    """Time the shuffle-heavy subset at the derived sf1 (10x) scale;
    see the call site in main() for the rationale."""
    import importlib.util

    from pyspark.sql import functions as F  # noqa: N812
    from graphdatabases_spark.functions import similarity as S

    spec = importlib.util.spec_from_file_location(
        "make_sf1", Path(__file__).resolve().parent / "tools" / "make_sf1.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    sf1_dir = mod.main()

    section: dict = {}
    for name in [
        "q18_large_volume",
        "join_sortmerge_fact",
        "agg_cube",
        "dedup_lsh_candidates",
    ]:
        qs[name](spark, sf1_dir).count()  # warm plan shape at sf1
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            n = qs[name](spark, sf1_dir).count()
            best = min(best, time.perf_counter() - t0)
            assert n >= 0
        section[name] = {
            "sec": round(best, 4),
            "linear_x": round(best / (10 * timings[name]), 2),
        }

    emb1 = spark.read.parquet(f"{sf1_dir}/embeddings.parquet")
    qbatch1 = emb1.filter(F.col("vec_id") < 100)
    cents1, corpus1 = S.ivf_build(emb1, num_clusters=8)
    cents1, corpus1 = cents1.persist(), corpus1.persist()
    cents1.count(), corpus1.count()
    lsh1 = S.lsh_build(emb1).persist()
    lsh1.count()
    sf1_ann = {
        "ann_brute_100q": lambda: S.cosine_topk(qbatch1, emb1, k=3),
        "ann_lsh_100q": lambda: S.lsh_query(lsh1, qbatch1, k=3),
        "ann_ivf_100q": lambda: S.ivf_query(
            (cents1, corpus1), qbatch1, k=3, nprobe=2
        ),
    }
    for name, fn in sf1_ann.items():
        fn().count()
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            n = fn().count()
            best = min(best, time.perf_counter() - t0)
            assert n > 0
        section[name] = {
            "sec": round(best, 4),
            "linear_x": round(best / (10 * timings[name]), 2),
        }
    return section


if __name__ == "__main__":
    main()
