"""GraphEngine API parity tests (SURVEY §2.1 semantics + quirks)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graphdatabases_spark.graph.api import GraphEngine
from graphdatabases_spark.graph import io as graph_io
from graphdatabases_spark.graph.generators import chain_graph


@pytest.fixture()
def engine(spark):
    return GraphEngine(spark)


class TestMutation:
    def test_add_node_and_lookup(self, engine):
        engine.add_node(1, ["person"], {"name": "alice"})
        engine.add_node(2, ["person"], {"name": "bob"})
        row = engine.get_single_node(["person"], {"name": "alice"})
        assert row is not None and row["id"] == 1

    def test_property_values_coerced_to_string(self, engine):
        # Reference degrades everything to strings at the boundary
        # (databases.py:96,192); we do the same, deterministically.
        engine.add_node(1, [], {"age": 30})
        row = engine.get_single_node(properties={"age": "30"})
        assert row is not None

    def test_add_edge_endpoint_validation_drops_dangling(self, engine):
        # Quirk 3: edges with unresolvable endpoints silently drop.
        engine.add_node(1)
        engine.add_node(2)
        engine.add_edge(1, 2)
        engine.add_edge(1, 99)  # dangling dst
        engine.add_edge(98, 2)  # dangling src
        engine.flush()
        assert engine.graph.num_edges() == 1

    def test_merge_upsert(self, engine, spark):
        engine.add_node(1, [], {"name": "old"})
        engine.flush()
        nodes = spark.createDataFrame(
            [(1, [], {"name": "new"}), (2, [], {"name": "n2"})],
            "id long, labels array<string>, props map<string,string>",
        )
        engine.merge_nodes_df(nodes)
        assert engine.graph.num_vertices() == 2
        # id 1 kept its original props (MERGE = insert-if-absent).
        row = engine.get_single_node(properties={"name": "old"})
        assert row is not None and row["id"] == 1
        # MERGE is idempotent: replaying the same frame changes nothing.
        engine.merge_nodes_df(nodes)
        assert engine.graph.num_vertices() == 2

    def test_clear(self, engine):
        engine.add_node(1)
        engine.add_edge(1, 1)
        engine.flush()
        engine.clear()
        assert engine.graph.num_vertices() == 0
        assert engine.graph.num_edges() == 0

    def test_many_flushes_keep_plan_bounded(self, engine):
        """A long interleaved add/flush session must not grow the logical
        plan one Union per flush — the periodic checkpoint collapses it."""
        for i in range(2 * engine._CHECKPOINT_FLUSHES + 3):
            engine.add_node(1000 + i)
            if i > 0:
                engine.add_edge(1000 + i - 1, 1000 + i)
            engine.flush()
        n = 2 * engine._CHECKPOINT_FLUSHES + 3
        assert engine.graph.num_vertices() == n
        assert engine.graph.num_edges() == n - 1
        plan = engine.graph.vertices._jdf.queryExecution().logical().toString()
        # Bounded: far fewer Union nodes than flushes.
        assert plan.count("Union") <= engine._CHECKPOINT_FLUSHES, plan.count("Union")

    def test_suppress_short_circuits(self, engine):
        with engine.suppress():
            engine.add_node(1)
            engine.flush()
            assert engine.get_single_node(properties={}) is None
        assert engine.graph.num_vertices() == 0


class TestReads:
    def test_labels_honored_vs_ignored(self, engine):
        # Quirk: Neo4j honors label filters on read, Arango/Orient ignore
        # them (databases.py:208-212). match_labels toggles parity.
        engine.add_node(1, ["a"], {"k": "v"})
        engine.add_node(2, ["b"], {"k": "v"})
        assert engine.find_nodes(["a"], {"k": "v"}).count() == 1
        assert engine.find_nodes(["a"], {"k": "v"}, match_labels=False).count() == 2

    def test_traversal_through_engine(self, spark):
        engine = GraphEngine(spark, chain_graph(spark, 6))
        assert engine.get_nodes_hops(1, 3, strategy="local").count() == 3
        rows = engine.ssp(0, 4, strategy="local").collect()
        assert rows[0]["dist"] == 4

    def test_engine_graph_traverses_locally_under_auto(self, engine, tmp_path):
        """load_database + add_edge + flush unions Python-row frames into
        the edge plan.  Those have no statistics, so Catalyst reports a
        ~1e18-byte placeholder size; 'auto' must probe the real size and
        take the local path, and its answers equal the distributed
        kernel's."""
        from graphdatabases_spark.graph import regime

        n = 6
        nodes_f = tmp_path / "nodes.txt"
        edges_f = tmp_path / "edges.tsv"
        nodes_f.write_text("".join(f"{i}\n" for i in range(n * n)))
        edges_f.write_text(
            "".join(
                f"{i}\t{j}\n"
                for i in range(n * n)
                for j in (i + 1, i + n)
                if j < n * n and (j == i + n or i % n != n - 1)
            )
        )
        engine.load_database(str(nodes_f), str(edges_f))
        engine.add_node(100)
        engine.add_edge(n * n - 1, 100)
        engine.add_edge(100, 0)
        engine.flush()
        plan = engine.graph.edge_pairs()
        assert regime.plan_size_bytes(plan) >= 4 << 30
        with regime.strategy(plan, "auto") as (chosen, _):
            assert chosen == "local"
        for h in (2, 4):
            auto = sorted(r["id"] for r in engine.get_nodes_hops(0, h).collect())
            dist = engine.get_nodes_hops(0, h, strategy="distributed").collect()
            assert auto == sorted(r["id"] for r in dist)
        path = engine.ssp(0, 100).collect()
        assert path == engine.ssp(0, 100, strategy="distributed").collect()
        assert path[0]["dist"] == 2 * (n - 1) + 1


class TestIngest:
    def test_tsv_roundtrip(self, engine, tmp_path, spark):
        nodes_f = tmp_path / "nodes.txt"
        edges_f = tmp_path / "edges.tsv"
        nodes_f.write_text("1\n2\n3\n")
        edges_f.write_text("# comment line\n1\t2\n2\t3\n")
        engine.load_database(str(nodes_f), str(edges_f))
        assert engine.graph.num_vertices() == 3
        assert engine.graph.num_edges() == 2
        # Reference default labels/props (databases.py:133,137).
        row = engine.graph.vertices.first()
        assert row["labels"] == ["test"] and row["props"] == {"test": "test"}

    def test_derive_nodes_from_edges(self, spark, tmp_path):
        edges_f = tmp_path / "edges.tsv"
        edges_f.write_text("# c\n1\t2\n2\t3\n3\t1\n")
        edges = graph_io.read_edge_tsv(spark, str(edges_f))
        ids = sorted(
            r["id"] for r in graph_io.derive_nodes_from_edges(edges).collect()
        )
        assert ids == [1, 2, 3]

    def test_parquet_graph_roundtrip(self, spark, tmp_path):
        g = chain_graph(spark, 10)
        graph_io.write_graph(g, str(tmp_path / "g"), partitions=2, mirror_by_dst=True)
        g2 = graph_io.read_graph(spark, str(tmp_path / "g"))
        assert g2.num_vertices() == 10 and g2.num_edges() == 9
        mirror = spark.read.parquet(str(tmp_path / "g" / "edges_by_dst"))
        assert mirror.count() == 9


def test_degrees(spark):
    g = chain_graph(spark, 5)
    out_d = {r["id"]: r["out_degree"] for r in g.out_degrees().collect()}
    assert out_d == {0: 1, 1: 1, 2: 1, 3: 1}
    deg = {r["id"]: r["degree"] for r in g.degrees().collect()}
    assert deg == {0: 1, 1: 2, 2: 2, 3: 2, 4: 1}
