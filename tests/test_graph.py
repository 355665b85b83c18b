"""Property-graph store + traversal (SURVEY §2.1 S9, neo4j_db.py:37-78):
insert/detach-delete round-trips, cross-table atomicity of DETACH
DELETE, and k-hop traversal vs a hand-joined expectation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tiger_etl_spark.lake.txn import LakeTransaction
from tiger_etl_spark.operators.graph import PropertyGraph, degrees, k_hop


def _nodes_df(spark, rows):
    return spark.createDataFrame(
        rows, "label string, node_id string, props map<string,string>"
    )


def _edges_df(spark, rows):
    return spark.createDataFrame(
        rows,
        "src_label string, src_id string, rel string, "
        "dst_label string, dst_id string",
    )


@pytest.fixture()
def graph(spark, tmp_path):
    g = PropertyGraph.create(str(tmp_path / "g"), num_buckets=4)
    g.insert_nodes(
        spark,
        _nodes_df(
            spark,
            [
                ("User", "u1", {"name": "ada", "active": "true"}),
                ("User", "u2", {"name": "bob", "active": "true"}),
                ("User", "u3", {"name": "cyd", "active": "false"}),
                ("Group", "g1", {"name": "eng"}),
                ("Group", "g2", {"name": "ops"}),
            ],
        ),
        op_seq=1,
    )
    g.add_edges(
        spark,
        _edges_df(
            spark,
            [
                ("User", "u1", "MEMBER_OF", "Group", "g1"),
                ("User", "u2", "MEMBER_OF", "Group", "g1"),
                ("User", "u2", "MEMBER_OF", "Group", "g2"),
                ("User", "u3", "MEMBER_OF", "Group", "g2"),
                ("User", "u1", "FOLLOWS", "User", "u2"),
                ("User", "u2", "FOLLOWS", "User", "u3"),
            ],
        ),
        op_seq=2,
    )
    return g


def test_insert_upsert_roundtrip(spark, graph):
    got = {
        r["node_id"]: r["props"]
        for r in graph.nodes(spark).where("label = 'User'").collect()
    }
    assert set(got) == {"u1", "u2", "u3"}
    assert got["u1"]["name"] == "ada"
    # re-insert with new props = upsert (MERGE semantics)
    graph.insert_nodes(
        spark, _nodes_df(spark, [("User", "u1", {"name": "ada2"})]), op_seq=3
    )
    row = (
        graph.nodes(spark)
        .where("node_id = 'u1'")
        .select(F.col("props")["name"].alias("n"))
        .collect()
    )
    assert [r["n"] for r in row] == ["ada2"]


def test_detach_delete_matches_props_and_counts(spark, graph):
    n = graph.detach_delete_nodes(
        spark, "User", {"active": "true"}, op_seq=10
    )
    assert n == 2  # u1, u2 — the reference returns deleted_count
    left = {r["node_id"] for r in graph.nodes(spark).collect()}
    assert left == {"u3", "g1", "g2"}
    # every edge incident to u1/u2 is gone, u3's survives
    edges = graph.edges(spark).select("src_key", "dst_key").collect()
    for r in edges:
        assert "u1" not in (r["src_key"], r["dst_key"])
        assert "u2" not in (r["src_key"], r["dst_key"])
    assert len(edges) == 1  # u3 -MEMBER_OF-> g2
    # no match → 0, nothing changes
    assert graph.detach_delete_nodes(spark, "User", {"name": "zz"}, 11) == 0


def test_detach_delete_is_cross_table_atomic(spark, graph, tmp_path):
    """Crash between the intent write and pointer flips must roll
    FORWARD on recover: simulate by staging both merges, writing the
    intent, then 'crashing' before publish."""
    victims = graph._match_nodes(spark, "User", {"active": "true"})
    vkeys = victims.select("node_key")
    txn = LakeTransaction(graph.txn_dir)
    node_batch = victims.select(
        F.lit("D").alias("op"),
        F.lit(20).cast("long").alias("op_seq"),
        "node_key",
        "warc_ts",
        "label",
        "node_id",
        "props",
    )
    e = graph.edges(spark)
    edge_batch = (
        e.join(vkeys.withColumnRenamed("node_key", "src_key"), "src_key")
        .select(e.columns)
        .select(
            F.lit("D").alias("op"),
            F.lit(20).cast("long").alias("op_seq"),
            "edge_key",
            "warc_ts",
            "src_key",
            "rel",
            "dst_key",
        )
    )
    txn.stage(graph.nodes_table).merge(spark, node_batch)
    txn.stage(graph.edges_table).merge(spark, edge_batch)
    # commit point reached, publish skipped == crash window
    import json as _json
    import os as _os

    intent = {
        "tables": [
            {"path": t.path, "version": t.manifest["version"]}
            for t in txn._tables
        ]
    }
    with open(_os.path.join(graph.txn_dir, "txn-crash.json"), "w") as f:
        _json.dump(intent, f)
    # fresh handles still see the OLD snapshot (pointers not flipped)
    g_before = PropertyGraph.load(str(tmp_path / "g"))
    assert g_before.nodes(spark).count() == 5
    # recovery rolls the whole transaction forward
    assert LakeTransaction.recover(graph.txn_dir) == 1
    g_after = PropertyGraph.load(str(tmp_path / "g"))
    assert {r["node_id"] for r in g_after.nodes(spark).collect()} == {
        "u3",
        "g1",
        "g2",
    }


def test_k_hop_and_degrees(spark, graph):
    edges = graph.edges(spark)
    start = spark.createDataFrame([("User\x1fu1",)], "node_key string")
    got = {
        (r["node_key"], r["hop"])
        for r in k_hop(start, edges, hops=2).collect()
    }
    # hop1: g1 (member), u2 (follows); hop2 from {g1,u2}: g1→∅, u2→{g2,u3}
    assert got == {
        ("Group\x1fg1", 1),
        ("User\x1fu2", 1),
        ("Group\x1fg2", 2),
        ("User\x1fu3", 2),
    }
    # reverse traversal: who reaches g2 in 1 hop
    start_g = spark.createDataFrame([("Group\x1fg2",)], "node_key string")
    rev = {
        r["node_key"]
        for r in k_hop(start_g, edges, hops=1, reverse=True).collect()
    }
    assert rev == {"User\x1fu2", "User\x1fu3"}
    degs = {r["node_key"]: (r["out_degree"], r["in_degree"])
            for r in degrees(edges).collect()}
    assert degs["User\x1fu2"] == (3, 1)  # g1, g2, u3 out; u1 in
    assert degs["Group\x1fg1"] == (0, 2)


def test_pagerank_matches_numpy(spark):
    import numpy as np

    from tiger_etl_spark.operators.graph import pagerank

    edges = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "c")]
    df = spark.createDataFrame(edges, "src_key string, dst_key string")
    got = {
        r["node_key"]: r["rank"]
        for r in pagerank(df, iterations=4, damping=0.85).collect()
    }
    nodes = sorted({x for e in edges for x in e})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    outdeg = np.zeros(n)
    for s, _ in edges:
        outdeg[idx[s]] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(4):
        new = np.full(n, 0.15 / n)
        for s, d in edges:
            new[idx[d]] += 0.85 * r[idx[s]] / outdeg[idx[s]]
        r = new
    for node in nodes:
        assert abs(got[node] - r[idx[node]]) < 1e-12, node
    # ranks a proper partial order: c (3 in-edges) > a > isolated-source d
    assert got["c"] > got["a"] > got["d"]


def test_components_string_keys(spark):
    """Weakly connected components with string keys: two components,
    direction ignored, component id = min reachable key."""
    from tiger_etl_spark.operators.graph import components

    e = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("z", "y")], "src string, dst string"
    )
    got = {
        r["node_key"]: r["component"]
        for r in components(e, "src", "dst").collect()
    }
    assert got == {"a": "a", "b": "a", "c": "a", "y": "y", "z": "y"}


def test_components_nonconvergence_raises(spark):
    """A chain wider than max_iter hops must raise, never return split
    components silently (the duplicate_clusters guarantee)."""
    import pytest as _pytest

    from tiger_etl_spark.operators.graph import components

    chain = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i+1:02d}") for i in range(8)],
        "src string, dst string",
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        components(chain, "src", "dst", max_iter=1, small_graph_threshold=0)


def test_components_long_chain_converges_in_log_rounds(spark):
    """The adversarial case for min-label propagation: a 10k-node chain
    (diameter 10k). Large-star/small-star contraction must converge in
    O(log n) rounds — max_iter=15 here, where propagation would need
    ~10,000 — with every node labeled by the chain's minimum."""
    from tiger_etl_spark.operators.graph import components

    n = 10_000
    chain = spark.createDataFrame(
        [(f"n{i:05d}", f"n{i+1:05d}") for i in range(n - 1)],
        "src string, dst string",
    )
    # small_graph_threshold=0 forces the DISTRIBUTED star contraction —
    # the point of this test (the union-find fast path would trivialize it)
    labels = components(chain, "src", "dst", max_iter=15, small_graph_threshold=0)
    agg = labels.groupBy("component").count().collect()
    assert len(agg) == 1
    assert agg[0]["component"] == "n00000"
    assert agg[0]["count"] == n


def test_duplicate_clusters_distributed_regime_long_chain(spark):
    """duplicate_clusters above the union-find threshold routes through
    the same star contraction: a 300-link chain forced into the
    distributed regime converges and labels every doc with the min id."""
    from tiger_etl_spark.operators.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(300)], "id_a long, id_b long"
    )
    out = duplicate_clusters(pairs, small_graph_threshold=10)
    rows = out.collect()
    assert len(rows) == 301
    assert {r["cluster_id"] for r in rows} == {0}
    assert {r["doc_id"] for r in rows} == set(range(301))
