"""Property-graph node/relationship store + traversal (SURVEY §2.1 S9).

Reference: ``system/system/database_connections/neo4j_db.py:37-78`` —
``insert_node(label, properties)`` (Cypher ``CREATE (n:Label $props)``)
and ``delete_node(label, match_props)`` (``MATCH ... DETACH DELETE n``,
returning the deleted count). Spark-first re-expression:

- Nodes and relationships are two LakeTables (same MERGE/LWW/tombstone
  machinery as the CDC corpus — a graph mutation IS a change event).
- ``DETACH DELETE`` must drop a node *and its incident relationships*
  together; that is a two-table change, so it runs through
  ``LakeTransaction`` (lake/txn.py) — both tombstone merges publish in
  one crash-atomic commit, never a node-less dangling edge.
- Traversal is what a property graph is for, and on Spark traversal IS
  equi-joins: ``k_hop`` iterates frontier⋈edges with per-hop
  ``distinct`` — each hop is one key-partitioned shuffle, linear in
  frontier×out-degree, never materializing the transitive closure
  row-by-row on the driver. (GraphFrames does the same under the hood;
  depending on it would add nothing here.)

Scale shape: node/edge keys are hash-bucketed like every lake key;
match-by-property filters are map-column predicates pushed into the
scan; incident-edge lookup for DETACH is two equi-joins (by src, by
dst) unioned — no OR-join, no broadcast of the victim set required
(AQE may choose one when the victims are few, which is the common
case for targeted deletes).
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tiger_etl_spark.lake import LakeTable
from tiger_etl_spark.lake.txn import LakeTransaction

# \x1f (unit separator) cannot appear in labels/ids by contract
_SEP = "\x1f"

NODE_SCHEMA = (
    "node_key string, warc_ts timestamp, label string, node_id string, "
    "props map<string,string>"
)
EDGE_SCHEMA = (
    "edge_key string, warc_ts timestamp, src_key string, rel string, "
    "dst_key string"
)


def _key(label_col, id_col):
    return F.concat_ws(_SEP, label_col, id_col.cast("string"))


def _ts(op_seq: int) -> dt.datetime:
    # graph mutations carry no event time (Neo4j has none either);
    # derive a monotone timestamp from the sequence number so the
    # standard (warc_ts, _op_seq) LWW order applies unchanged
    return dt.datetime(2000, 1, 1) + dt.timedelta(seconds=op_seq)


class PropertyGraph:
    """Durable property graph: ``nodes(label, node_id, props)`` and
    ``edges(src_label, src_id, rel, dst_label, dst_id)`` LakeTables."""

    def __init__(self, nodes: LakeTable, edges: LakeTable, txn_dir: str):
        self.nodes_table = nodes
        self.edges_table = edges
        self.txn_dir = txn_dir

    # ------------------------------------------------------------ lifecycle
    @classmethod
    def create(cls, path: str, num_buckets: int = 8) -> "PropertyGraph":
        nodes = LakeTable.create(
            os.path.join(path, "nodes"),
            NODE_SCHEMA,
            key_col="node_key",
            num_buckets=num_buckets,
        )
        edges = LakeTable.create(
            os.path.join(path, "edges"),
            EDGE_SCHEMA,
            key_col="edge_key",
            num_buckets=num_buckets,
        )
        return cls(nodes, edges, os.path.join(path, "_txn"))

    @classmethod
    def load(cls, path: str) -> "PropertyGraph":
        return cls(
            LakeTable.load(os.path.join(path, "nodes")),
            LakeTable.load(os.path.join(path, "edges")),
            os.path.join(path, "_txn"),
        )

    # ------------------------------------------------------------ mutation
    def insert_nodes(self, spark: SparkSession, df: DataFrame, op_seq: int):
        """CREATE analog (neo4j_db.py:37-56), set-at-a-time: `df` has
        (label, node_id, props map<string,string>). Re-inserting an
        existing key is an upsert (Cypher MERGE semantics — the sane
        choice for an idempotent change stream)."""
        batch = df.select(
            F.lit("I").alias("op"),
            F.lit(op_seq).cast("long").alias("op_seq"),
            _key(F.col("label"), F.col("node_id")).alias("node_key"),
            F.lit(_ts(op_seq)).alias("warc_ts"),
            "label",
            "node_id",
            "props",
        )
        return self.nodes_table.merge(spark, batch)

    def add_edges(self, spark: SparkSession, df: DataFrame, op_seq: int):
        """Relationship CREATE: `df` has (src_label, src_id, rel,
        dst_label, dst_id). Edge identity = (src, rel, dst)."""
        src = _key(F.col("src_label"), F.col("src_id"))
        dst = _key(F.col("dst_label"), F.col("dst_id"))
        batch = df.select(
            F.lit("I").alias("op"),
            F.lit(op_seq).cast("long").alias("op_seq"),
            F.concat_ws(_SEP, src, F.col("rel"), dst).alias("edge_key"),
            F.lit(_ts(op_seq)).alias("warc_ts"),
            src.alias("src_key"),
            "rel",
            dst.alias("dst_key"),
        )
        return self.edges_table.merge(spark, batch)

    def _match_nodes(self, spark: SparkSession, label: str, match_props: dict):
        cond = F.col("label") == label
        for k, v in match_props.items():
            cond = cond & (F.col("props")[k] == str(v))
        return self.nodes_table.scan(spark).where(cond)

    def detach_delete_nodes(
        self, spark: SparkSession, label: str, match_props: dict, op_seq: int
    ) -> int:
        """DETACH DELETE analog (neo4j_db.py:58-78): tombstone every
        node with `label` whose props contain all of `match_props`, AND
        every incident relationship, in ONE cross-table atomic commit.
        Returns the number of nodes deleted (the reference's
        ``deleted_count``)."""
        victims = self._match_nodes(spark, label, match_props)
        vkeys = victims.select("node_key").persist()
        n_victims = vkeys.count()  # also materializes the persist
        try:
            if n_victims == 0:
                return 0
            e = self.edges_table.scan(spark)
            incident = (
                e.join(vkeys.withColumnRenamed("node_key", "src_key"), "src_key")
                .select(e.columns)
                .unionByName(
                    e.join(
                        vkeys.withColumnRenamed("node_key", "dst_key"), "dst_key"
                    ).select(e.columns)
                )
                .dropDuplicates(["edge_key"])
            )
            ts = F.lit(_ts(op_seq))
            node_batch = victims.join(vkeys, "node_key").select(
                F.lit("D").alias("op"),
                F.lit(op_seq).cast("long").alias("op_seq"),
                "node_key",
                ts.alias("warc_ts"),
                "label",
                "node_id",
                "props",
            )
            edge_batch = incident.select(
                F.lit("D").alias("op"),
                F.lit(op_seq).cast("long").alias("op_seq"),
                "edge_key",
                ts.alias("warc_ts"),
                "src_key",
                "rel",
                "dst_key",
            )
            with LakeTransaction(self.txn_dir) as txn:
                txn.stage(self.nodes_table).merge(spark, node_batch)
                txn.stage(self.edges_table).merge(spark, edge_batch)
            return n_victims
        finally:
            vkeys.unpersist()

    # ------------------------------------------------------------ reads
    def nodes(self, spark: SparkSession) -> DataFrame:
        return self.nodes_table.scan(spark)

    def edges(self, spark: SparkSession) -> DataFrame:
        return self.edges_table.scan(spark)


# ---------------------------------------------------------------- traversal
def k_hop(
    start: DataFrame,
    edges: DataFrame,
    hops: int,
    start_col: str = "node_key",
    src_col: str = "src_key",
    dst_col: str = "dst_key",
    reverse: bool = False,
) -> DataFrame:
    """BFS: all (start_key, node_key, hop) tuples where `hop` is the
    shortest edge distance from the start node, 1 ≤ hop ≤ `hops`.
    `start` has one column (`start_col`). Each hop is one equi-join of
    the current frontier against the edge list + a distinct + an
    anti-join against the visited set (so a node reached at hop 1 never
    reappears at hop 2 — shortest-distance semantics, not walk counts).
    `hops` is small and fixed (Cypher's ``[*1..k]``), so the loop
    unrolls into a linear join chain the optimizer sees whole; each hop
    costs one key-partitioned shuffle for the expansion and one for the
    visited anti-join, both linear in frontier×out-degree. Frontiers
    stay DataFrames end-to-end; nothing touches the driver."""
    if hops < 1:
        raise ValueError("hops must be >= 1")
    a, b = (dst_col, src_col) if reverse else (src_col, dst_col)
    frontier = start.select(
        F.col(start_col).alias("start_key"),
        F.col(start_col).alias("node_key"),
    ).distinct()
    visited = frontier
    out = None
    for h in range(1, hops + 1):
        step = (
            frontier.join(
                edges.select(F.col(a).alias("node_key"), F.col(b).alias("_next")),
                "node_key",
            )
            .select("start_key", F.col("_next").alias("node_key"))
            .distinct()
            .join(visited, ["start_key", "node_key"], "left_anti")
        )
        tagged = step.withColumn("hop", F.lit(h))
        out = tagged if out is None else out.unionByName(tagged)
        visited = visited.unionByName(step)
        frontier = step
    return out


def degrees(
    edges: DataFrame, src_col: str = "src_key", dst_col: str = "dst_key"
) -> DataFrame:
    """(node_key, out_degree, in_degree) — two map-side-combined counts
    joined on the node key."""
    outd = edges.groupBy(F.col(src_col).alias("node_key")).agg(
        F.count("*").alias("out_degree")
    )
    ind = edges.groupBy(F.col(dst_col).alias("node_key")).agg(
        F.count("*").alias("in_degree")
    )
    return (
        outd.join(ind, "node_key", "full")
        .select(
            "node_key",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
        )
    )

def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    src_col: str = "src_key",
    dst_col: str = "dst_key",
) -> DataFrame:
    """Fixed-iteration PageRank (Page et al. 1999, the simplified
    no-dangling-redistribution form most engines expose):

        r'(v) = (1−d)/N + d · Σ_{(u,v)∈E} r(u) / outdeg(u)

    over DISTINCT edges, uniform initialization 1/N. Returns
    (node_key, rank). Each iteration is exactly one shuffle keyed by
    destination (contributions groupBy dst) plus a broadcast-free
    left join back onto the static node list; `outdeg` is computed once
    and reused. `iterations` is small and fixed, so the loop unrolls
    into a linear join chain like `k_hop` — no driver-side state, no
    collect; at 10^10 edges each iteration is the canonical
    rank-partitioned aggregation. Dangling mass is dropped, matching
    the unrolled-SQL oracle exactly (same formula, same float order up
    to summation — parity verified by the rounded driver query)."""
    # The edge list is iteration-invariant and referenced by every
    # iteration's join, the node count, the outdeg agg, and the node
    # list — persist it so the (possibly expensive) upstream lineage
    # runs ONCE, the standard iterative-graph pattern (GraphX caches
    # its edge RDD for the same reason). MEMORY_AND_DISK: at 10^10
    # edges partitions spill instead of recomputing. Left persisted —
    # the returned ranks plan references it lazily; Spark evicts LRU.
    from pyspark import StorageLevel

    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    nodes = (
        e.select(F.col("src").alias("node_key"))
        .unionByName(e.select(F.col("dst").alias("node_key")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n = nodes.count()
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).cast("double").alias("od"))
    base = float(1.0 - damping) / n
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for _ in range(iterations):
        contribs = (
            e.join(ranks.withColumnRenamed("node_key", "src"), "src")
            .join(outdeg, "src")
            .groupBy(F.col("dst").alias("node_key"))
            .agg(F.sum(F.col("rank") / F.col("od")).alias("_in"))
        )
        ranks = nodes.join(contribs, "node_key", "left").select(
            "node_key",
            (
                F.lit(base)
                + F.lit(float(damping)) * F.coalesce(F.col("_in"), F.lit(0.0))
            ).alias("rank"),
        )
    return ranks


def components(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 20,
    small_graph_threshold: int = 1_000_000,
) -> DataFrame:
    """Weakly connected components over an edge list with keys of ANY
    orderable type (strings included — host names, urls): direction is
    ignored, and each node's component id is the MINIMUM key reachable
    from it. Returns one row per node: (node_key, component).

    Two regimes, chosen by edge count in ONE cheap scalar job (the same
    dual shape as `dedup.duplicate_clusters`): an edge list at or below
    `small_graph_threshold` is collected and solved by driver
    union-find — bounded driver work that skips the per-round fixed job
    latency dominating small graphs — while larger graphs run the
    distributed star contraction below. Pass ``small_graph_threshold=0``
    to force the distributed path (the adversarial-chain tests do).

    Distributed algorithm: alternating large-star / small-star edge
    contraction
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — converges in O(log n) rounds REGARDLESS of graph
    diameter, unlike plain min-label propagation whose round count is
    the component diameter (a chain-shaped alias/duplicate graph of
    length ≫ max_iter would never converge under propagation). Each
    round is two keyed aggregate+join passes over the edge set and the
    edge set only shrinks toward a star forest, so per-round cost
    falls as it converges. Driver state is one (count, hash-sum) edge
    fingerprint per round; `localCheckpoint` truncates lineage so
    Catalyst re-analysis stays O(1) per iteration. Still raises rather
    than returning split components if `max_iter` rounds don't
    converge (the duplicate_clusters guarantee) — with log-round
    convergence the default 20 covers any physically storable graph.

    - large-star(u): every neighbor v > u re-attaches to
      m = min(Γ(u) ∪ {u})
    - small-star(u): u and its smaller neighbors attach to their min

    Both steps preserve connectivity and only ever lower node labels,
    so at the fixed point every edge is (member, component-min).
    """
    fwd = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    if small_graph_threshold:
        # one bounded collect decides the regime AND feeds the small
        # path: the plan's CollectLimit stops at k+1 rows, so a large
        # graph never ships more than k+1 edges to the driver. The
        # driver bound is threshold × key width: ~16 MB for (long,long)
        # edges at the 1M default, proportionally more for string keys
        # (hosts/urls) — size the threshold down if driver memory is
        # tight with wide keys.
        probe = fwd.limit(small_graph_threshold + 1).collect()
        if len(probe) <= small_graph_threshold:
            parent: dict = {}

            def find(x):
                root = x
                while parent.get(root, root) != root:
                    root = parent[root]
                while parent.get(x, x) != x:  # path compression
                    parent[x], x = root, parent[x]
                return root

            nodes = set()
            for r in probe:
                a, b = r["src"], r["dst"]
                nodes.add(a)
                nodes.add(b)
                ra, rb = find(a), find(b)
                if ra != rb:
                    lo, hi2 = (ra, rb) if ra < rb else (rb, ra)
                    parent[hi2] = lo  # union by min: root IS the min key
            schema = fwd.select(
                F.col("src").alias("node_key"),
                F.col("src").alias("component"),
            ).schema
            return edges.sparkSession.createDataFrame(
                sorted((n, find(n)) for n in nodes), schema
            )
    all_nodes = (
        fwd.select(F.col("src").alias("node_key"))
        .unionByName(fwd.select(F.col("dst").alias("node_key")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # CANONICAL edge storage: each undirected edge once, larger endpoint
    # first (hi > lo), self-loop-free. Both star steps happen to EMIT
    # pairs already in this orientation (their targets are minima), so
    # each round needs one distinct over half the symmetric volume and
    # no re-symmetrization shuffle.
    canon = (
        fwd.where(F.col("src") != F.col("dst"))
        .select(
            F.greatest("src", "dst").alias("hi"),
            F.least("src", "dst").alias("lo"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )

    def fingerprint(e: DataFrame) -> tuple:
        # bit_xor, not sum: order-independent, immune to ANSI-mode long
        # overflow, and exact over a DISTINCT edge set
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.bit_xor(F.xxhash64(F.col("hi").cast("string"),
                                     F.col("lo").cast("string"))),
                F.lit(0),
            ).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    prev_fp = fingerprint(canon)
    prev_canon = canon
    converged = False
    for _ in range(max_iter):
        # large-star: center u, m = min(u, min neighbor); every larger
        # neighbor re-attaches to m. Full neighborhoods come from the
        # on-the-fly symmetric view (a union — no shuffle of its own);
        # the emitted pair (v, m) has v > u >= m, i.e. already (hi, lo).
        sym = canon.select(
            F.col("hi").alias("src"), F.col("lo").alias("dst")
        ).unionByName(
            canon.select(F.col("lo").alias("src"), F.col("hi").alias("dst"))
        )
        lmins = (
            sym.groupBy("src")
            .agg(F.min("dst").alias("_mn"))
            .select("src", F.least("src", "_mn").alias("m"))
        )
        canon = (
            sym.where(F.col("dst") > F.col("src"))
            .join(lmins, "src")
            .select(F.col("dst").alias("hi"), F.col("m").alias("lo"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # small-star: center = the larger endpoint of each edge (exactly
        # canon's orientation); it and its smaller neighbors attach to
        # their min. Emitted pairs (v, m) and (u, m) are again (hi, lo)
        # once the m self-pair is dropped.
        smins = canon.groupBy("hi").agg(F.min("lo").alias("m"))
        canon = (
            canon.join(smins, "hi")
            .where(F.col("lo") != F.col("m"))
            .select(F.col("lo").alias("hi"), F.col("m").alias("lo"))
            .unionByName(smins.select("hi", F.col("m").alias("lo")))
            .distinct()
            .localCheckpoint(eager=True)
        )
        fp = fingerprint(canon)
        if fp == prev_fp:
            # The fingerprint (count + xor of xxhash64) is a cheap
            # screen, not proof: a collision between distinct
            # consecutive edge sets would silently return split
            # components — exactly what this operator contracts never
            # to do. Confirm with an EXACT set-equality probe (both
            # sides are distinct and counts already match, so one
            # direction of exceptAll suffices; limit(1) stops at the
            # first witness). Runs once per convergence, not per round.
            if canon.exceptAll(prev_canon).limit(1).count() == 0:
                converged = True
                break
        prev_fp = fp
        prev_canon = canon
    if not converged:
        raise RuntimeError(
            f"star contraction did not converge in {max_iter} rounds — "
            "raise max_iter (log-round convergence makes this "
            "unreachable for any physically storable graph)"
        )
    # fixed point: canon is the star forest (member, component-min);
    # edge-less minima label themselves
    stars = canon.groupBy(F.col("hi").alias("node_key")).agg(
        F.min("lo").alias("component")
    )
    return (
        all_nodes.join(stars, "node_key", "left")
        .select(
            "node_key",
            F.coalesce("component", "node_key").alias("component"),
        )
    )
