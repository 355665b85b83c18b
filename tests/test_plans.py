"""Physical-plan quality guards.

Correctness tests prove the answers are right; these prove the PLANS are
the ones we want at 100 TB — filters reach the parquet scan, projection
prunes columns, small dims broadcast, and the CDC hot path has exactly
one exchange. A regression here (e.g. an accidental `.cache()` or a
non-aligned repartition) changes no answers but ruins scale behavior,
which is why it's pinned by tests.
"""

from __future__ import annotations

import datetime as dt
import gc
import os
import time

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from tiger_etl_spark.cdc.pipeline import apply_changes, create_pages_table
from tiger_etl_spark.cdc.schemas import EVENTS_READ_SCHEMA

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_filter_and_projection_pushed_to_scan(spark):
    df = entrymod.scan_filter_projection(spark, SF_DIR)
    plan = plan_of(df)
    # equality predicates land in the parquet reader, not a post-filter
    assert "PushedFilters" in plan
    assert "l_returnflag" in plan.split("PushedFilters")[1].splitlines()[0]
    # column pruning: ReadSchema carries only the needed columns
    read_schema = plan.split("ReadSchema")[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_extendedprice" not in read_schema


def test_time_range_prunes_with_pushed_predicate(spark):
    df = entrymod.events_time_range(spark, SF_DIR)
    plan = plan_of(df)
    assert "PushedFilters" in plan and "ts" in plan.split("PushedFilters")[1].splitlines()[0]


def test_small_dimension_joins_broadcast(spark):
    plan = plan_of(entrymod.top_revenue_orders(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    plan2 = plan_of(entrymod.nation_region_join(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan2


def test_topk_uses_take_ordered(spark):
    plan = plan_of(entrymod.top_revenue_orders(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


def test_agg_has_partial_combine(spark):
    """groupBy aggregations must show two-phase hash agg (map-side
    partial combine before the exchange)."""
    plan = plan_of(entrymod.q1_pricing_summary(spark, SF_DIR))
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def simple_plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )


@pytest.fixture()
def write_plans(monkeypatch):
    """Simple-mode plans of the lake's data writes: the frames handed to
    `LakeTable._write_data`, and the frames its writer writes. The two
    differ only when `_write_data` shuffles, which only salting may do."""
    from pyspark.sql.readwriter import DataFrameWriter

    from tiger_etl_spark.lake import LakeTable

    handed, written = [], []
    write_data = LakeTable._write_data
    parquet = DataFrameWriter.parquet

    def spy(self, spark_, df, *args, **kwargs):
        handed.append(simple_plan(df))
        return write_data(self, spark_, df, *args, **kwargs)

    def writer_spy(self, *args, **kwargs):
        if "_bucket" in self._df.columns:  # not the quarantine writer
            written.append(simple_plan(self._df))
        return parquet(self, *args, **kwargs)

    monkeypatch.setattr(LakeTable, "_write_data", spy)
    monkeypatch.setattr(DataFrameWriter, "parquet", writer_spy)
    return handed, written


def assert_one_write_with_exchanges(write_plans, n: int) -> str:
    handed, written = write_plans
    assert len(handed) == len(written) == 1
    for plan in handed + written:
        assert plan.count("Exchange hashpartitioning") == n, plan
    return handed[0]


def ingest_changes(spark, tmp_path, name: str) -> None:
    """One CDC batch from real parquet change files into a fresh
    8-bucket pages table at `tmp_path/name`."""
    from tiger_etl_spark.cdc.datagen import gen_change_events, write_change_files

    changes = str(tmp_path / "changes")
    write_change_files(gen_change_events(seed=3, n=500, n_hosts=10), changes, n_files=2)
    table = create_pages_table(str(tmp_path / name), num_buckets=8)
    src = spark.read.schema(EVENTS_READ_SCHEMA).parquet(changes)
    apply_changes(spark, table, src, batch_id=0)


def test_fused_cdc_path_single_exchange(spark, tmp_path, write_plans):
    """The CDC hot path: exactly ONE shuffle (the bucket-aligned
    repartition); the LWW groupBy must not add a second exchange, nor
    the write a third. Uses a real parquet source — empty LocalRelation
    plans are replanned by AQE and don't reflect the streaming batch
    plan."""
    ingest_changes(spark, tmp_path, "mor")
    plan = assert_one_write_with_exchanges(write_plans, 1)
    # LWW dedup aggregates in place after the aligned repartition —
    # partial+final max_by with NO exchange between them
    assert "partial_max_by" in plan and "max_by" in plan, plan
    # and the one exchange is the bucket-aligned REPARTITION_BY_NUM
    assert "REPARTITION_BY_NUM" in plan, plan


def _values_batch(spark, rows):
    """A CDC batch as a JVM-local relation (SQL VALUES), so a plan
    check on what is built from it sees only the engine's own nodes."""
    vals = ", ".join(
        f"('{op}', {sq}L, '{u}', TIMESTAMP'2025-01-01 00:00:00' + "
        f"INTERVAL {t} SECONDS, '{x}')"
        for op, sq, u, t, x in rows
    )
    return spark.sql(
        f"SELECT * FROM VALUES {vals} AS t(op, op_seq, url, warc_ts, text)"
    )


@pytest.fixture()
def mor_table(spark, tmp_path):
    """An uncompacted merge-on-read table: two delta commits, no base
    file — every planned file is in a dirty bucket. Returns the table
    and the versions before and after its commits."""
    from tiger_etl_spark.lake import LakeTable

    table = LakeTable.create(
        str(tmp_path / "mor"), "url string, warc_ts timestamp, text string",
        key_col="url", num_buckets=4,
    )
    v0 = table.manifest["version"]
    rows = [("I", i, f"k{i}", i, f"v{i}") for i in range(8)]
    table.merge(spark, _values_batch(spark, rows))
    table.merge(spark, _values_batch(spark, [("U", 9, "k1", 20, "w1")]))
    assert {f["kind"] for f in table.manifest["files"]} == {"delta"}
    return table, v0, table.manifest["version"]


def test_lake_reads_launch_no_python_relation(spark, mor_table):
    """Lake read plans call no UDF, so they must not cross into Python:
    no `Scan ExistingRDD` (a Python-backed relation, one worker task per
    core) in a lookup, a window scan or a change feed over an
    uncompacted merge-on-read table, whose clean leg is always empty."""
    import datetime as dt

    table, v0, v1 = mor_table
    lo = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)
    for df in (
        table.lookup(spark, "k1"),
        table.scan(spark, ts_range=(lo, lo + dt.timedelta(seconds=30))),
        table.changes_between(spark, v0, v1),
    ):
        plan = plan_of(df)
        assert "ExistingRDD" not in plan, plan
    assert table.lookup(spark, "k1").collect()[0]["text"] == "w1"
    assert table.changes_between(spark, v0, v1).count() == 8


def test_read_files_empty_is_zero_partitions_live_schema(spark, mor_table):
    table, _, _ = mor_table
    empty = table._read_files(spark, [])
    assert empty.rdd.getNumPartitions() == 0
    assert empty.schema == spark.createDataFrame([], table._physical_ddl()).schema


@pytest.fixture()
def py4j_commands(monkeypatch):
    """A running count of the py4j commands Python sends to the JVM."""
    from py4j.clientserver import ClientServerConnection

    sent = [0]
    send = ClientServerConnection.send_command

    def counting(self, command):
        sent[0] += 1
        return send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    return sent


def build_commands(sent, build) -> int:
    """The py4j commands of the cheapest of three builds of one read
    plan: a garbage collection during a build adds the release of
    unrelated JVM objects to its count."""
    counts = []
    for _ in range(3):
        gc.collect()
        before = sent[0]
        build()
        counts.append(sent[0] - before)
    return min(counts)


def test_read_plans_build_in_few_jvm_calls(spark, mor_table, py4j_commands):
    """Building a lookup or a change feed costs a bounded number of JVM
    round trips, not several per column and operator: the schema lift
    is one projection, the feed's projection is SQL text, and an
    all-dirty scan has no empty leg to build. A feed from the table's
    empty first snapshot builds its empty side as one projection too,
    so it costs no more than a feed from a non-empty snapshot."""
    table, v0, v1 = mor_table
    builds = {
        "lookup": lambda: table.lookup(spark, "k1"),
        "feed from the empty first snapshot": (
            lambda: table.changes_between(spark, v0, v1)
        ),
        "feed from a non-empty snapshot": (
            lambda: table.changes_between(spark, v1 - 1, v1)
        ),
    }
    for name, build in builds.items():
        n = build_commands(py4j_commands, build)
        assert n <= 200, (name, n)


def test_apply_changes_builds_in_few_jvm_calls(spark, tmp_path, py4j_commands):
    """One `apply_changes` of a 600-event change file builds its plan in
    a bounded number of JVM round trips: the checks, the dead-letter
    split, the lineage metrics and the v1→v2 lift are SQL text, built
    once per batch, not a Column chain per check, metric and column."""
    from tiger_etl_spark.cdc.datagen import gen_change_events, write_change_files

    changes = str(tmp_path / "changes")
    files = write_change_files(
        gen_change_events(seed=5, n=1800, n_hosts=20), changes, n_files=3
    )
    table = create_pages_table(str(tmp_path / "pages"), num_buckets=8)
    counts = []
    for batch_id, path in enumerate(sorted(files)):
        events = spark.read.schema(EVENTS_READ_SCHEMA).parquet(path)
        gc.collect()
        before = py4j_commands[0]
        apply_changes(spark, table, events, batch_id=batch_id)
        counts.append(py4j_commands[0] - before)
    assert min(counts) <= 700, counts


def jobs_started(spark, group: str, action) -> int:
    """Spark jobs `action` starts. The status tracker hears of jobs in
    order, so once it lists a last one-job query of the group it lists
    every job before it."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    deadline = time.monotonic() + 30
    while not sc.statusTracker().getJobIdsForGroup(group):
        assert time.monotonic() < deadline
        time.sleep(0.05)
    return len(sc.statusTracker().getJobIdsForGroup(group)) - 1


def test_read_plan_build_starts_no_spark_job(spark, tmp_path):
    """The manifest names every file a read needs, so building a window
    scan or a change feed over more files than Spark lists on the driver
    by default (32) still starts no Spark job to list them."""
    from tiger_etl_spark.lake import LakeTable

    table = LakeTable.create(
        str(tmp_path / "many"), "url string, warc_ts timestamp, text string",
        key_col="url", num_buckets=12,
    )
    for c in range(4):
        rows = [("I", 100 * c + i, f"k{i}", i, f"v{c}") for i in range(96)]
        table.merge(spark, _values_batch(spark, rows))
    v1 = table.manifest["version"]
    v0 = v1 - 1
    assert len(table.at_version(v0).manifest["files"]) > 32
    lo = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)
    window = (lo, lo + dt.timedelta(seconds=30))
    for name, build in (
        ("window", lambda: table.scan(spark, ts_range=window)),
        ("feed", lambda: table.changes_between(spark, v0, v1)),
    ):
        assert jobs_started(spark, f"{tmp_path.name}-{name}", build) == 0, name
    assert table.scan(spark, ts_range=window).count() == 31
    assert table.changes_between(spark, v0, v1).count() == 96


def test_keyed_lookup_resolves_without_exchange(spark, mor_table):
    """A point lookup in a small dirty bucket reads its files as one
    partition, so the LWW resolve needs no exchange: one task."""
    table, _, _ = mor_table
    df = table.lookup(spark, "k1")
    assert [r["text"] for r in df.collect()] == ["w1"]
    plan = plan_of(df)
    assert "isFinalPlan=true" in plan, plan
    assert "Exchange" not in plan, plan


def test_raw_event_merge_single_exchange(spark, tmp_path, write_plans):
    """A merge of raw change events resolves them inside the one bucket
    exchange, and the write adds none."""
    from tiger_etl_spark.lake import LakeTable

    table = LakeTable.create(
        str(tmp_path / "raw"), "url string, warc_ts timestamp, text string",
        key_col="url", num_buckets=4,
    )
    rows = [("I", i, f"k{i % 5}", i, f"v{i}") for i in range(1, 12)]
    table.merge(spark, _values_batch(spark, rows))
    assert_one_write_with_exchanges(write_plans, 1)
    got = sorted((r["url"], r["text"]) for r in table.scan(spark).collect())
    assert got == sorted((f"k{i % 5}", f"v{i}") for i in range(7, 12))


def test_compact_single_exchange(spark, mor_table, write_plans):
    table, _, _ = mor_table
    before = sorted(tuple(r) for r in table.scan(spark).collect())
    write_plans[0].clear()
    write_plans[1].clear()
    table.compact(spark)
    assert_one_write_with_exchanges(write_plans, 1)
    assert sorted(tuple(r) for r in table.scan(spark).collect()) == before


def test_pagination_no_global_window(spark):
    """OFFSET/LIMIT pagination must plan TakeOrderedAndProject
    (per-partition heaps), never a row_number over an unpartitioned
    Window (which moves every row to one task)."""
    plan = plan_of(entrymod.orders_page3(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Window" not in plan, plan


def test_zset_rank_window_bounded_by_topk(spark):
    """zset rank-range: the global sort is a TakeOrdered top-(stop+1);
    the single-task Window only ever sees ≤ stop+1 rows."""
    plan = plan_of(entrymod.supplier_zset_top10(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan


def test_neardup_pairs_never_collects_or_broadcasts(spark, monkeypatch):
    """The exact near-dup operator must be a distributed block join:
    no driver-side collect of the corpus, no corpus broadcast, scoring
    inside applyInPandas (FlatMapGroupsInPandas)."""
    import pyspark.sql

    from tiger_etl_spark.operators import similarity

    e = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))

    def no_collect(self):
        raise AssertionError("neardup_pairs must not collect() the corpus")

    monkeypatch.setattr(pyspark.sql.DataFrame, "collect", no_collect)
    df = similarity.neardup_pairs(e, "vec_id", "embedding", 0.4, n_blocks=4)
    plan = plan_of(df)
    assert "FlatMapGroupsInPandas" in plan, plan
    assert "Broadcast" not in plan, plan


def test_lsh_neardup_band_join_is_keyed(spark):
    """The banded near-dup self-join must be an equi-join on (band_id,
    band_hash) — never a cartesian product or broadcast nested loop."""
    from tiger_etl_spark.operators import similarity

    e = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    df = similarity.neardup_pairs_lsh(
        e, "vec_id", "embedding", 0.9, dim=64, n_bands=4, rows_per_band=4
    )
    plan = plan_of(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_range_join_is_equi_join(spark):
    """The banded range join must plan a keyed equi-join (band column),
    never the BroadcastNestedLoop/cartesian an inequality-only join
    degenerates to."""
    plan = plan_of(entrymod.purchase_click_followups(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_neardup_pairs_block_decomposition_invariant(spark):
    """Same exact pair set whatever the block count (incl. the G=1
    degenerate single-group case)."""
    from tiger_etl_spark.operators import similarity

    e = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    got = {
        g: sorted(
            (r.id_a, r.id_b, round(r.cosine, 9))
            for r in similarity.neardup_pairs(
                e, "vec_id", "embedding", 0.4, n_blocks=g
            ).collect()
        )
        for g in (1, 5)
    }
    assert got[1] == got[5] and len(got[1]) > 0


def test_semi_anti_joins_stay_joins(spark):
    """Existence probes must compile to semi/anti joins, never to
    per-row lookups or exists-subquery re-scans."""
    plan = plan_of(entrymod.customers_with_orders(spark, SF_DIR))
    assert "LeftSemi" in plan
    plan2 = plan_of(entrymod.customers_without_orders(spark, SF_DIR))
    assert "LeftAnti" in plan2


def test_whole_stage_codegen_in_hot_queries(spark):
    """Scalar work stays inside WholeStageCodegen spans (JVM, no
    row-at-a-time interpretation)."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")  # AQE defers codegen
    try:
        for q in ("q1_pricing_summary", "value_bucket_summary", "doc_token_stats"):
            df = entrymod.queries()[q](spark, SF_DIR)
            codegen = df._jdf.queryExecution().explainString(
                df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "codegen"
                )
            )
            assert "Found 0 WholeStageCodegen" not in codegen and "*(1)" in codegen, q
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_tfidf_broadcasts_idf_and_filters_before_agg(spark):
    plan = plan_of(entrymod.doc_tfidf_search(spark, SF_DIR))
    # the tiny per-term IDF table broadcasts into the scoring join
    assert "BroadcastHashJoin" in plan
    # top-k is a heap, not a global sort
    assert "TakeOrderedAndProject" in plan


def test_simhash_pairs_join_is_keyed(spark):
    plan = plan_of(entrymod.doc_simhash_pairs(spark, SF_DIR))
    # band self-join must be a keyed join (equality on band slice) —
    # never a nested-loop over all pairs
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ivf_probe_prunes_on_cell_filter(spark):
    from tiger_etl_spark.operators import similarity

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cells = similarity.build_ivf_cells(e, "embedding", 16, 64)
    probe = similarity.ivf_probe_cells(entrymod._QUERY_VEC, 16, 4)
    pruned = cells.where(F.col("_cell").isin(probe))
    plan = plan_of(
        similarity.cosine_topk(pruned, "vec_id", "embedding", entrymod._QUERY_VEC, 10)
    )
    # candidate filter applies before the re-rank; top-k is a heap
    assert "Filter" in plan and "TakeOrderedAndProject" in plan


def test_stratified_sample_prefilter_before_window(spark):
    from tiger_etl_spark.operators.sampling import stratified_sample

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(stratified_sample(d, "lang", "doc_id", 10))
    # the hash-bucket cutoff filter must sit below the window sort (the
    # window's per-stratum sort input is bounded by it): the plan has a
    # Filter containing the bucket conv() under the Window node
    assert "Window" in plan
    assert "conv" in plan  # bucket expression present somewhere
    # and the per-stratum counts join broadcasts
    assert "BroadcastHashJoin" in plan


def test_lsh_bucket_cap_hot_join_is_broadcast(spark):
    """The skew-guard's hot-bucket join must broadcast the (small by
    construction: at most total_rows/cap buckets) over-cap list — never
    shuffle the vector-carrying band rows a second time for it — and
    still contain no cartesian/nested-loop join."""
    from tiger_etl_spark.operators import similarity

    e = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    df = similarity.neardup_pairs_lsh(
        e, "vec_id", "embedding", 0.9, dim=64, n_bands=4, rows_per_band=4,
        bucket_cap=8,
    )
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # exactly one shuffle of the banded vector rows: the final
    # (band, hash, gi, gj) group partitioning; the count pass shuffles
    # only narrow partial-agg rows
    assert plan.count("Exchange hashpartitioning") <= 3, plan


def test_topk_per_key_first_window_is_salted(spark):
    """The per-key top-K's first ranking window must partition by
    (key, salt) — a window partitioned by key alone would put a whole
    hot domain in one task."""
    from tiger_etl_spark.operators.windows import topk_per_key

    d = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    df = topk_per_key(
        d.select("doc_id", "source", "n_chars"),
        ["source"],
        [F.col("n_chars").desc(), F.col("doc_id")],
        k=10,
        salt_on=F.col("doc_id"),
        n_salts=4,
    )
    plan = plan_of(df)
    # two Window operators; the first (inner) one is keyed by the salt too
    assert plan.count("Window") >= 2, plan
    assert "_salt" in plan, plan


def test_duplicate_spans_plan_partitioned_window_no_cartesian(spark):
    """The span merge must sort per-document only (partitioned window),
    the dup-hash probe must be a semi-join, and nothing may go
    cartesian."""
    plan = plan_of(entrymod.doc_duplicate_spans(spark, SF_DIR))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "LeftSemi" in plan
    # no global (unpartitioned) sort: every Sort lists doc_id first in
    # its partition/order context via the Window spec
    assert "Window" in plan


def test_bm25_broadcasts_stats_no_cartesian(spark):
    plan = plan_of(entrymod.doc_bm25_search(spark, SF_DIR))
    # idf (tiny) and avgdl (1 row) broadcast; top-k never global-sorts
    assert plan.count("BroadcastExchange") >= 2
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_bigram_pmi_two_phase_aggs_broadcast_totals_no_window(spark):
    """doc_bigram_pmi_top20's plan: two map-side-combined hash-agg
    pyramids (bigram counts + unigram counts), 1-row corpus totals
    joined ONLY via broadcast, top-k as TakeOrderedAndProject — no
    Window, no cartesian, no Python. Pinned after the r3→r4 1.70×
    timing delta re-measured as phase noise (search.py unchanged) so
    any future slowdown has to be a real plan change."""
    plan = plan_of(entrymod.doc_bigram_pmi_top20(spark, SF_DIR))
    assert plan.count("HashAggregate") >= 4  # two partial+final pyramids
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "PythonUDF" not in plan and "BatchEvalPython" not in plan


def test_kn_ngram_model_keyed_joins_no_cartesian_no_window(spark):
    """The general-order KN trigram score: joins keyed on word tuples
    (AQE free to pick broadcast — nothing forced except the 1-row ΣA₁
    total), no cartesian blowup, no Window, no Python in the plan."""
    plan = plan_of(entrymod.doc_kn3_lm_scores(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "PythonUDF" not in plan and "BatchEvalPython" not in plan
    assert plan.count("HashAggregate") >= 6  # A3/A2/A1 + ctx pyramids


def test_pagerank_no_cartesian_no_global_sort(spark):
    plan = plan_of(entrymod.graph_pagerank_top20(spark, SF_DIR))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "TakeOrderedAndProject" in plan


def test_alpha_mixture_threshold_broadcast(spark):
    plan = plan_of(entrymod.doc_alpha_mixture_counts(spark, SF_DIR))
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_page_meta_and_main_content_scan_stage_only(spark):
    """The crawl-index extractors are pure scan-stage work: no shuffle
    before the output sort, no Python eval node (codegen regex /
    higher-order functions only)."""
    for fn in (entrymod.web_page_meta, entrymod.web_main_content):
        plan = plan_of(fn(spark, SF_DIR))
        assert "PythonUDF" not in plan and "BatchEvalPython" not in plan
        # exactly the exchanges of the input-repartition + output sort:
        # no aggregation/join exchange in between
        assert "HashAggregate" not in plan and "Join" not in plan, plan


def test_url_quality_scan_stage_only(spark):
    """URL gates are codegen regexes over one projection: no Python
    node, no aggregate or join anywhere in the plan."""
    plan = plan_of(entrymod.web_url_quality(spark, SF_DIR))
    assert "PythonUDF" not in plan and "BatchEvalPython" not in plan
    assert "HashAggregate" not in plan and "Join" not in plan, plan


def test_robots_allowed_broadcast_no_page_shuffle(spark):
    """The robots gate joins the per-host rules array by broadcast —
    the page corpus side must carry no hash-partitioning exchange."""
    plan = plan_of(entrymod.web_robots_allowed(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_pivot_and_rollup_two_phase_agg_no_window(spark):
    """monthly_status_pivot / order_status_rollup (the r3 perf-weak
    entries) must stay plain two-phase hash aggregations: pinned pivot
    values mean no extra distinct-values job, no Window, no Sort before
    the aggregation, one exchange."""
    import re

    # pivot-as-conditional-agg: exactly one exchange (partial->final agg)
    plan = plan_of(entrymod.monthly_status_pivot(spark, SF_DIR))
    assert "Window" not in plan, plan
    assert len(re.findall(r"^\(\d+\) HashAggregate", plan, re.M)) == 2, plan
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1, plan
    # rollup: two-phase agg + the output-order sort exchange, nothing else
    plan = plan_of(entrymod.order_status_rollup(spark, SF_DIR))
    assert "Window" not in plan, plan
    assert len(re.findall(r"^\(\d+\) HashAggregate", plan, re.M)) == 2, plan
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) <= 2, plan
