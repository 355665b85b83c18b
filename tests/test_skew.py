"""Hot-key skew handling (SURVEY.md §4 custom-work #2, §7 stage 6).

Three layers verified: heavy-hitter detection finds a planted hot host;
salted repartition spreads a hot key over multiple tasks while
preserving the rows exactly (salt→unsalt identity); and a salted lake
write splits the hot bucket across multiple files with scan results
identical to the unsalted table.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tiger_etl_spark.cdc.pipeline import apply_changes, create_pages_table
from tiger_etl_spark.cdc.skew import (
    detect_heavy_hitters,
    salted_repartition,
    url_host,
)
from tiger_etl_spark.lake import LakeTable

DDL = "url string, warc_ts timestamp, html binary, text string, lang string, content_len long"


def _skewed_events(spark, n_hot=2000, n_cold=500):
    hot = [
        (f"https://hot.example/p{i % 50}", i + 1) for i in range(n_hot)
    ]
    cold = [
        (f"https://cold{i}.example/p0", n_hot + i + 1) for i in range(n_cold)
    ]
    return spark.createDataFrame(
        [("I", seq, url, None, None, None, None) for url, seq in hot + cold],
        "op string, op_seq long, url string, warc_ts timestamp, html binary, "
        "lang string, content_len long",
    ).withColumn("warc_ts", F.timestamp_seconds(F.col("op_seq") + 1_700_000_000))


def test_detect_heavy_hitters_finds_hot_host(spark):
    df = _skewed_events(spark)
    hot = detect_heavy_hitters(
        df, url_host(F.col("url")), threshold_frac=0.3, sample_frac=None
    )
    assert hot and hot[0][0] == "hot.example"
    # cold hosts stay below the threshold
    assert all(h == "hot.example" for h, _ in hot)


def test_salted_repartition_identity_and_spread(spark):
    df = _skewed_events(spark)
    salted = salted_repartition(df, "url", n_salts=8, hot_values=None)
    # identity: same multiset of rows, no salt column leaks
    assert salted.columns == df.columns
    assert salted.exceptAll(df).isEmpty() and df.exceptAll(salted).isEmpty()
    # spread: the hot url's rows land on more than one partition.
    # Materialize partition ids BEFORE filtering — a filter above the
    # repartition gets pushed below the exchange and AQE then coalesces
    # the tiny filtered shuffle to one partition, probing the wrong plan.
    pids = salted.select("url", F.spark_partition_id().alias("pid")).cache()
    try:
        pids.count()
        parts = (
            pids.where(F.col("url") == "https://hot.example/p0")
            .select("pid").distinct().count()
        )
        assert parts > 1
    finally:
        pids.unpersist()


def test_salted_lake_write_splits_hot_bucket(spark, tmp_path):
    df = _skewed_events(spark).withColumn("text", F.lit(None).cast("string"))
    cols = ["op", "op_seq", "url", "warc_ts", "html", "text", "lang", "content_len"]

    plain = LakeTable.create(
        str(tmp_path / "plain"), DDL, key_col="url", num_buckets=4
    )
    plain.merge(spark, df.select(cols))

    salted = LakeTable.create(
        str(tmp_path / "salted"), DDL, key_col="url", num_buckets=4,
        props={"write_salts": "4"},
    )
    salted.merge(spark, df.select(cols))

    # the same events through CDC ingest into a salted pages table: the
    # ingest write must honour write_salts too
    pages = create_pages_table(str(tmp_path / "pages"), num_buckets=4, write_salts=4)
    apply_changes(
        spark, pages,
        _skewed_events(spark).withColumns({
            "body": F.lit(None).cast("binary"),
            "schema_id": F.lit(2),
            "batch_file": F.lit("f"),
        }),
        batch_id=0,
    )

    # same final state either way
    a = plain.scan(spark).select(cols[2:]).sort("url")
    for t in (salted, pages):
        b = t.scan(spark).select(cols[2:]).sort("url")
        assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()

    # the hot urls all hash to few buckets; the salted tables must spread
    # the densest bucket over more files than the unsalted one
    def max_files_per_bucket(t):
        counts = {}
        for f in t.manifest["files"]:
            counts[f["bucket"]] = counts.get(f["bucket"], 0) + 1
        return max(counts.values())

    for t in (salted, pages):
        assert max_files_per_bucket(t) > max_files_per_bucket(plain)
        # and compaction re-collapses to one file per bucket
        t.compact(spark)
        assert max_files_per_bucket(t) == 1
