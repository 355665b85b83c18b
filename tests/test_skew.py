"""Hot-key skew handling (SURVEY.md §4 custom-work #2, §7 stage 6).

The engine's one salting path is the salted bucket write
(`LakeTable._write_data` under the `write_salts` table prop): a salted
lake write, and a salted CDC ingest, split the hot bucket across
multiple files with scan results identical to the unsalted table, and
compaction re-collapses them to one file per bucket.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tiger_etl_spark.cdc.pipeline import apply_changes, create_pages_table
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
