"""Operator-library tests: dedup suite on planted near-duplicates, ANN
recall vs brute force, multimodal plumbing, text analysis, scalar funcs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import jpeg_encode
from tiger_etl_spark.functions import scalar
from tiger_etl_spark.functions.text import detect_lang, quality_score_cols
from tiger_etl_spark.operators import dedup, multimodal, similarity

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat sleeps "
    "in the warm sun near the old stone wall by the river"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, BASE),
        (2, BASE),  # exact duplicate of 1
        (3, BASE.replace("lazy", "sleepy")),  # near-duplicate of 1
        (4, "completely different text about spark query engines and parquet files and shuffles"),
        (5, "another unrelated document mentioning merge upserts and iceberg snapshot isolation"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark, docs):
    groups = dedup.exact_dedup_groups(docs, "doc_id", "text").collect()
    sizes = sorted(g["group_size"] for g in groups)
    assert sizes == [1, 1, 1, 2]
    dup = next(g for g in groups if g["group_size"] == 2)
    assert dup["keeper_id"] == 1


def test_minhash_lsh_finds_near_duplicates(spark, docs):
    sigs = dedup.minhash_signatures(docs, "doc_id", "text", n_hashes=16)
    pairs = dedup.lsh_candidate_pairs(sigs, "doc_id", n_hashes=16, bands=8)
    got = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in pairs.collect()}
    assert (1, 2) in got and got[(1, 2)] == 1.0  # exact dup: all hashes match
    assert (1, 3) in got and got[(1, 3)] > 0.3   # near dup: many match
    assert (1, 4) not in got and (4, 5) not in got


def test_ngram_jaccard_verification(spark, docs):
    sigs = dedup.minhash_signatures(docs, "doc_id", "text", n_hashes=16)
    pairs = dedup.lsh_candidate_pairs(sigs, "doc_id", n_hashes=16, bands=8)
    verified = dedup.ngram_jaccard(docs, pairs.select("id_a", "id_b"), "doc_id", "text")
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in verified.collect()}
    assert got[(1, 2)] == 1.0
    assert 0.5 < got[(1, 3)] < 1.0


def test_simhash_similar_docs_close(spark, docs):
    fp = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs, "doc_id", "text").collect()}
    def hamming(a, b):
        return bin(a ^ b).count("1")
    assert fp[1] == fp[2]
    assert hamming(fp[1], fp[3]) < hamming(fp[1], fp[4])


@pytest.fixture(scope="module")
def vectors(spark):
    import numpy as np

    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.normal(size=16)]) for i in range(200)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_lsh_topk_recall(spark, vectors):
    import numpy as np

    rng = np.random.default_rng(4)
    q = [float(x) for x in rng.normal(size=16)]
    exact = [r["vec_id"] for r in similarity.cosine_topk(vectors, "vec_id", "embedding", q, 10).collect()]
    # probing every bucket must reproduce exact brute force (mechanism check)
    full = [
        r["vec_id"]
        for r in similarity.lsh_topk(
            vectors, "vec_id", "embedding", q, 10, n_planes=6, max_hamming=6
        ).collect()
    ]
    assert full == exact
    # partial probe (22/64 buckets ≈ 34% of space) must beat the random
    # baseline — gaussian vectors are a worst case for hyperplane LSH
    approx = [
        r["vec_id"]
        for r in similarity.lsh_topk(
            vectors, "vec_id", "embedding", q, 10, n_planes=6, max_hamming=2
        ).collect()
    ]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.4


def test_neardup_pairs_cosine(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0]),   # near-dup of 1
        (3, [0.0, 1.0, 0.0]),      # orthogonal
        (4, [-1.0, 0.0, 0.0]),     # opposite
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in similarity.neardup_pairs(df, "vec_id", "embedding", 0.9).collect()
    }
    assert set(got) == {(1, 2)}
    assert got[(1, 2)] > 0.99


def test_rolling_fingerprint_groups_near_identical(spark, docs):
    from tiger_etl_spark.functions.text import chargram_fingerprint

    out = {
        r["doc_id"]: r["fp"]
        for r in docs.select(
            "doc_id", chargram_fingerprint(F.col("text")).alias("fp")
        ).collect()
    }
    assert out[1] == out[2]          # identical text → identical fingerprint
    assert out[1] != out[4]          # unrelated text → different
    # whitespace/case normalization folds in
    df2 = spark.createDataFrame([(9, "  THE quick   brown fox jumps over the lazy dog while the cat sleeps in the warm sun near the old stone wall by the river ")], "doc_id long, text string")
    fp9 = df2.select(chargram_fingerprint(F.col("text")).alias("fp")).collect()[0]["fp"]
    assert fp9 == out[1]
    # short/empty docs degrade to the empty fingerprint, no error
    df3 = spark.createDataFrame([(10, ""), (11, "tiny")], "doc_id long, text string")
    fps = [r["fp"] for r in df3.select(chargram_fingerprint(F.col("text")).alias("fp")).collect()]
    assert len(set(fps)) == 1


def test_multimodal_feature_plumbing(spark):
    rows = [(1, b"\x00" * 64), (2, bytes(range(64))), (3, None), (4, b"")]
    df = spark.createDataFrame(rows, "media_id long, blob binary")
    out = multimodal.extract_media_features(df, "media_id", "blob", n_features=4)
    got = {r["media_id"]: r["features"] for r in out.collect()}
    assert got[1] == [0.0, 0.0, 0.0, 0.0]
    assert len(got[2]) == 4 and got[2][0] == 7.5
    assert got[3] is None
    assert got[4] == [0.0, 0.0, 0.0, 0.0]


def test_real_decoder_is_stubbed_for_non_decodable_media():
    # PNG, JPEG (baseline+progressive) and PCM WAV decode for real;
    # compressed audio / video containers still raise the documented
    # stub error, and a malformed WAV dispatches to the real decoder's
    # clean ValueError rather than the stub
    with pytest.raises(ValueError):
        multimodal.real_decoder_stub(b"RIFF....WAVEfmt ")
    with pytest.raises(NotImplementedError):
        multimodal.real_decoder_stub(b"\x1aE\xdf\xa3 webm-ish")
    with pytest.raises(NotImplementedError):
        multimodal.real_decoder_stub(b"ID3\x04 mp3-ish")


def _encode_png(pixels, channels: int, filters=None) -> bytes:
    """Minimal PNG writer for the decoder test (independent of the
    decoder: struct + zlib straight from the spec). pixels: list of
    rows, each a flat list of channel bytes. `filters` selects the
    per-scanline filter byte (default 0 = None)."""
    import struct
    import zlib

    height = len(pixels)
    width = len(pixels[0]) // channels
    ctype = {1: 0, 2: 4, 3: 2, 4: 6}[channels]

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data))
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, ctype, 0, 0, 0)
    raw = bytearray()
    prev = [0] * (width * channels)
    for y, row in enumerate(pixels):
        f = (filters or [0] * height)[y]
        raw.append(f)
        if f == 0:
            raw.extend(row)
        elif f == 2:  # Up
            raw.extend((row[i] - prev[i]) & 0xFF for i in range(len(row)))
        elif f == 1:  # Sub
            raw.extend(
                (row[i] - (row[i - channels] if i >= channels else 0)) & 0xFF
                for i in range(len(row))
            )
        else:
            raise ValueError("test encoder supports filters 0/1/2")
        prev = row
    return (
        multimodal.PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_png_decoder_roundtrip_and_feature_parity(spark):
    """Ask: retire the decoder stub with a REAL pure-stdlib decode.
    Round-trips grayscale and RGB PNGs (filters 0/1/2) bit-exactly and
    drives extract_media_features end-to-end through mapInPandas."""
    import numpy as np

    gray = [[(x * 7 + y * 13) % 256 for x in range(6)] for y in range(5)]
    rgb_rows = [
        [((x * 3 + c + y) * 11) % 256 for x in range(4) for c in range(3)]
        for y in range(4)
    ]
    png_gray = _encode_png(gray, 1, filters=[0, 1, 2, 1, 0])
    png_rgb = _encode_png(rgb_rows, 3, filters=[0, 2, 2, 1])

    w, h, ch, px = multimodal.decode_png(png_gray)
    assert (w, h, ch) == (6, 5, 1)
    assert px.reshape(5, 6).tolist() == gray
    w, h, ch, px = multimodal.decode_png(png_rgb)
    assert (w, h, ch) == (4, 4, 3)
    assert px.reshape(4, -1).tolist() == rgb_rows

    # end-to-end through the Arrow mapInPandas plumbing with the REAL
    # decoder injected (and via real_decoder_stub's PNG branch)
    df = spark.createDataFrame(
        [(1, png_gray), (2, png_rgb), (3, None)], "media_id long, blob binary"
    )
    out = multimodal.extract_media_features(
        df, "media_id", "blob", n_features=4,
        decoder=multimodal.make_png_decoder(4),
    )
    got = {r["media_id"]: r["features"] for r in out.collect()}
    flat = np.array(gray, dtype=np.float64).ravel()
    want = [float(c.mean()) for c in np.array_split(flat, 4)]
    assert got[1] == pytest.approx(want)
    assert got[3] is None
    assert got[2] == pytest.approx(multimodal.make_png_decoder(4)(png_rgb))
    # real_decoder_stub's PNG branch decodes for real (default width 8)
    assert len(multimodal.real_decoder_stub(png_rgb)) == 8


def test_detect_lang(spark):
    rows = [
        (1, "the cat and the dog of the house is big"),
        (2, "der Hund und die Katze ist das Tier"),
        (3, "le chat et la maison est les grands"),
        (4, "xyzzy plugh"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r["id"]: r["lang"] for r in df.select("id", detect_lang(F.col("text")).alias("lang")).collect()}
    assert got[1] == "en" and got[2] == "de" and got[3] == "fr" and got[4] == "und"


def test_quality_scores(spark):
    df = spark.createDataFrame([(1, "The quick, brown fox! It runs.")], "id long, text string")
    cols = quality_score_cols(F.col("text"))
    row = df.select(*[v.alias(k) for k, v in cols.items()]).collect()[0]
    assert row["n_chars"] == 30
    assert row["n_tokens"] == 6
    assert row["punct_ratio"] == pytest.approx(3 / 30)
    assert row["upper_ratio"] == pytest.approx(2 / 30)


def test_scalar_functions(spark):
    df = spark.createDataFrame(
        [("secret", "a@b.co", "Aa1!aaaa", "  MiXed  ", "10.0.0.1, 2.2.2.2", "10.0.0.1", "h")],
        "pw string, email string, strong string, messy string, fwd string, real string, host string",
    )
    row = df.select(
        scalar.hash_password(F.col("pw")).alias("h"),
        scalar.validate_email_format(F.col("email")).alias("e"),
        scalar.validate_password_strength(F.col("strong")).alias("s"),
        scalar.normalize(F.col("messy")).alias("n"),
        scalar.client_ip(F.col("fwd"), F.col("real"), F.col("host")).alias("ip"),
        scalar.valid_ipv4(F.lit("256.1.1.1")).alias("bad_ip"),
        scalar.valid_ipv4(F.lit("192.168.0.1")).alias("good_ip"),
        scalar.extract_device_info(F.lit("Mozilla (Windows NT 10.0; Win64)")).alias("dev"),
        scalar.coerce_positive_long(F.lit("-3")).alias("neg"),
        scalar.coerce_positive_long(F.lit("42")).alias("pos"),
        # malformed string must quarantine as NULL, not throw (ANSI mode)
        scalar.coerce_positive_long(F.lit("x12")).alias("malformed"),
    ).collect()[0]
    import hashlib

    assert row["h"] == hashlib.sha256(b"secret").hexdigest()
    assert row["e"] is True
    assert row["s"] is True
    assert row["n"] == "mixed"
    assert row["ip"] == "10.0.0.1"
    assert row["bad_ip"] is False and row["good_ip"] is True
    assert row["dev"] == "Windows 10"
    assert row["neg"] is None and row["pos"] == 42
    assert row["malformed"] is None


def test_multimodal_resize_plumbing(spark):
    from tiger_etl_spark.operators import multimodal

    rows = [(1, bytes(range(100))), (2, b""), (3, None)]
    df = spark.createDataFrame(rows, "media_id long, blob binary")
    out = multimodal.resize_media(df, "media_id", "blob", width=4, height=2)
    got = {r.media_id: (bytes(r.resized) if r.resized is not None else None) for r in out.collect()}
    assert len(got[1]) == 8
    assert got[1] == multimodal._fake_resize(bytes(range(100)), 4, 2)
    assert got[2] == bytes(8)  # empty blob -> zero frame
    assert got[3] is None


def test_multimodal_frame_sampling_fans_out(spark):
    from tiger_etl_spark.operators import multimodal

    blob = bytes(range(90))
    df = spark.createDataFrame([(7, blob), (8, None)], "media_id long, blob binary")
    out = multimodal.sample_frames(df, "media_id", "blob", n_frames=3).collect()
    by_idx = {(r.media_id, r.frame_idx): bytes(r.frame) for r in out}
    assert len(out) == 3  # null blob contributes no frames
    assert by_idx[(7, 0)] == blob[:30] and by_idx[(7, 2)] == blob[60:]


def test_iso_format_serialization(spark):
    """F9 — ISO-8601 with UTC offset, matching Python isoformat()."""
    import datetime as dt

    from tiger_etl_spark.functions import scalar

    df = spark.createDataFrame(
        [(dt.datetime(2024, 3, 5, 14, 30, 9),)], "ts timestamp"
    )
    [row] = df.select(scalar.iso_format(F.col("ts")).alias("iso")).collect()
    assert row.iso == "2024-03-05T14:30:09Z"  # session tz is UTC


def test_duplicate_clusters_match_union_find(spark):
    """Connected components vs a plain union-find replay on a random
    pair set (chains, triangles, singial pairs)."""
    import random

    rng = random.Random(99)
    pairs = set()
    while len(pairs) < 40:
        a, b = rng.randrange(60), rng.randrange(60)
        if a != b:
            pairs.add((min(a, b), max(a, b)))
    parent = list(range(60))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    members = {x for p in pairs for x in p}
    expected = {x: find(x) for x in members}

    df = spark.createDataFrame(sorted(pairs), "id_a long, id_b long")
    # small-graph regime (driver union-find — the default here)
    got = {
        r.doc_id: r.cluster_id for r in dedup.duplicate_clusters(df).collect()
    }
    assert got == expected
    # force the distributed min-label-propagation regime on the same
    # graph — must agree exactly
    got_dist = {
        r.doc_id: r.cluster_id
        for r in dedup.duplicate_clusters(df, small_graph_threshold=0).collect()
    }
    assert got_dist == expected


def test_pii_scan_and_redaction(spark):
    from tiger_etl_spark.functions.text import pii_counts, redact_pii

    rows = [
        (1, "mail a@b.co or c.d+x@e-f.org, call 555-123-4567, ip 10.0.0.1"),
        (2, "clean text with version 1.2 and a dot."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    counts = pii_counts(F.col("text"))
    out = df.select(
        "doc_id",
        counts["n_email"].alias("e"),
        counts["n_phone"].alias("p"),
        counts["n_ipv4"].alias("i"),
        redact_pii(F.col("text")).alias("red"),
    ).collect()
    by_id = {r.doc_id: r for r in out}
    assert (by_id[1].e, by_id[1].p, by_id[1].i) == (2, 1, 1)
    assert by_id[1].red == "mail <EMAIL> or <EMAIL>, call <PHONE>, ip <IP>"
    assert (by_id[2].e, by_id[2].p, by_id[2].i) == (0, 0, 0)
    assert by_id[2].red == rows[1][1]


def test_repetition_metrics(spark):
    from tiger_etl_spark.functions.text import repetition_metrics

    rows = [
        (1, "a a a b"),          # top 'a'=3/4, distinct 2/4, bigrams: [a a, a a, a b] -> 2/3 distinct
        (2, ""),                  # empty doc
        (3, "x y z"),            # all distinct
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in repetition_metrics(df, "doc_id", "text").collect()}
    assert got[1].n_words == 4
    assert abs(got[1].top_word_frac - 0.75) < 1e-9
    assert abs(got[1].distinct_word_ratio - 0.5) < 1e-9
    assert abs(got[1].dup_bigram_frac - (1 - 2 / 3)) < 1e-9
    assert got[2].n_words == 0 and got[2].top_word_frac == 0.0
    assert got[3].distinct_word_ratio == 1.0 and got[3].dup_bigram_frac == 0.0

    # ppm mode: integer floor-division parts-per-million, BIGINT columns.
    ppm = {
        r.doc_id: r
        for r in repetition_metrics(df, "doc_id", "text", ppm=True).collect()
    }
    assert ppm[1].n_words == 4
    assert ppm[1].top_word_ppm == 750_000
    assert ppm[1].distinct_word_ppm == 500_000
    assert ppm[1].dup_bigram_ppm == 1_000_000 // 3  # floor(1/3 * 1e6)
    assert ppm[2].n_words == 0 and ppm[2].top_word_ppm == 0
    assert ppm[3].distinct_word_ppm == 1_000_000 and ppm[3].dup_bigram_ppm == 0
    sch = dict(
        repetition_metrics(df, "doc_id", "text", ppm=True).dtypes
    )
    assert sch["distinct_word_ppm"] == "bigint"
    assert sch["top_word_ppm"] == "bigint"
    assert sch["dup_bigram_ppm"] == "bigint"


def test_word_shingles_short_docs_yield_empty(spark):
    """Regression: sequence(1, 0) steps downward in Spark — docs with
    fewer than k words must produce an empty shingle array, not an
    invalid slice(0) error."""
    df = spark.createDataFrame(
        [(1, "one two"), (2, "one"), (3, ""), (4, "a b c")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.sh
        for r in df.select(
            "doc_id", dedup.word_shingles(F.col("text"), 3).alias("sh")
        ).collect()
    }
    assert got[1] == [] and got[2] == [] and got[3] == []
    assert got[4] == ["a b c"]


def test_contamination_overlap(spark):
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),   # shares shingles with bench
            (2, "completely different words here now"),
            (3, "hi"),                          # < k words -> 0 shingles
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "the quick brown fox runs away")], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_shingles, round(r.overlap, 6))
        for r in dedup.contamination_overlap(
            corpus, bench, "doc_id", "text", k=3
        ).collect()
    }
    # doc1 shingles: {the quick brown, quick brown fox, brown fox jumps};
    # bench contains the first two -> 2/3
    assert got[1] == (3, round(2 / 3, 6))
    assert got[2] == (3, 0.0)
    assert got[3] == (0, 0.0)


def test_asof_join_backward_semantics(spark):
    from tiger_etl_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("k", 10, 100), ("k", 5, 101), ("k", 2, 102), ("j", 7, 103)],
        "key string, ts long, lid long",
    )
    right = spark.createDataFrame(
        [
            ("k", 3, 1, 30.0),
            ("k", 5, 2, 50.0),   # equal-ts -> inclusive match for left ts=5
            ("k", 5, 9, 55.0),   # tie at ts=5 -> max rid (9) wins
            ("k", 8, 3, 80.0),
        ],
        "key string, ts long, rid long, rv double",
    )
    got = {
        r.lid: (r.a_rid, r.a_rv)
        for r in asof_join(
            left, right, on=["key"], ts_col="ts", value_cols=["rid", "rv"],
            tiebreak_cols=["rid"], prefix="a_",
        ).collect()
    }
    assert got[100] == (3, 80.0)     # ts=10 -> latest right at ts=8
    assert got[101] == (9, 55.0)     # ts=5 inclusive; tie at 5 -> max rid
    assert got[102] == (None, None)  # ts=2 precedes every right row
    assert got[103] == (None, None)  # key j has no right rows at all


def test_asof_join_no_match_is_null(spark):
    from tiger_etl_spark.operators.asof import asof_join

    left = spark.createDataFrame([("k", 2, 1)], "key string, ts long, lid long")
    right = spark.createDataFrame([("k", 3, 7, 1.0)], "key string, ts long, rid long, rv double")
    [row] = asof_join(
        left, right, on=["key"], ts_col="ts", value_cols=["rid"],
        tiebreak_cols=["rid"],
    ).collect()
    assert row.asof_rid is None


def test_time_range_join_matches_bruteforce(spark):
    import random

    from tiger_etl_spark.operators.rangejoin import time_range_join

    rng = random.Random(5)
    lrows = [("k%d" % rng.randrange(3), rng.randrange(1000), i) for i in range(40)]
    rrows = [("k%d" % rng.randrange(3), rng.randrange(1000), 100 + i) for i in range(60)]
    left = spark.createDataFrame(lrows, "key string, lts long, lid long")
    right = spark.createDataFrame(rrows, "key string, rts long, rid long")
    got = {
        (r.lid, r.rid)
        for r in time_range_join(
            left, right, ["key"], "lts", "rts", lower=10, upper=75
        ).collect()
    }
    expected = {
        (lid, rid)
        for (lk, lts, lid) in lrows
        for (rk, rts, rid) in rrows
        if lk == rk and lts + 10 <= rts <= lts + 75
    }
    assert got == expected and expected  # non-trivial match set

    # left join keeps unmatched left rows with null right columns
    lj = time_range_join(
        left, right, ["key"], "lts", "rts", lower=10, upper=75, how="left"
    )
    assert {r.lid for r in lj.collect()} == {lid for (_, _, lid) in lrows}


def test_topk_per_key_matches_naive_on_hot_key(spark):
    """The salted two-phase per-key top-K must return exactly the naive
    per-key top-K — including on a hot key holding 3/4 of all rows —
    with ranks 1..K in order."""
    from tiger_etl_spark.operators.windows import topk_per_key

    rows = [("hot", i, (i * 37) % 100) for i in range(150)]
    rows += [(f"k{j}", 1000 + j * 10 + i, (i * 13) % 50) for j in range(5) for i in range(8)]
    df = spark.createDataFrame(rows, "key string, id long, score long")
    got = topk_per_key(
        df,
        ["key"],
        [F.col("score").desc(), F.col("id")],
        k=5,
        salt_on=F.col("id"),
        n_salts=4,
    ).collect()
    expected = {}
    for key, i, s in rows:
        expected.setdefault(key, []).append((-s, i))
    exp_rows = set()
    for key, items in expected.items():
        for rank, (negs, i) in enumerate(sorted(items)[:5], start=1):
            exp_rows.add((key, i, -negs, rank))
    assert {(r.key, r.id, r.score, r.rank) for r in got} == exp_rows


def test_canonicalize_url(spark):
    """Crawl dedup-by-url: case, default ports, fragments, tracking
    params, param order and trailing slashes must all collapse to one
    canonical key; malformed input falls back to the trimmed original."""
    cases = {
        "HTTP://Ex.com/a?utm_x=1&b=2#f": "http://ex.com/a?b=2",
        "http://ex.com/a?b=2": "http://ex.com/a?b=2",
        "https://Ex.COM:443/path/": "https://ex.com/path",
        "http://ex.com:80/": "http://ex.com/",
        "http://ex.com": "http://ex.com/",
        "https://ex.com/p?z=1&a=2&utm_source=x&fbclid=9": "https://ex.com/p?a=2&z=1",
        "not a url": "not a url",
        "http://ex.com/deep/path/?gclid=1": "http://ex.com/deep/path",
        # NON-default ports are a different origin — they must survive
        "http://ex.com:8080/a": "http://ex.com:8080/a",
        "https://Ex.com:8443/": "https://ex.com:8443/",
        # a default port for the OTHER scheme is not default here
        "https://ex.com:80/x": "https://ex.com:80/x",
        "http://user@ex.com:80/x": "http://ex.com/x",
    }
    df = spark.createDataFrame([(k,) for k in cases], "url string")
    got = {
        r.url: r.canon
        for r in df.select(
            "url", scalar.canonicalize_url(F.col("url")).alias("canon")
        ).collect()
    }
    assert got == cases


def test_asof_join_newest_right_row_wins_even_when_null(spark):
    """The most recent right row's value must be taken ATOMICALLY —
    a newest row with v=NULL yields NULL (not a stale older v), and two
    value columns never stitch together from different right rows."""
    from tiger_etl_spark.operators.asof import asof_join

    right = spark.createDataFrame(
        [(1, 1, 5, "x"), (1, 2, None, "y")],
        "k long, ts long, v long, w string",
    )
    left = spark.createDataFrame([(1, 3)], "k long, ts long")
    out = asof_join(
        left, right, on=["k"], ts_col="ts", value_cols=["v", "w"]
    ).collect()
    assert len(out) == 1
    assert out[0]["asof_v"] is None  # newest row's NULL, not stale 5
    assert out[0]["asof_w"] == "y"  # both values from the SAME row


def test_time_range_join_left_null_columns_not_duplicated(spark):
    """A matched left row containing NULLs must not also appear
    null-padded in the 'unmatched' arm (null-safe anti probe)."""
    from tiger_etl_spark.operators.rangejoin import time_range_join

    left = spark.createDataFrame(
        [(1, 10, None), (2, 10, "b")], "k long, lts long, extra string"
    )
    right = spark.createDataFrame([(1, 12)], "k long, rts long")
    out = time_range_join(
        left, right, on=["k"], ts_left="lts", ts_right="rts",
        lower=0, upper=5, how="left",
    ).collect()
    assert len(out) == 2  # one matched (k=1), one unmatched (k=2)
    k1 = [r for r in out if r["k"] == 1]
    assert len(k1) == 1 and k1[0]["rts"] == 12


def test_duplicate_clusters_raises_on_nonconvergence(spark):
    from tiger_etl_spark.operators.dedup import duplicate_clusters

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        duplicate_clusters(
            chain, max_iter=2, small_graph_threshold=0
        )


def test_nfc_normalize_three_way_parity(spark):
    """functions/text.py nfc_normalize_udf: the vectorized pandas kernel,
    the CPython unicodedata oracle and DuckDB's utf8proc nfc_normalize
    must agree byte-for-byte — three independent NFC implementations."""
    import duckdb
    from pyspark.sql import functions as F

    from tiger_etl_spark.functions.text import (
        nfc_normalize_py,
        nfc_normalize_udf,
    )

    cases = [
        "Cafe" + chr(0x0301),                    # decomposed acute
        "caf" + chr(0x00E9),                     # already composed
        "A" + chr(0x030A) + "ngstro" + chr(0x0308) + "m",
        "Hangul: " + chr(0x1100) + chr(0x1161),  # jamo -> syllable
        chr(0x212B),                             # ANGSTROM SIGN (NFC keeps it)
        "plain ascii",
        "",
        None,
    ]
    df = spark.createDataFrame([(c,) for c in cases], "t string")
    got = [
        r["n"]
        for r in df.select(nfc_normalize_udf(F.col("t")).alias("n"))
        .collect()
    ]
    want = [nfc_normalize_py(c) for c in cases]
    assert got == want
    con = duckdb.connect()
    for c, w in zip(cases, want):
        if c is None:
            continue
        d = con.execute("select nfc_normalize(?)", [c]).fetchone()[0]
        assert d == w, (c.encode(), d.encode(), w.encode())


def test_gopher_quality_rules(spark):
    """functions/text.py gopher_quality_cols: the Gopher §A1.1 rule set
    on planted documents — empty doc fails everything with NULL ratios,
    a bullet-list page trips the bullet gate, an ellipsis-spam page
    trips the ellipsis gate, and a normal 60-word doc passes all."""
    from pyspark.sql import functions as F

    from tiger_etl_spark.functions.text import gopher_quality_cols

    normal = " ".join(f"word{i}" for i in range(60))
    bullets = "\n".join(f"- item {i}" for i in range(10))
    ellipses = "\n".join(f"line {i}..." for i in range(10))
    nonalpha = " ".join(str(i) for i in range(80))
    cases = [
        (1, normal),
        (2, ""),
        (3, bullets),
        (4, ellipses),
        (5, nonalpha),
        (6, "short doc"),
    ]
    df = spark.createDataFrame(cases, "id long, t string")
    cols = gopher_quality_cols(F.col("t"))
    got = {
        r["id"]: r
        for r in df.select(
            "id", *[c.alias(n) for n, c in cols.items()]
        ).collect()
    }
    ok = got[1]
    assert ok["n_words"] == 60 and ok["n_lines"] == 1
    assert all(
        ok[f]
        for f in (
            "flag_word_count", "flag_mean_word_len", "flag_alpha_words",
            "flag_bullet_lines", "flag_ellipsis_lines",
        )
    )
    empty = got[2]
    assert empty["n_words"] == 0
    assert empty["mean_word_len_ppm"] is None
    assert not empty["flag_word_count"]
    assert not empty["flag_alpha_words"]
    b = got[3]
    assert b["bullet_line_ppm"] == 1_000_000
    assert not b["flag_bullet_lines"]
    e = got[4]
    assert e["ellipsis_line_ppm"] == 1_000_000
    assert not e["flag_ellipsis_lines"]
    na = got[5]
    assert na["alpha_word_ppm"] == 0
    assert not na["flag_alpha_words"]
    assert na["flag_word_count"]  # 80 words is in range
    s = got[6]
    assert s["n_words"] == 2 and not s["flag_word_count"]


def test_compression_ratio_signal(spark):
    """compression_ratio_ppm_udf: repetitive text compresses far below
    natural-looking diverse text; NULL/empty yield NULL; deterministic
    across calls (fixed zlib level)."""
    import random

    from pyspark.sql import functions as F

    from tiger_etl_spark.functions.text import compression_ratio_ppm_udf

    rng = random.Random(7)
    diverse = " ".join(
        "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(8))
        for _ in range(300)
    )
    repetitive = "click here to subscribe " * 300
    cases = [(1, diverse), (2, repetitive), (3, None), (4, "")]
    df = spark.createDataFrame(cases, "id long, t string")
    sel = df.select(
        "id", compression_ratio_ppm_udf(F.col("t")).alias("r")
    )
    got = {r["id"]: r["r"] for r in sel.collect()}
    assert got[3] is None and got[4] is None
    assert got[2] < 100_000          # boilerplate: compresses >10x
    assert got[1] > 400_000          # random-ish text barely compresses
    assert got[2] < got[1] / 4
    again = {r["id"]: r["r"] for r in sel.collect()}
    assert again == got


def test_script_mix_routing(spark):
    """script_mix_cols: per-script counts and dominant-script label on
    planted single- and mixed-script docs; empty/no-script -> 'other';
    ties break in SCRIPT_RANGES order."""
    from pyspark.sql import functions as F

    from tiger_etl_spark.functions.text import script_mix_cols

    cyr = "".join(chr(c) for c in range(0x0430, 0x0438))
    cjk = "".join(chr(c) for c in range(0x4E00, 0x4E06))
    cases = [
        (1, "plain latin words"),
        (2, cyr),
        (3, cjk + " tiny"),
        (4, "12345 ... !!"),
        (5, ""),
        (6, "ab " + cyr[:2]),  # 2 latin vs 2 cyrillic -> tie -> latin first
    ]
    df = spark.createDataFrame(cases, "id long, t string")
    cols = script_mix_cols(F.col("t"))
    got = {
        r["id"]: r
        for r in df.select("id", *[c.alias(n) for n, c in cols.items()]).collect()
    }
    assert got[1]["script"] == "latin" and got[1]["n_latin"] == 15
    assert got[2]["script"] == "cyrillic" and got[2]["n_cyrillic"] == 8
    assert got[3]["script"] == "cjk" and got[3]["n_latin"] == 4
    assert got[4]["script"] == "other"
    assert got[5]["script"] == "other"
    assert got[6]["script"] == "latin"


def test_cdc_snapshot_diff_semantics(spark, tmp_path):
    """Hand-computed I/U/D tagging for the CDF-style snapshot diff
    (__spark_entry__.cdc_snapshot_diff): LWW state at 1/3 and 2/3 of the
    span, net-effect diff carrying the newer winner."""
    import datetime

    import __spark_entry__ as entrymod

    t0 = datetime.datetime(2026, 1, 1)

    def ts(m):
        return t0 + datetime.timedelta(minutes=m)

    # span 0..90 min -> t1 = 30, t2 = 60 (integer-us thirds, exact)
    rows = [
        # u_keep: winner unchanged after t1 -> no row
        ("u_keep", ts(0), 1, "click", 1.0),
        ("u_span", ts(90), 2, "view", 2.0),      # pins hi; also U (below)
        ("u_span", ts(10), 3, "click", 3.0),
        # u_ins: first event in (t1, t2] -> I
        ("u_ins", ts(45), 4, "view", 4.0),
        # u_del: live at t1, error wins by t2 -> D
        ("u_del", ts(5), 5, "click", 5.0),
        ("u_del", ts(50), 6, "error", 6.0),
        # u_upd: live at t1, newer live winner by t2 -> U
        ("u_upd", ts(20), 7, "click", 7.0),
        ("u_upd", ts(55), 8, "purchase", 8.0),
        # u_late: first event after t2 -> invisible to both states
        ("u_late", ts(80), 9, "click", 9.0),
        # u_dead: deleted at t1 AND t2 -> no row
        ("u_dead", ts(1), 10, "error", 10.0),
        ("u_min", ts(0), 11, "click", 11.0),     # pins lo; unchanged
    ]
    df = spark.createDataFrame(
        rows, "user_id string, ts timestamp, event_id long, "
        "event_type string, value double"
    )
    sf_dir = str(tmp_path)
    df.write.parquet(f"{sf_dir}/events.parquet")
    got = {
        r["user_id"]: r
        for r in entrymod.cdc_snapshot_diff(spark, sf_dir).collect()
    }
    # u_span: its ts(90) event pins hi but lies beyond t2, so its winner
    # at t1 and t2 is the same ts(10) event -> unchanged, no row
    assert set(got) == {"u_ins", "u_del", "u_upd"}
    assert got["u_ins"]["_change_op"] == "I" and got["u_ins"]["event_id"] == 4
    assert got["u_del"]["_change_op"] == "D" and got["u_del"]["event_id"] == 6
    assert got["u_upd"]["_change_op"] == "U" and got["u_upd"]["event_id"] == 8


def test_jpeg_codec_spec_roundtrips():
    """Baseline greyscale JPEG: flat image decodes exactly; a smooth
    gradient at non-multiple-of-8 dims survives Annex-K quantization
    within tight bounds; a RANDOM image with a unit quant table
    round-trips within ±1 (pure FDCT/IDCT+rounding error) while
    exercising huffman/RLE and 0xFF byte stuffing; a crafted
    high-frequency block drives the ZRL (16-zero-run) path."""
    import numpy as np

    flat = np.full((64, 64), 130, dtype=np.uint8)
    w, h, out = multimodal.decode_jpeg_gray(jpeg_encode.encode_jpeg_gray(flat))
    assert (w, h) == (64, 64)
    assert int(np.abs(out.astype(int) - 130).max()) == 0

    yy, xx = np.mgrid[0:40, 0:48]
    grad = (yy * 2 + xx).clip(0, 255).astype(np.uint8)
    w, h, out = multimodal.decode_jpeg_gray(jpeg_encode.encode_jpeg_gray(grad))
    assert (w, h) == (48, 40)
    err = np.abs(out.astype(int) - grad.astype(int))
    assert err.max() <= 4 and err.mean() <= 2.0

    rng = np.random.default_rng(7)
    noise = rng.integers(0, 256, (56, 72), dtype=np.uint8)
    blob = jpeg_encode.encode_jpeg_gray(noise, quant=np.ones(64, dtype=np.int64))
    assert b"\xff\x00" in blob  # byte stuffing actually exercised
    w, h, out = multimodal.decode_jpeg_gray(blob)
    assert (w, h) == (72, 56)
    assert int(np.abs(out.astype(int) - noise.astype(int)).max()) <= 1

    # ZRL: block whose only nonzero AC coefficient is the LAST zigzag
    # entry -> three 16-zero runs before the symbol
    coef = np.zeros((8, 8))
    coef[0, 0] = 16.0
    coef[7, 7] = 40.0
    px = np.clip(
        np.round(multimodal._DCT_A.T @ coef @ multimodal._DCT_A + 128.0), 0, 255
    ).astype(np.uint8)
    blob = jpeg_encode.encode_jpeg_gray(px, quant=np.ones(64, dtype=np.int64))
    w, h, out = multimodal.decode_jpeg_gray(blob)
    assert int(np.abs(out.astype(int) - px.astype(int)).max()) <= 1


def test_jpeg_decoder_rejects_out_of_scope():
    import numpy as np
    import pytest as _pt

    with _pt.raises(ValueError, match="bad SOI"):
        multimodal.decode_jpeg_gray(b"\x89PNG\r\n\x1a\n")
    # a baseline stream mislabeled as SOF2 routes to the progressive
    # decoder and must raise on the malformed scan header (a baseline
    # SOS has Se=63, illegal for a progressive DC scan) — never
    # silently misdecode
    blob = bytearray(
        jpeg_encode.encode_jpeg_gray(np.zeros((8, 8), dtype=np.uint8))
    )
    i = blob.index(b"\xff\xc0")
    blob[i + 1] = 0xC2
    with _pt.raises(ValueError, match="Se=0"):
        multimodal.decode_jpeg_gray(bytes(blob))
    # genuinely out-of-scope frame types (lossless SOF3) still reject
    blob[i + 1] = 0xC3
    with _pt.raises(ValueError, match="baseline"):
        multimodal.decode_jpeg_gray(bytes(blob))


def test_jpeg_feature_hook_end_to_end(spark):
    """extract_media_features with the real JPEG decoder through Arrow
    mapInPandas, plus real_decoder_stub's format dispatch."""
    import numpy as np

    yy, xx = np.mgrid[0:16, 0:16]
    img = (yy * 8 + xx).clip(0, 255).astype(np.uint8)
    blob = jpeg_encode.encode_jpeg_gray(img)
    df = spark.createDataFrame(
        [(1, blob), (2, None)], "media_id long, blob binary"
    )
    out = multimodal.extract_media_features(
        df, "media_id", "blob", n_features=4,
        decoder=multimodal.make_jpeg_decoder(4),
    )
    got = {r["media_id"]: r["features"] for r in out.collect()}
    assert got[2] is None
    _, _, px = multimodal.decode_jpeg_gray(blob)
    flat = px.astype(np.float64).ravel()
    want = [float(c.mean()) for c in np.array_split(flat, 4)]
    assert got[1] == pytest.approx(want)
    # dispatch: JPEG magic routes to the real decoder (8 features)
    assert multimodal.real_decoder_stub(blob) == pytest.approx(
        multimodal.make_jpeg_decoder(8)(blob)
    )


def test_jpeg_color_roundtrips():
    """Baseline color JPEG: 4:4:4 and 4:2:0 interleaved-MCU streams
    round-trip a smooth RGB image within Annex-K quantization + chroma
    subsampling bounds; a RANDOM RGB image under unit quant tables
    round-trips within the color-transform rounding envelope (±3) —
    i.e. the entropy coding, MCU interleave and YCbCr conversion are
    exact, only quantization loses information."""
    import numpy as np

    yy, xx = np.mgrid[0:40, 0:48]
    rgb = np.stack(
        [(yy * 2 + xx).clip(0, 255), (xx * 3).clip(0, 255), (yy * 4).clip(0, 255)],
        axis=-1,
    ).astype(np.uint8)
    for sub, tol_max, tol_mean in (("444", 10, 3.0), ("420", 16, 4.0)):
        blob = jpeg_encode.encode_jpeg(rgb, sub)
        w, h, ch, out = multimodal.decode_jpeg(blob)
        assert (w, h, ch) == (48, 40, 3)
        err = np.abs(out.astype(int) - rgb.astype(int))
        assert err.max() <= tol_max and err.mean() <= tol_mean, (sub, err.max())
    # 4:2:0 must actually subsample (smaller stream than 4:4:4)
    assert len(jpeg_encode.encode_jpeg(rgb, "420")) < len(
        jpeg_encode.encode_jpeg(rgb, "444")
    )

    rng = np.random.default_rng(3)
    noise = rng.integers(0, 256, (24, 40, 3), dtype=np.uint8)
    ones = np.ones(64, dtype=np.int64)
    blob = jpeg_encode.encode_jpeg(noise, "444", quant_luma=ones, quant_chroma=ones)
    _, _, _, out = multimodal.decode_jpeg(blob)
    assert int(np.abs(out.astype(int) - noise.astype(int)).max()) <= 3
    # color stream through the featurize hook + dispatch
    feats = multimodal.real_decoder_stub(blob)
    assert len(feats) == 8
    assert feats == pytest.approx(multimodal.make_jpeg_decoder(8)(blob))


def test_jpeg_codec_fuzz_roundtrip():
    """Seeded fuzz over dimensions (including 1-pixel and prime,
    non-multiple-of-8 edges), content, and subsampling: every encoded
    stream decodes to the right shape; unit-quant greyscale stays ±1;
    color stays within the fixed color-transform envelope; truncating
    the stream anywhere raises ValueError — never garbage output."""
    import numpy as np

    rng = np.random.default_rng(11)
    ones = np.ones(64, dtype=np.int64)
    for trial in range(12):
        h = int(rng.integers(1, 40))
        w = int(rng.integers(1, 40))
        if trial % 3 == 0:
            img = rng.integers(0, 256, (h, w), dtype=np.uint8)
            blob = jpeg_encode.encode_jpeg_gray(img, quant=ones)
            dw, dh, out = multimodal.decode_jpeg_gray(blob)
            assert (dw, dh) == (w, h)
            assert int(np.abs(out.astype(int) - img.astype(int)).max()) <= 1
        else:
            sub = "420" if trial % 3 == 1 else "444"
            img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
            blob = jpeg_encode.encode_jpeg(
                img, sub, quant_luma=ones, quant_chroma=ones
            )
            dw, dh, ch, out = multimodal.decode_jpeg(blob)
            assert (dw, dh, ch) == (w, h, 3)
            if sub == "444":
                assert int(np.abs(out.astype(int) - img.astype(int)).max()) <= 3
    # truncation never yields silent garbage: every prefix either raises
    # ValueError (clean, catchable) or still decodes to the right shape
    # (cut fell after the last needed entropy byte)
    img = rng.integers(0, 256, (17, 23), dtype=np.uint8)
    blob = jpeg_encode.encode_jpeg_gray(img)
    for cut in range(3, len(blob), 7):
        try:
            dw, dh, ch, out = multimodal.decode_jpeg(blob[:cut])
        except ValueError:
            continue
        assert (dw, dh, ch) == (23, 17, 1) and out.shape == (17, 23, 1)


def test_jpeg_fill_bytes_and_standalone_markers():
    """T.81 B.1.1.2 tolerance: 0xFF fill bytes may precede any marker,
    and standalone length-less markers (TEM, stray RSTn) may appear
    between header segments — compliant third-party encoders emit both,
    and the decoder must skip them rather than misparse a bogus
    segment length."""
    import numpy as np

    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (16, 16), dtype=np.uint8)
    blob = jpeg_encode.encode_jpeg_gray(img)
    want = multimodal.decode_jpeg(blob)
    for inject in (b"\xff", b"\xff\xff\xff", b"\xff\x01", b"\xff\xd3",
                   b"\xff\xff\x01\xff"):
        tweaked = blob[:2] + inject + blob[2:]
        got = multimodal.decode_jpeg(tweaked)
        assert got[:3] == want[:3]
        assert np.array_equal(got[3], want[3])


def test_jpeg_progressive_pixel_identical_to_baseline():
    """Progressive (SOF2, Annex G) spec pin: encode_jpeg_progressive
    transmits the same quantized coefficients as the baseline encoder,
    so decoding both streams must give IDENTICAL pixels — this covers
    DC successive approximation, AC spectral-selection bands, EOB runs,
    and AC refinement correction bits end to end."""
    import numpy as np

    yy, xx = np.mgrid[0:24, 0:17]
    grey = ((yy * 5 + xx * 3) % 256).astype(np.uint8)
    rng = np.random.default_rng(31)
    rgb = rng.integers(0, 256, (19, 26, 3), dtype=np.uint8)
    cases = [
        (jpeg_encode.encode_jpeg(grey), jpeg_encode.encode_jpeg_progressive(grey)),
        (
            jpeg_encode.encode_jpeg(rgb, "444"),
            jpeg_encode.encode_jpeg_progressive(rgb, "444"),
        ),
        (
            jpeg_encode.encode_jpeg(rgb, "420"),
            jpeg_encode.encode_jpeg_progressive(rgb, "420"),
        ),
    ]
    for base, prog in cases:
        rb = multimodal.decode_jpeg(base)
        rp = multimodal.decode_jpeg(prog)  # SOF2 routes to Annex G
        assert rb[:3] == rp[:3]
        assert np.array_equal(rb[3], rp[3])
    # dense-coefficient case (ones quant): exercises long runs, ZRL in
    # refinement, and every correction-bit placement
    ones = np.ones(64, dtype=np.int64)
    noise = rng.integers(0, 256, (16, 24), dtype=np.uint8)
    rb = multimodal.decode_jpeg(jpeg_encode.encode_jpeg(noise, quant_luma=ones))
    rp = multimodal.decode_jpeg(
        jpeg_encode.encode_jpeg_progressive(noise, quant_luma=ones)
    )
    assert np.array_equal(rb[3], rp[3])
    # the progressive entry point requires SOF2
    with pytest.raises(ValueError, match="SOF2"):
        multimodal.decode_jpeg_progressive(jpeg_encode.encode_jpeg(grey))


def test_jpeg_progressive_fuzz_and_truncation():
    import numpy as np

    rng = np.random.default_rng(57)
    for trial in range(6):
        w, h = int(rng.integers(8, 34)), int(rng.integers(8, 34))
        if trial % 3 == 0:
            img = rng.integers(0, 256, (h, w), dtype=np.uint8)
            base = jpeg_encode.encode_jpeg(img)
            prog = jpeg_encode.encode_jpeg_progressive(img)
        else:
            img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
            sub = "444" if trial % 3 == 1 else "420"
            base = jpeg_encode.encode_jpeg(img, sub)
            prog = jpeg_encode.encode_jpeg_progressive(img, sub)
        rb, rp = multimodal.decode_jpeg(base), multimodal.decode_jpeg(prog)
        assert rb[:3] == rp[:3] and np.array_equal(rb[3], rp[3]), trial
    # truncation never yields silent garbage (same contract as baseline)
    img = rng.integers(0, 256, (17, 23), dtype=np.uint8)
    prog = jpeg_encode.encode_jpeg_progressive(img)
    for cut in range(3, len(prog), 11):
        try:
            dw, dh, ch, out = multimodal.decode_jpeg(prog[:cut])
        except ValueError:
            continue
        assert (dw, dh, ch) == (23, 17, 1) and out.shape == (17, 23, 1)


def test_wav_pcm_roundtrips_and_dispatch():
    """RIFF/WAVE PCM decode: exact roundtrip through the matching
    encoder (16-bit stereo, 8-bit mono), unknown-chunk skipping,
    odd-size word alignment, magic dispatch in real_decoder_stub, and
    the clean-ValueError truncation contract."""
    import struct

    import numpy as np
    import pytest as _pt

    rng = np.random.default_rng(77)
    stereo = rng.integers(-32768, 32768, (441, 2), dtype=np.int64)
    blob = multimodal.encode_wav(stereo, sample_rate=44100, bits=16)
    rate, ch, frames = multimodal.decode_wav(blob)
    assert (rate, ch) == (44100, 2)
    assert np.array_equal(frames, stereo)
    mono8 = rng.integers(-128, 128, 100, dtype=np.int64)
    blob8 = multimodal.encode_wav(mono8, sample_rate=8000, bits=8)
    rate, ch, frames = multimodal.decode_wav(blob8)
    assert (rate, ch) == (8000, 1)
    assert np.array_equal(frames.ravel(), mono8)
    # unknown chunk (LIST) before fmt/data is skipped, word alignment held
    extra = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"
    spliced = blob[:12] + extra + blob[12:]
    spliced = spliced[:4] + struct.pack("<I", len(spliced) - 8) + spliced[8:]
    rate, ch, frames = multimodal.decode_wav(spliced)
    assert np.array_equal(frames, stereo)
    # dispatch: RIFF magic routes to the WAV decoder
    feats = multimodal.real_decoder_stub(blob)
    want = multimodal.make_wav_decoder()(blob)
    assert feats == pytest.approx(want)
    # contract: truncation / non-PCM raise ValueError, never garbage
    for cut in range(4, len(blob), 37):
        with _pt.raises(ValueError):
            multimodal.decode_wav(blob[:cut])
    bad = bytearray(blob)
    bad[20] = 3  # IEEE float format tag
    with _pt.raises(ValueError, match="PCM"):
        multimodal.decode_wav(bytes(bad))
    # a data chunk that is not a whole number of frames (16-bit stereo,
    # 6 bytes = 1.5 frames, size field consistent) is a truncated
    # stream and must raise — never silently drop the partial frame
    fmt = struct.pack("<HHIIHH", 1, 2, 44100, 44100 * 4, 4, 16)
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", 6) + struct.pack("<hhh", 100, -200, 300)
    partial = b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks
    with _pt.raises(ValueError, match="whole number of frames"):
        multimodal.decode_wav(partial)


def test_jpeg_restart_interval_roundtrips():
    """DRI/RSTn: encoding with a restart interval (DC predictor resets,
    byte-aligned RST0-7 cycling) must decode pixel-identical to the
    restart-free stream of the same image — pins the decoder's restart
    path, which no previous stream exercised."""
    import numpy as np

    rng = np.random.default_rng(83)
    grey = rng.integers(0, 256, (24, 40), dtype=np.uint8)  # 15 MCUs
    plain = multimodal.decode_jpeg(jpeg_encode.encode_jpeg(grey))
    for ri in (1, 2, 7):
        blob = jpeg_encode.encode_jpeg(grey, restart_interval=ri)
        assert b"\xff\xdd" in blob and b"\xff\xd0" in blob
        got = multimodal.decode_jpeg(blob)
        assert got[:3] == plain[:3]
        assert np.array_equal(got[3], plain[3]), ri
    # the RSTn INDEX cycle matters to third-party decoders (libjpeg
    # uses it for resync) even though our tolerant reader ignores it:
    # extract the marker sequence from the entropy segment (FF followed
    # by D0-D7; FF00 is a stuffed data byte, not a marker) and pin the
    # 0,1,...,7,0,... cycle. 15 MCUs at ri=1 -> 14 restarts.
    blob = jpeg_encode.encode_jpeg(grey, restart_interval=1)
    sos = blob.index(b"\xff\xda")
    sos_len = (blob[sos + 2] << 8) | blob[sos + 3]
    entropy = blob[sos + 2 + sos_len:]  # marker + whole SOS segment
    seq = []
    i = 0
    while i + 1 < len(entropy):
        if entropy[i] == 0xFF and 0xD0 <= entropy[i + 1] <= 0xD7:
            seq.append(entropy[i + 1] - 0xD0)
            i += 2
        else:
            i += 1
    assert seq == [k % 8 for k in range(14)], seq
    rgb = rng.integers(0, 256, (20, 35, 3), dtype=np.uint8)
    for sub in ("444", "420"):
        plain = multimodal.decode_jpeg(jpeg_encode.encode_jpeg(rgb, sub))
        blob = jpeg_encode.encode_jpeg(rgb, sub, restart_interval=3)
        got = multimodal.decode_jpeg(blob)
        assert np.array_equal(got[3], plain[3]), sub
    # bad intervals rejected upfront, before any DCT work
    for bad in (-1, 70000):
        with pytest.raises(ValueError, match="restart_interval"):
            jpeg_encode.encode_jpeg(grey, restart_interval=bad)


def test_probe_media_meta_real_headers(spark):
    """Header-only metadata probe: exact dims/duration/codec for every
    format the repo can generate, never raising on junk, and the
    Spark-side extract_media_meta gate agreeing with the driver-side
    probe."""
    import struct

    import numpy as np

    rng = np.random.default_rng(19)
    img = rng.integers(0, 256, (17, 29), dtype=np.uint8)
    rgb = rng.integers(0, 256, (11, 13, 3), dtype=np.uint8)
    base = jpeg_encode.encode_jpeg(img)
    prog = jpeg_encode.encode_jpeg_progressive(rgb, "420")
    wav = multimodal.encode_wav(
        rng.integers(-100, 100, (8000, 2), dtype=np.int64), 16000, 16
    )
    m = multimodal.probe_media_meta(base)
    assert (m["media_type"], m["codec"], m["width"], m["height"]) == (
        "image/jpeg", "jpeg-baseline", 29, 17,
    )
    m = multimodal.probe_media_meta(prog)
    assert (m["codec"], m["width"], m["height"]) == ("jpeg-progressive", 13, 11)
    m = multimodal.probe_media_meta(wav)
    assert (m["media_type"], m["codec"], m["duration_ms"]) == (
        "audio/wav", "pcm_s16le", 500,  # 8000 frames / 16 kHz
    )
    # minimal MP3: ID3v2 tag (10-byte header, 20-byte body) + MPEG1 L3
    # frame header (128 kbps, 44100 Hz) + 16000 payload bytes -> the
    # CBR estimate is (16004*8)/128k s = 1000 ms (header included)
    id3 = b"ID3\x04\x00\x00" + bytes([0, 0, 0, 20]) + b"\x00" * 20
    frame_hdr = bytes([0xFF, 0xFB, 0x90, 0x00])  # MPEG1 L3 128k 44.1k
    mp3 = id3 + frame_hdr + b"\x00" * 16000
    m = multimodal.probe_media_meta(mp3)
    assert (m["media_type"], m["codec"]) == ("audio/mpeg", "mp3")
    assert m["duration_ms"] == (16004 * 8 * 1000) // 128000
    # a sync-like prefix is not enough: a JPEG APP1 (Exif) fragment and
    # frame headers with a reserved layer / samplerate / bad bitrate
    # stay all-null, while a valid MPEG2 Layer III header is audio/mpeg
    app1 = b"\xff\xe1\x00\x16Exif\x00\x00" + b"\x00" * 20
    for fake in (
        app1,
        bytes([0xFF, 0xF9, 0x90, 0x00]) + b"\x00" * 40,  # layer reserved
        bytes([0xFF, 0xFB, 0x9C, 0x00]) + b"\x00" * 40,  # samplerate reserved
        bytes([0xFF, 0xFB, 0xF0, 0x00]) + b"\x00" * 40,  # bitrate index 15
        bytes([0xFF, 0xEB, 0x90, 0x00]) + b"\x00" * 40,  # version reserved
    ):
        m = multimodal.probe_media_meta(fake)
        assert (m["media_type"], m["codec"], m["duration_ms"]) == (
            None, None, None,
        ), fake[:4]
    m = multimodal.probe_media_meta(bytes([0xFF, 0xF3, 0x90, 0x00]) + b"\x00" * 40)
    assert (m["media_type"], m["codec"]) == ("audio/mpeg", "mpeg-audio")
    # junk / truncated never raise
    for junk in (None, b"", b"\x00" * 40, base[:5], wav[:13], b"ID3" + b"\x00" * 20):
        out = multimodal.probe_media_meta(junk)
        assert isinstance(out, dict)
    # PNG via the test encoder defined below
    png = _encode_png([[10, 20, 30], [40, 50, 60]], 1)
    m = multimodal.probe_media_meta(png)
    assert (m["media_type"], m["codec"], m["width"], m["height"]) == (
        "image/png", "png", 3, 2,
    )
    # the Spark gate matches the driver-side probe per row
    rows = [(0, base), (1, prog), (2, wav), (3, mp3), (4, None), (5, b"junk")]
    df = spark.createDataFrame(rows, "media_id long, blob binary")
    got = {
        r["media_id"]: (r["media_type"], r["width"], r["height"],
                        r["duration_ms"], r["codec"])
        for r in multimodal.extract_media_meta(df, "media_id", "blob").collect()
    }
    for mid, blob in rows:
        want = multimodal.probe_media_meta(bytes(blob) if blob else None)
        assert got[mid] == (
            want["media_type"], want["width"], want["height"],
            want["duration_ms"], want["codec"],
        ), mid


def test_bitreader_restart_tolerates_fill_bytes():
    """T.81 B.1.1.2 applies to in-scan restart markers too: a run of
    0xFF fill bytes before RSTn must be skipped by at_restart (both the
    baseline and progressive entropy loops go through it)."""
    for data, want, endpos in (
        (b"\xff\xd0", True, 2),
        (b"\xff\xff\xff\xd3", True, 4),
        (b"\xff\x00", False, 0),
        (b"\xff\xd9", False, 0),  # EOI is not a restart
        (b"\x12\x34", False, 0),
    ):
        r = multimodal._BitReader(data, 0)
        got = r.at_restart()
        assert got is want, data
        if want:
            assert r.pos == endpos, data


def test_components_fuzz_regimes_agree(spark):
    """Random graphs: the driver union-find regime and the distributed
    star contraction must produce IDENTICAL labelings (min-key
    component ids)."""
    import random

    rnd = random.Random(5)
    for _ in range(3):
        n = rnd.randint(2, 60)
        edges = [
            (f"n{rnd.randrange(n):03d}", f"n{rnd.randrange(n):03d}")
            for _ in range(rnd.randint(1, 2 * n))
        ]
        from tiger_etl_spark.operators.graph import components

        df = spark.createDataFrame(edges, "src string, dst string")
        uf = {r["node_key"]: r["component"] for r in components(df).collect()}
        star = {
            r["node_key"]: r["component"]
            for r in components(df, small_graph_threshold=0).collect()
        }
        assert uf == star, (edges, uf, star)
