"""Deterministic synthetic data generators (FIXTURES.md §1–§3, §6).

Everything is a pure function of (seed, index): numpy `default_rng(seed)`
drives all draws, so any process regenerates identical bytes. Zipfian
hosts (s≈1.1) create the hot url-prefix keys the engine must salt.

No external data; timestamps UTC.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = datetime(2025, 1, 1, tzinfo=timezone.utc)
EPOCH_US = int(EPOCH.timestamp()) * 1_000_000

_WORDS = (
    "the a of to and in is it you that he was for on are with as his they be "
    "at one have this from or had by hot word but what some we can out other "
    "were all there when up use your how said an each she which do their time "
    "if will way about many then them write would like so these her long make "
    "thing see him two has look more day could go come did number sound no "
    "most people my over know water than call first who may down side been now "
    "find any new work part take get place made live where after back little "
    "only round man year came show every good me give our under"
).split()
_WORD_ARR = np.array(_WORDS)


def _zipf_probs(n: int, s: float = 1.1) -> np.ndarray:
    ranks = np.arange(1, n + 1, dtype=np.float64)
    p = 1.0 / ranks**s
    return p / p.sum()


def _make_urls(rng: np.random.Generator, n: int, n_hosts: int, n_paths: int) -> np.ndarray:
    hosts = rng.choice(n_hosts, size=n, p=_zipf_probs(n_hosts))
    paths = rng.integers(0, n_paths, size=n)
    return np.array(
        [f"https://host{h}.example/p{k}" for h, k in zip(hosts, paths)],
        dtype=object,
    )


def _make_html(rng: np.random.Generator, n: int) -> list[bytes | None]:
    """~64–512-byte html payloads; null for ~2% of rows."""
    lengths = rng.integers(8, 64, size=n)
    total = int(lengths.sum())
    word_idx = rng.integers(0, len(_WORD_ARR), size=total)
    nulls = rng.random(n) < 0.02
    out: list[bytes | None] = []
    pos = 0
    for i in range(n):
        ln = int(lengths[i])
        if nulls[i]:
            out.append(None)
        else:
            body = " ".join(_WORD_ARR[word_idx[pos : pos + ln]])
            out.append(b"<html><body><p>" + body.encode() + b"</p></body></html>")
        pos += ln
    return out


def _langs(urls: np.ndarray) -> list[str | None]:
    choices = ["en", "de", "fr", "es", "hi", None]
    # stable per-url assignment (hash(url) % 6 per FIXTURES.md §1)
    import zlib

    return [choices[zlib.crc32(u.encode()) % 6] for u in urls]


def gen_change_events(
    seed: int,
    n: int,
    n_hosts: int = 100,
    n_paths: int | None = None,
    invalid_frac: float = 0.002,
    dup_frac: float = 0.01,
    tie_frac: float = 0.005,
    late_frac: float = 0.05,
    very_late_frac: float = 0.005,
) -> dict:
    """CDC event stream (FIXTURES.md §2, §6) as columnar arrays.

    Returns a dict of numpy/object arrays (op, op_seq, url, warc_ts_us,
    html, lang, content_len, valid) in op_seq order, before file
    splitting/duplication — `write_change_files` handles batching, the
    schema-evolution split, and duplicate injection.
    """
    rng = np.random.default_rng(seed + 1)
    n_paths = n_paths or max(10, n // max(1, n_hosts // 4))
    urls = _make_urls(rng, n, n_hosts, n_paths)
    ops = rng.choice(np.array(["I", "U", "D"], dtype=object), size=n, p=[0.5, 0.4, 0.1])
    op_seq = np.arange(1, n + 1, dtype=np.int64)

    # event time: mostly increasing; ~5% late (≤2h behind), ~0.5% very late
    base = EPOCH_US + np.arange(n, dtype=np.int64) * 7 * 1_000_000
    r = rng.random(n)
    late = r < late_frac
    very_late = r > (1.0 - very_late_frac)
    offs = np.zeros(n, dtype=np.int64)
    offs[late] = -rng.integers(1, 7200, size=int(late.sum())) * 1_000_000
    offs[very_late] = -(30 * 3600) * 1_000_000  # beyond a 24h watermark
    ts = base + offs

    # ~0.5% share (url, warc_ts) with a different op_seq → total-order tiebreak
    ties = rng.random(n) < tie_frac
    tie_src = np.flatnonzero(ties)
    tie_src = tie_src[tie_src > 0]
    for i in tie_src:
        urls[i] = urls[i - 1]
        ts[i] = ts[i - 1]

    html = _make_html(rng, n)
    langs = _langs(urls)
    is_delete = ops == "D"
    for i in np.flatnonzero(is_delete):
        html[i] = None
        langs[i] = None
    content_len = np.array([len(h) if h is not None else -1 for h in html], dtype=np.int64)

    # ~0.2% invalid rows (quarantine fixture, FIXTURES.md §6)
    valid = np.ones(n, dtype=bool)
    bad = np.flatnonzero(rng.random(n) < invalid_frac)
    ts_null = np.zeros(n, dtype=bool)
    for j, i in enumerate(bad):
        kind = j % 4
        if kind == 0:
            urls[i] = ""
        elif kind == 1:
            op_seq[i] = -op_seq[i]
        elif kind == 2:
            ops[i] = "X"
        else:
            ts_null[i] = True
        valid[i] = False

    dup = rng.random(n) < dup_frac
    return {
        "op": ops,
        "op_seq": op_seq,
        "url": urls,
        "warc_ts_us": ts,
        "ts_null": ts_null,
        "html": html,
        "lang": langs,
        "content_len": content_len,
        "valid": valid,
        "dup_next_file": dup,
    }


def _slice_table(ev: dict, idx: np.ndarray, schema_id: int, batch_file: str) -> pa.Table:
    ts = [
        None if ev["ts_null"][i] else int(ev["warc_ts_us"][i]) for i in idx
    ]
    cols = {
        "op": pa.array([ev["op"][i] for i in idx], pa.string()),
        "op_seq": pa.array([int(ev["op_seq"][i]) for i in idx], pa.int64()),
        "url": pa.array([ev["url"][i] for i in idx], pa.string()),
        "warc_ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
    }
    html = [ev["html"][i] for i in idx]
    clen = [
        None if ev["content_len"][i] < 0 else int(ev["content_len"][i]) for i in idx
    ]
    if schema_id == 1:
        cols["body"] = pa.array(html, pa.binary())          # pre-rename name
        cols["content_len"] = pa.array(clen, pa.int32())    # pre-widen type
    else:
        cols["html"] = pa.array(html, pa.binary())
        cols["lang"] = pa.array([ev["lang"][i] for i in idx], pa.string())
        cols["content_len"] = pa.array(clen, pa.int64())
    cols["schema_id"] = pa.array([schema_id] * len(idx), pa.int32())
    cols["batch_file"] = pa.array([batch_file] * len(idx), pa.string())
    return pa.table(cols)


def _slice_jsonl(ev: dict, idx: np.ndarray, schema_id: int, batch_file: str) -> str:
    """JSONL rendering of a change-file slice — the text-WAL analog of
    `_slice_table`. Binary payloads ride as base64 (`body_b64`/`html_b64`
    per schema era), timestamps as epoch-microsecond longs."""
    import base64
    import json

    lines = []
    for i in idx:
        rec: dict = {
            "op": ev["op"][i],
            "op_seq": int(ev["op_seq"][i]),
            "url": ev["url"][i],
            "warc_ts_us": None if ev["ts_null"][i] else int(ev["warc_ts_us"][i]),
        }
        html = ev["html"][i]
        b64 = base64.b64encode(html).decode("ascii") if html is not None else None
        clen = None if ev["content_len"][i] < 0 else int(ev["content_len"][i])
        if schema_id == 1:
            rec["body_b64"] = b64
        else:
            rec["html_b64"] = b64
            rec["lang"] = ev["lang"][i]
        rec["content_len"] = clen
        rec["schema_id"] = schema_id
        rec["batch_file"] = batch_file
        lines.append(json.dumps(rec, separators=(",", ":")))
    return "\n".join(lines) + ("\n" if lines else "")


def _slice_warc(ev: dict, idx: np.ndarray, schema_id: int, batch_file: str) -> str:
    """WARC-style rendering of a change-file slice: each record a
    header block (one `Name: value` line per field, absent fields
    omitted), records separated by a blank line — the Common-Crawl-ish
    text shape. Binary rides as base64, timestamps as epoch micros,
    exactly the JSONL wire conventions."""
    import base64

    recs = []
    for i in idx:
        lines = ["WARC/1.0", f"WARC-Type: {ev['op'][i]}",
                 f"WARC-Record-ID: {int(ev['op_seq'][i])}"]
        if ev["url"][i] is not None:
            lines.append(f"WARC-Target-URI: {ev['url'][i]}")
        if not ev["ts_null"][i]:
            lines.append(f"WARC-Date-US: {int(ev['warc_ts_us'][i])}")
        html = ev["html"][i]
        if html is not None:
            b64 = base64.b64encode(html).decode("ascii")
            lines.append(
                f"Body-B64: {b64}" if schema_id == 1 else f"Html-B64: {b64}"
            )
        if schema_id != 1 and ev["lang"][i] is not None:
            lines.append(f"Content-Lang: {ev['lang'][i]}")
        if ev["content_len"][i] >= 0:
            lines.append(f"Content-Length-Orig: {int(ev['content_len'][i])}")
        lines.append(f"WARC-Schema-Id: {schema_id}")
        lines.append(f"WARC-Batch-File: {batch_file}")
        recs.append("\n".join(lines))
    return "\n\n".join(recs)


# Debezium op codes on the wire; unknown (invalid-fixture) ops pass
# through verbatim so the quarantine path sees the same bytes.
_DBZ_OP = {"I": "c", "U": "u", "D": "d"}


def _slice_debezium(ev: dict, idx: np.ndarray, schema_id: int, batch_file: str) -> str:
    """Debezium-style change-event envelope, one JSON object per line —
    the literal shape a binlog/WAL connector (Debezium with schemas
    disabled, Maxwell) forwards: `before`/`after` row images, a
    `source` block carrying the WAL position (`lsn` = op_seq) and
    commit time, and single-letter op codes (c/u/d). Deletes carry the
    key in `before` with `after` null; inserts/updates carry the row in
    `after` with `before` null (REPLICA IDENTITY DEFAULT — no
    pre-image). Event time rides as epoch micros in `source.ts_us`
    (Debezium's ts_ms is kept too but is millisecond-lossy) and in the
    row image, so the decode is exact to the microsecond."""
    import base64
    import json

    lines = []
    for i in idx:
        ts_us = None if ev["ts_null"][i] else int(ev["warc_ts_us"][i])
        html = ev["html"][i]
        b64 = base64.b64encode(html).decode("ascii") if html is not None else None
        image: dict = {"url": ev["url"][i], "warc_ts_us": ts_us}
        if schema_id == 1:
            image["body_b64"] = b64
        else:
            image["html_b64"] = b64
            image["lang"] = ev["lang"][i]
        clen = ev["content_len"][i]
        image["content_len"] = None if clen < 0 else int(clen)
        op = ev["op"][i]
        rec = {
            "before": image if op == "D" else None,
            "after": None if op == "D" else image,
            "source": {
                "lsn": int(ev["op_seq"][i]),
                "ts_us": ts_us,
                "schema_id": schema_id,
                "file": batch_file,
            },
            "op": _DBZ_OP.get(op, op),
            "ts_ms": ts_us // 1000 if ts_us is not None else None,
        }
        lines.append(json.dumps(rec, separators=(",", ":")))
    return "\n".join(lines) + ("\n" if lines else "")


def write_change_files(
    ev: dict,
    out_dir: str,
    n_files: int,
    evolution_at: float = 0.5,
    file_format: str = "parquet",
) -> list[str]:
    """Split events into lexicographically-ordered micro-batch files
    (offset order), injecting ~1% duplicates into the *next* file
    (idempotent-replay fixture) and switching to schema v2 at
    `evolution_at` (FIXTURES.md §2–§3). `file_format`: "parquet"
    (columnar change files) or "jsonl" (text-WAL tail, one JSON object
    per line, binary as base64)."""
    if file_format not in ("parquet", "jsonl", "warc", "debezium"):
        raise ValueError(f"unsupported change-file format: {file_format}")
    os.makedirs(out_dir, exist_ok=True)
    n = len(ev["op_seq"])
    bounds = np.linspace(0, n, n_files + 1, dtype=np.int64)
    evolution_file = int(n_files * evolution_at)
    paths = []
    carry: np.ndarray = np.array([], dtype=np.int64)
    for f in range(n_files):
        idx = np.arange(bounds[f], bounds[f + 1])
        schema_id = 1 if f < evolution_file else 2
        if f == evolution_file:
            # a WAL-replay duplicate is byte-identical; rows can't be
            # re-rendered under a different schema era — drop the carry
            # at the evolution boundary
            carry = np.array([], dtype=np.int64)
        file_idx = np.concatenate([carry, idx]) if len(carry) else idx
        name = f"batch-{f:05d}.{file_format}"
        path = os.path.join(out_dir, name)
        if file_format == "parquet":
            pq.write_table(_slice_table(ev, file_idx, schema_id, name), path)
        elif file_format == "warc":
            with open(path, "w", encoding="utf-8") as fh:
                fh.write(_slice_warc(ev, file_idx, schema_id, name))
        elif file_format == "debezium":
            with open(path, "w", encoding="utf-8") as fh:
                fh.write(_slice_debezium(ev, file_idx, schema_id, name))
        else:
            with open(path, "w", encoding="utf-8") as fh:
                fh.write(_slice_jsonl(ev, file_idx, schema_id, name))
        paths.append(path)
        # exact duplicate rows re-appear in the next file
        carry = idx[[bool(ev["dup_next_file"][i]) for i in idx]]
    return paths
