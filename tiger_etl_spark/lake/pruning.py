"""Manifest-level data skipping — the Iceberg scan-planning analog.

Every commit records per-file column bounds on (key, event-time) in the
manifest (`table._stats_from_metadata`), but until this module `scan()`
still listed every file. At 10^10 rows a CDC table holds thousands of
files; the two dominant read patterns — "changes in a time window" and
"look up one url" — each touch a tiny fraction of them. This module
plans the file subset from the MANIFEST ALONE (zero data/footer reads
at query time):

* **Time-range pruning** (`ts_range`): a *clean* (base) file holds
  final-state rows, so it is skipped whenever its `[min,max]` event
  time misses the window. A *dirty* bucket (has delta files) must stay
  all-or-nothing: last-writer-wins resolution for a key needs every
  file of its bucket, because a pruned NEWER version outside the window
  would wrongly resurface an older in-window row. So dirty buckets are
  kept iff ANY of their files overlaps — still correct, still pruned
  at bucket granularity.

* **Key pruning** (`keys`): all versions of a key live in
  `bucket(key)`, so a point lookup reads one bucket out of B. The
  bucket id is computed DRIVER-SIDE with a pure-Python re-implementation
  of Spark's Murmur3 (`spark_hash_string`, parity-pinned against
  `F.hash` in tests/test_pruning.py) — no Spark job just to hash a key.
  Within the bucket, files whose key `[min,max]` excludes every probe
  key are skipped too (safe even in dirty buckets: such a file holds no
  version of the key and cannot affect its resolution).

Files with missing stats are always kept — pruning can only skip what
the manifest *proves* irrelevant.

Reference parity: the reference serves point lookups and time windows
through Postgres b-tree indexes (29 secondary indexes, alembic
310f4b46a4b2:32-110); on an immutable-file lake the equivalent access
path is manifest pruning, not indexes.
"""

from __future__ import annotations

from datetime import datetime, timezone

_C1 = 0xCC9E2D51
_C2 = 0x1B873593
_M32 = 0xFFFFFFFF


def _mix_k1(k1: int) -> int:
    k1 = (k1 * _C1) & _M32
    k1 = ((k1 << 15) | (k1 >> 17)) & _M32
    return (k1 * _C2) & _M32


def _mix_h1(h1: int, k1: int) -> int:
    h1 ^= k1
    h1 = ((h1 << 13) | (h1 >> 19)) & _M32
    return (h1 * 5 + 0xE6546B64) & _M32


def _fmix(h1: int, length: int) -> int:
    h1 ^= length
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & _M32
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & _M32
    h1 ^= h1 >> 16
    return h1


def murmur3_32_spark(data: bytes, seed: int = 42) -> int:
    """Spark's Murmur3_x86_32.hashUnsafeBytes, bit-exact: 4-byte
    little-endian blocks, then each tail byte SIGN-EXTENDED and mixed
    as its own full block (Spark's deviation from reference murmur3),
    then fmix over the total length. Returns a signed int32, matching
    `F.hash` on a string/binary column."""
    h1 = seed & _M32
    n_aligned = len(data) - len(data) % 4
    for i in range(0, n_aligned, 4):
        h1 = _mix_h1(h1, _mix_k1(int.from_bytes(data[i : i + 4], "little")))
    for i in range(n_aligned, len(data)):
        b = data[i]
        half = b if b < 0x80 else b - 0x100  # signed byte, sign-extended
        h1 = _mix_h1(h1, _mix_k1(half & _M32))
    out = _fmix(h1, len(data))
    return out - (1 << 32) if out >= (1 << 31) else out


def spark_hash_string(s: str, seed: int = 42) -> int:
    """`F.hash(string_col)` for one value, driver-side."""
    return murmur3_32_spark(s.encode("utf-8"), seed)


def bucket_of(key: str, num_buckets: int) -> int:
    """bucket(B, key) = pmod(hash(key), B), matching
    LakeTable.bucket_expr for string keys."""
    return spark_hash_string(key) % num_buckets


def _to_cmp_ts(v):
    """Normalize a manifest stat / user bound to a naive-UTC datetime
    for comparison; None stays None (= unbounded / unknown)."""
    if v is None:
        return None
    if isinstance(v, str):
        v = datetime.fromisoformat(v)
    if isinstance(v, datetime):
        if v.tzinfo is not None:
            v = v.astimezone(timezone.utc).replace(tzinfo=None)
        return v
    raise TypeError(f"cannot interpret {v!r} as a timestamp bound")


def _file_ts_overlaps(f: dict, ts_col: str, lo, hi, day: bool = False) -> bool:
    """Closed-interval overlap in time order against a file's recorded
    bounds on a timestamp or date column (stats are `isoformat()`
    strings). On a date column (`day`) bounds and stats count by their
    date, as Spark compares a date with a bound: a string bound is cast
    to a date by its leading yyyy-mm-dd as written (time and offset
    ignored), so a row of day D passes `>= 'D 08:00:00'`; a datetime
    bound is taken by its UTC date, which keeps every file Spark's
    timestamp compare can match. A bound that is no time cannot prove
    the file irrelevant."""
    mn = f.get("min", {}).get(ts_col)
    mx = f.get("max", {}).get(ts_col)
    if mn is None or mx is None:
        return True  # no stats → cannot prove irrelevant
    try:
        mn, mx, lo, hi = map(_day_bound if day else _to_cmp_ts, (mn, mx, lo, hi))
    except (TypeError, ValueError):
        return True
    return not ((lo is not None and mx < lo) or (hi is not None and mn > hi))


def _day_bound(v):
    """A bound or stat of a date column as the midnight of the date
    Spark compares it by (see `_file_ts_overlaps`)."""
    if isinstance(v, str):
        return datetime.fromisoformat(v[:10])
    v = _to_cmp_ts(v)
    return v and v.replace(hour=0, minute=0, second=0, microsecond=0)


def _num(v) -> bool:
    return isinstance(v, (int, float)) and not isinstance(v, bool)


def _str_below(a: str, b: str) -> bool:
    """``a < b`` in string order and, when both parse as ISO timestamps,
    in time order too: the safe test for a column not known to be a
    timestamp or date. A timestamp column's stats are
    ``isoformat()`` strings ('T' separator, UTC offset), which string
    order misranks against a bound written '2024-01-01 06:00:00';
    requiring both orders keeps the test safe for string columns that
    only look like times."""
    if not a < b:
        return False
    try:
        return _to_cmp_ts(a) < _to_cmp_ts(b)
    except ValueError:
        return True


def _file_col_overlaps(f: dict, col: str, lo, hi, time_cols: dict) -> bool:
    """Closed-interval overlap test against a file's recorded bounds for
    an arbitrary stats column. A column the table's schema types as
    timestamp or date (`time_cols`) compares in time order alone.
    Otherwise conservative: prunes only when the bound and the stat are
    the SAME comparable family (number/number or string/string; ISO
    timestamp strings must be apart in both string and time order);
    anything else keeps the file."""
    if col in time_cols:
        return _file_ts_overlaps(f, col, lo, hi, day=time_cols[col])
    mn = f.get("min", {}).get(col)
    mx = f.get("max", {}).get(col)
    if mn is None or mx is None:
        return True  # no stats → cannot prove irrelevant
    if _num(mn) and _num(mx):
        if lo is not None and _num(lo) and mx < lo:
            return False
        if hi is not None and _num(hi) and mn > hi:
            return False
        return True
    if isinstance(mn, str) and isinstance(mx, str):
        if lo is not None and isinstance(lo, str) and _str_below(mx, lo):
            return False
        if hi is not None and isinstance(hi, str) and _str_below(hi, mn):
            return False
    return True


def _file_overlaps_all(f: dict, col_ranges: dict, time_cols: dict) -> bool:
    return all(
        _file_col_overlaps(f, c, lo, hi, time_cols)
        for c, (lo, hi) in col_ranges.items()
    )


def _file_may_contain_key(f: dict, key_col: str, keys: list) -> bool:
    mn = f.get("min", {}).get(key_col)
    mx = f.get("max", {}).get(key_col)
    if mn is None or mx is None:
        return True
    if not all(
        isinstance(k, str) and isinstance(mn, str) and isinstance(mx, str)
        for k in keys
    ):
        return True  # non-string key vs recorded bounds: cannot prove
    return any(mn <= k <= mx for k in keys)


def plan_files(
    manifest: dict,
    ts_range: tuple | None = None,
    keys: list[str] | None = None,
    col_ranges: dict | None = None,
    buckets: set | None = None,
    time_cols: dict[str, bool] | None = None,
) -> list[dict]:
    """The minimal file subset a scan with these filters must read
    (see module docstring for the safety argument). Pure manifest math —
    no I/O, no Spark.

    `col_ranges`: {column: (lo, hi)} closed intervals over any column
    recorded in per-file stats (the `stats_cols` table prop). Safety
    mirrors time-range pruning: a clean (base) file holds final-state
    rows, so bounds that miss every range prove it irrelevant; a dirty
    bucket stays all-or-nothing — kept iff ANY of its files overlaps
    every range simultaneously (a qualifying row's values lie within one
    file's bounds for all columns at once), because LWW resolution for a
    key needs every file of its bucket.

    `buckets`: explicit bucket-id subset (incremental-view refresh reads
    only the buckets a commit touched). Trivially safe: every version of
    a key lives in bucket(key), so whole-bucket selection preserves LWW
    resolution exactly.

    `time_cols`: {column: is_date} for the columns the table's schema
    types as timestamp or date; their `col_ranges` bounds compare in
    time order alone (`LakeTable.plan_files` passes them)."""
    files = manifest["files"]
    if buckets is not None:
        files = [f for f in files if f["bucket"] in buckets]
    if ts_range is None and keys is None and not col_ranges:
        return files
    ts_col = manifest["order_cols"][0]
    key_col = manifest["key_col"]
    dirty = {f["bucket"] for f in files if f["kind"] == "delta"}

    lo = hi = None
    bucket_ts_keep: set[int] = set()
    if ts_range is not None:
        lo, hi = (_to_cmp_ts(ts_range[0]), _to_cmp_ts(ts_range[1]))
        bucket_ts_keep = {
            f["bucket"]
            for f in files
            if f["bucket"] in dirty and _file_ts_overlaps(f, ts_col, lo, hi)
        }

    bucket_col_keep: set[int] = set()
    time_cols = time_cols or {}
    if col_ranges:
        bucket_col_keep = {
            f["bucket"]
            for f in files
            if f["bucket"] in dirty and _file_overlaps_all(f, col_ranges, time_cols)
        }

    key_buckets: set[int] | None = None
    if keys is not None and all(isinstance(k, str) for k in keys):
        b = manifest["num_buckets"]
        key_buckets = {bucket_of(k, b) for k in keys}

    kept = []
    for f in files:
        if ts_range is not None:
            ok = (
                f["bucket"] in bucket_ts_keep
                if f["bucket"] in dirty
                else _file_ts_overlaps(f, ts_col, lo, hi)
            )
            if not ok:
                continue
        if col_ranges:
            ok = (
                f["bucket"] in bucket_col_keep
                if f["bucket"] in dirty
                else _file_overlaps_all(f, col_ranges, time_cols)
            )
            if not ok:
                continue
        if keys is not None:
            if key_buckets is not None and f["bucket"] not in key_buckets:
                continue
            if not _file_may_contain_key(f, key_col, keys):
                continue
        kept.append(f)
    return kept
