"""Test-only JPEG encoders (ITU T.81 baseline SOF0 and progressive SOF2).

They exist to pin `tiger_etl_spark.operators.multimodal.decode_jpeg` with
spec-level roundtrip tests: every table a decoder needs (DQT, DHT, SOF,
SOS, DRI) rides in the stream, so any compliant decoder reads their
output identically. The engine never encodes JPEG, so they live here
rather than in the shipped package.
"""

from __future__ import annotations

import heapq
import itertools
import struct

import numpy as np

from tiger_etl_spark.operators.multimodal import (
    _DCT_A,
    _ZIGZAG,
    _noninterleaved_block_dims,
)

# T.81 Annex K.1 luminance quantization table (in natural row-major order)
_QT_K1 = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.int64,
)


class _BitWriter:
    """MSB-first entropy writer with 0xFF byte stuffing and final
    1-padding (T.81 F.1.2.3)."""

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, n: int) -> None:
        self.acc = (self.acc << n) | (value & ((1 << n) - 1))
        self.nbits += n
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.acc >> self.nbits) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)
        self.acc &= (1 << self.nbits) - 1

    def align(self) -> None:
        """1-pad to a byte boundary (T.81 F.1.2.3 — required before a
        restart marker)."""
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)

    def emit_marker(self, marker: int) -> None:
        """Append a real marker (no byte stuffing) — the writer must be
        byte-aligned first."""
        self.align()
        self.out += bytes((0xFF, marker))

    def flush(self) -> bytes:
        self.align()
        return bytes(self.out)


def _canonical_huffman(freqs: dict[int, int]):
    """(bits, vals, code_map) for a canonical JPEG huffman table over the
    observed symbols. A pseudo-symbol is added before tree building and
    dropped after, so the emitted table is INCOMPLETE by one codepoint —
    the T.81 Annex C requirement that the all-1-bits code stays unused.
    Symbol set is small (<=256) and frequencies are floored to 1, so
    code lengths stay well under the 16-bit DHT limit."""
    DUMMY = 256
    items = dict(freqs)
    items[DUMMY] = 1
    tick = itertools.count()  # tiebreak so heap never compares lists
    heap = [(f, next(tick), [sym]) for sym, f in items.items()]
    heapq.heapify(heap)
    depth: dict[int, int] = {s: 0 for s in items}
    while len(heap) > 1:
        fa, _, a = heapq.heappop(heap)
        fb, _, b = heapq.heappop(heap)
        for s in a + b:
            depth[s] += 1
        heapq.heappush(heap, (fa + fb, next(tick), a + b))
    if len(items) == 1:  # single symbol: give it a 1-bit code
        depth = {s: 1 for s in items}
    if max(depth.values()) > 16:
        # pathological skew: rebuild balanced (equal freqs, depth <= 9)
        return _canonical_huffman({s: 1 for s in freqs})
    # The dummy only donates INCOMPLETENESS: drop it, then assign codes
    # DENSELY over the real symbols — exactly how a decoder reconstructs
    # canonical codes from BITS/HUFFVAL (no holes). Kraft sum stays < 1,
    # so the all-1-bits code of the longest length is never reached
    # (T.81 Annex C requirement).
    del depth[DUMMY]
    order = sorted(depth, key=lambda s: (depth[s], s))
    bits = [0] * 16
    code_map: dict[int, tuple[int, int]] = {}
    code = 0
    prev_len = 0
    for sym in order:
        ln = depth[sym]
        code <<= ln - prev_len
        prev_len = ln
        code_map[sym] = (code, ln)
        bits[ln - 1] += 1
        code += 1
    vals = bytes(order)
    return bits, vals, code_map


def _category(v: int) -> int:
    return int(v).bit_length() if v >= 0 else int(-v).bit_length()


def _mag_bits(v: int, s: int) -> int:
    return v if v >= 0 else v + (1 << s) - 1


# T.81 Annex K.2 chroma quantization table (natural row-major order)
_QT_K2 = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99,
        18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99,
        47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
    ],
    dtype=np.int64,
)


def _block_syms(zz, pred: int):
    """RLE symbol stream for one zigzag-ordered quantized block."""
    diff = int(zz[0]) - pred
    syms = []
    run = 0
    for k in range(1, 64):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            syms.append((0xF0, 0, 0))
            run -= 16
        s = _category(v)
        syms.append(((run << 4) | s, v, s))
        run = 0
    if run:
        syms.append((0x00, 0, 0))  # EOB
    return diff, syms, int(zz[0])


def _pad_to(plane: "np.ndarray", ph: int, pw: int) -> "np.ndarray":
    h, w = plane.shape
    out = np.empty((ph, pw), dtype=np.float64)
    out[:h, :w] = plane
    if ph > h:
        out[h:, :w] = out[h - 1:h, :w]  # edge-replicate pad
    if pw > w:
        out[:, w:] = out[:, w - 1:w]
    return out


def encode_jpeg(
    pixels: "np.ndarray",
    subsampling: str = "444",
    quant_luma: "np.ndarray" = None,
    quant_chroma: "np.ndarray" = None,
    restart_interval: int = 0,
) -> bytes:
    """Baseline JPEG encoder (T.81 sequential DCT): greyscale (2-D
    input) or YCbCr color (3-D RGB input; `subsampling` "444" or
    "420"), exact orthogonal FDCT, Annex-K quantization by default
    (K.1 luma / K.2 chroma), per-image canonical huffman tables in
    DHT, optional DRI/RSTn (`restart_interval` MCUs per restart
    segment: DC predictors reset, writer byte-aligned, RST0-7 cycled —
    pins the decoder's restart path). Exists to pin `decode_jpeg` with
    spec-level roundtrip tests — any compliant decoder reads its
    output, because everything a decoder needs (DQT, DHT, SOF0, SOS,
    DRI) rides in the stream."""

    if not 0 <= restart_interval <= 0xFFFF:
        raise ValueError("restart_interval must be in 0..65535")
    px = np.asarray(pixels, dtype=np.uint8)
    qy = _QT_K1 if quant_luma is None else np.asarray(quant_luma, np.int64).ravel()
    qc = _QT_K2 if quant_chroma is None else np.asarray(quant_chroma, np.int64).ravel()
    if px.ndim == 2:
        h, w = px.shape
        comps = [(1, 1, 1, 0)]
        raw_planes = [px.astype(np.float64)]
        qtables = {0: qy}
    else:
        h, w, _ = px.shape
        r_, g_, b_ = (px[..., c].astype(np.float64) for c in range(3))
        y = 0.299 * r_ + 0.587 * g_ + 0.114 * b_
        cb = 128.0 - 0.168736 * r_ - 0.331264 * g_ + 0.5 * b_
        cr = 128.0 + 0.5 * r_ - 0.418688 * g_ - 0.081312 * b_
        if subsampling == "444":
            comps = [(1, 1, 1, 0), (2, 1, 1, 1), (3, 1, 1, 1)]
            raw_planes = [y, cb, cr]
        elif subsampling == "420":
            comps = [(1, 2, 2, 0), (2, 1, 1, 1), (3, 1, 1, 1)]
            # 2x2 box-average chroma on an even-padded grid
            eh, ew = (h + 1) // 2 * 2, (w + 1) // 2 * 2
            raw_planes = [y] + [
                _pad_to(c, eh, ew).reshape(eh // 2, 2, ew // 2, 2).mean(axis=(1, 3))
                for c in (cb, cr)
            ]
        else:
            raise ValueError("subsampling must be '444' or '420'")
        qtables = {0: qy, 1: qc}
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    planes = [
        _pad_to(p, mcuy * v * 8, mcux * hh * 8)
        for p, (_, hh, v, _) in zip(raw_planes, comps)
    ]
    # pass 1: quantized blocks in interleaved MCU order + symbol freqs
    # (ONE shared DC and ONE shared AC table across components - legal,
    # since every component may reference table id 0)
    blocks = []  # (diff, syms, restart_before): pass 1 decides the
    # restart boundaries ONCE (DC reset here, marker emission below
    # consumes the same flag — the two can never disagree)
    preds = [0] * len(comps)
    dc_freq: dict[int, int] = {}
    ac_freq: dict[int, int] = {}
    mcu = 0
    for my in range(mcuy):
        for mx in range(mcux):
            restart_before = bool(
                restart_interval and mcu and mcu % restart_interval == 0
            )
            if restart_before:
                preds = [0] * len(comps)  # DC resets at each restart
            mcu += 1
            for ci, (_, hh, v, tq) in enumerate(comps):
                dq = qtables[tq]
                for vy in range(v):
                    for vx in range(hh):
                        y0 = (my * v + vy) * 8
                        x0 = (mx * hh + vx) * 8
                        blk = planes[ci][y0:y0 + 8, x0:x0 + 8] - 128.0
                        f = _DCT_A @ blk @ _DCT_A.T
                        zz = np.round(f.ravel() / dq).astype(np.int64)[_ZIGZAG]
                        diff, syms, preds[ci] = _block_syms(zz, preds[ci])
                        dc_freq[_category(diff)] = dc_freq.get(_category(diff), 0) + 1
                        for rs, _, _ in syms:
                            ac_freq[rs] = ac_freq.get(rs, 0) + 1
                        blocks.append((diff, syms, restart_before))
                        restart_before = False
    dc_bits, dc_vals, dc_codes = _canonical_huffman(dc_freq)
    ac_bits, ac_vals, ac_codes = _canonical_huffman(ac_freq)
    # pass 2: serialize
    out = bytearray(b"\xff\xd8")  # SOI
    for tq, dq in qtables.items():
        zz_q = np.empty(64, dtype=np.uint8)
        zz_q[:] = dq[_ZIGZAG]
        out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([tq]) + bytes(zz_q)
    out += b"\xff\xc0" + struct.pack(">HBHHB", 8 + 3 * len(comps), 8, h, w, len(comps))
    for cid, hh, v, tq in comps:
        out += bytes((cid, (hh << 4) | v, tq))
    for tc, bits, vals in ((0, dc_bits, dc_vals), (1, ac_bits, ac_vals)):
        out += b"\xff\xc4" + struct.pack(">H", 19 + len(vals))
        out += bytes([tc << 4]) + bytes(bits) + vals
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    out += b"\xff\xda" + struct.pack(">H", 6 + 2 * len(comps)) + bytes([len(comps)])
    for cid, *_ in comps:
        out += bytes((cid, 0x00))
    out += bytes((0, 63, 0))
    wtr = _BitWriter()
    n_restarts = 0
    for diff, syms, restart_before in blocks:
        if restart_before:
            wtr.emit_marker(0xD0 + n_restarts % 8)
            n_restarts += 1
        s = _category(diff)
        code, ln = dc_codes[s]
        wtr.write(code, ln)
        if s:
            wtr.write(_mag_bits(diff, s), s)
        for rs, v, s2 in syms:
            code, ln = ac_codes[rs]
            wtr.write(code, ln)
            if s2:
                wtr.write(_mag_bits(v, s2), s2)
    out += wtr.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def encode_jpeg_gray(pixels: "np.ndarray", quant: "np.ndarray" = None) -> bytes:
    """Greyscale wrapper over `encode_jpeg` (kept for the roundtrip
    tests' custom-quant path)."""
    return encode_jpeg(np.asarray(pixels, dtype=np.uint8), quant_luma=quant)


def _ac_first_ops(blocks, ss: int, se: int, al: int) -> list:
    """Symbol/bit op stream for one AC spectral-selection FIRST scan
    (T.81 G.1.2.2): zero runs + EOB runs over the band, magnitudes
    point-transformed by Al. Ops: ("h", sym) huffman / ("b", v, n) raw."""
    ops: list = []
    eobrun = 0

    def flush_eob():
        nonlocal eobrun
        if eobrun:
            r = eobrun.bit_length() - 1
            ops.append(("h", r << 4))
            if r:
                ops.append(("b", eobrun - (1 << r), r))
            eobrun = 0

    for zz in blocks:
        vs = [
            (abs(int(zz[k])) >> al) * (1 if zz[k] >= 0 else -1)
            for k in range(ss, se + 1)
        ]
        nz = [i for i, v in enumerate(vs) if v]
        if not nz:
            eobrun += 1
            if eobrun == 0x7FFF:
                flush_eob()
            continue
        flush_eob()
        run = 0
        for i in range(nz[-1] + 1):
            v = vs[i]
            if v == 0:
                run += 1
                continue
            while run > 15:
                ops.append(("h", 0xF0))
                run -= 16
            s = _category(v)
            ops.append(("h", (run << 4) | s))
            ops.append(("b", _mag_bits(v, s), s))
            run = 0
        if nz[-1] < len(vs) - 1:
            eobrun += 1
            if eobrun == 0x7FFF:
                flush_eob()
    flush_eob()
    return ops


def _ac_refine_ops(blocks, ss: int, se: int, al: int) -> list:
    """Symbol/bit op stream for one AC successive-approximation
    REFINEMENT scan (T.81 G.1.2.3). Correction bits are placed exactly
    where the paired decoder consumes them: after each symbol, the bits
    for history coefficients inside that symbol's advance range (a ZRL
    covers through its 16th zero-history position; a new-significant
    symbol covers through the position before the insertion point; an
    EOB covers the rest of every block in the run)."""
    ops: list = []
    eobrun = 0
    pending: list[int] = []  # corrections owed to the open EOB run

    def flush_eob():
        nonlocal eobrun, pending
        if eobrun:
            r = eobrun.bit_length() - 1
            ops.append(("h", r << 4))
            if r:
                ops.append(("b", eobrun - (1 << r), r))
            for b in pending:
                ops.append(("b", b, 1))
            pending = []
            eobrun = 0

    for zz in blocks:
        # per-position events over the band: 'z' zero-history zero,
        # ('c', bit) history correction, ('n', sign) newly significant
        events: list = []
        for k in range(ss, se + 1):
            c = int(zz[k])
            mag = abs(c)
            if mag >> (al + 1):  # history: nonzero in earlier passes
                events.append(("c", (mag >> al) & 1))
            elif mag >> al:  # newly significant this pass (|v| == 1)
                events.append(("n", 1 if c > 0 else 0))
            else:
                events.append(("z",))
        if not any(e[0] == "n" for e in events):
            eobrun += 1
            pending.extend(e[1] for e in events if e[0] == "c")
            if eobrun == 0x7FFF:
                flush_eob()
            continue
        flush_eob()
        i = 0
        last_n = max(j for j, e in enumerate(events) if e[0] == "n")
        while i <= last_n:
            # count zero-history zeros before the next 'n'
            run = 0
            j = i
            while events[j][0] != "n":
                if events[j][0] == "z":
                    run += 1
                j += 1
            while run > 15:
                ops.append(("h", 0xF0))
                zcnt = 0
                while zcnt < 16:  # consume through the 16th zero
                    e = events[i]
                    i += 1
                    if e[0] == "z":
                        zcnt += 1
                    else:  # 'c' inside the ZRL's advance range
                        ops.append(("b", e[1], 1))
                run -= 16
            sym_pos = len(ops)
            ops.append(("h", (run << 4) | 1))
            sign = None
            while True:  # consume up to and including the 'n'
                e = events[i]
                i += 1
                if e[0] == "n":
                    sign = e[1]
                    break
                if e[0] == "c":
                    ops.append(("b", e[1], 1))
            # the decoder reads the sign right after the symbol, BEFORE
            # its advance — the sign bit must precede the range
            # corrections appended above
            ops.insert(sym_pos + 1, ("b", sign, 1))
        # band positions remaining after the last insertion can only be
        # zeros/history — the decoder keeps reading symbols there, so
        # the block must close with an EOB whose run carries the
        # remaining history corrections
        if events[i:]:
            eobrun += 1
            pending.extend(e[1] for e in events[i:] if e[0] == "c")
            if eobrun == 0x7FFF:
                flush_eob()
    flush_eob()
    return ops


def encode_jpeg_progressive(
    pixels: "np.ndarray",
    subsampling: str = "444",
    quant_luma: "np.ndarray" = None,
    quant_chroma: "np.ndarray" = None,
) -> bytes:
    """Progressive JPEG encoder (T.81 SOF2 + Annex G): interleaved DC
    first + refinement scans (successive approximation Al=1→0) and
    per-component AC spectral-selection bands with successive
    approximation (Al=2→1→0, EOB runs, refinement correction bits) —
    the standard scan-script shape. Transmits the SAME quantized
    coefficients as `encode_jpeg`, so `decode_jpeg` of both streams is
    pixel-identical — that identity is the spec pin for the whole
    Annex-G path. Per-scan canonical huffman tables ride in DHT."""

    px = np.asarray(pixels, dtype=np.uint8)
    qy = _QT_K1 if quant_luma is None else np.asarray(quant_luma, np.int64).ravel()
    qc = _QT_K2 if quant_chroma is None else np.asarray(quant_chroma, np.int64).ravel()
    if px.ndim == 2:
        h, w = px.shape
        comps = [(1, 1, 1, 0)]
        raw_planes = [px.astype(np.float64)]
        qtables = {0: qy}
    else:
        h, w, _ = px.shape
        r_, g_, b_ = (px[..., c].astype(np.float64) for c in range(3))
        y = 0.299 * r_ + 0.587 * g_ + 0.114 * b_
        cb = 128.0 - 0.168736 * r_ - 0.331264 * g_ + 0.5 * b_
        cr = 128.0 + 0.5 * r_ - 0.418688 * g_ - 0.081312 * b_
        if subsampling == "444":
            comps = [(1, 1, 1, 0), (2, 1, 1, 1), (3, 1, 1, 1)]
            raw_planes = [y, cb, cr]
        elif subsampling == "420":
            comps = [(1, 2, 2, 0), (2, 1, 1, 1), (3, 1, 1, 1)]
            eh, ew = (h + 1) // 2 * 2, (w + 1) // 2 * 2
            raw_planes = [y] + [
                _pad_to(c, eh, ew).reshape(eh // 2, 2, ew // 2, 2).mean(axis=(1, 3))
                for c in (cb, cr)
            ]
        else:
            raise ValueError("subsampling must be '444' or '420'")
        qtables = {0: qy, 1: qc}
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    grids = []  # per component: (by, bx, 64) zigzag quantized coefs
    for p, (_, hh, v, tq) in zip(raw_planes, comps):
        plane = _pad_to(p, mcuy * v * 8, mcux * hh * 8)
        dq = qtables[tq]
        grid = np.zeros((mcuy * v, mcux * hh, 64), dtype=np.int64)
        for yy in range(mcuy * v):
            for xx in range(mcux * hh):
                blk = plane[yy * 8:yy * 8 + 8, xx * 8:xx * 8 + 8] - 128.0
                f = _DCT_A @ blk @ _DCT_A.T
                grid[yy, xx] = np.round(f.ravel() / dq).astype(np.int64)[_ZIGZAG]
        grids.append(grid)

    def mcu_dc_blocks():
        for my in range(mcuy):
            for mx in range(mcux):
                for ci, (_, hh, v, _) in enumerate(comps):
                    for vy in range(v):
                        for vx in range(hh):
                            yield ci, int(grids[ci][my * v + vy, mx * hh + vx, 0])

    def ac_blocks(ci):
        _, hh, v, _ = comps[ci]
        nby, nbx = _noninterleaved_block_dims(w, h, hh, v, hmax, vmax)
        for yy in range(nby):
            for xx in range(nbx):
                yield grids[ci][yy, xx]

    out = bytearray(b"\xff\xd8")
    for tq, dq in qtables.items():
        zz_q = np.empty(64, dtype=np.uint8)
        zz_q[:] = dq[_ZIGZAG]
        out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([tq]) + bytes(zz_q)
    out += b"\xff\xc2" + struct.pack(
        ">HBHHB", 8 + 3 * len(comps), 8, h, w, len(comps)
    )
    for cid, hh, v, tq in comps:
        out += bytes((cid, (hh << 4) | v, tq))

    def emit_scan(ops, scan_comps, ss, se, ah, al, table_class):
        """DHT (from this scan's symbols) + SOS + entropy data."""
        nonlocal out
        freqs: dict[int, int] = {}
        for op in ops:
            if op[0] == "h":
                freqs[op[1]] = freqs.get(op[1], 0) + 1
        codes = None
        if freqs:
            bits, vals, codes = _canonical_huffman(freqs)
            out += b"\xff\xc4" + struct.pack(">H", 19 + len(vals))
            out += bytes([table_class << 4]) + bytes(bits) + vals
        out += b"\xff\xda" + struct.pack(">H", 6 + 2 * len(scan_comps))
        out += bytes([len(scan_comps)])
        for cid in scan_comps:
            out += bytes((cid, 0x00))
        out += bytes((ss, se, (ah << 4) | al))
        wtr = _BitWriter()
        for op in ops:
            if op[0] == "h":
                code, ln = codes[op[1]]
                wtr.write(code, ln)
            else:
                wtr.write(op[1], op[2])
        out += wtr.flush()

    # scan 1: DC first, interleaved, Al=1
    dc_al = 1
    ops: list = []
    preds = [0] * len(comps)
    for ci, dc in mcu_dc_blocks():
        v = dc >> dc_al  # DC point transform is an arithmetic shift
        diff = v - preds[ci]
        preds[ci] = v
        s = _category(diff)
        ops.append(("h", s))
        if s:
            ops.append(("b", _mag_bits(diff, s), s))
    emit_scan(ops, [c[0] for c in comps], 0, 0, 0, dc_al, 0)
    # AC: spectral bands first at Al=2, then refinements 2→1→0
    for ci, (cid, *_rest) in enumerate(comps):
        for ss, se in ((1, 5), (6, 63)):
            emit_scan(
                _ac_first_ops(ac_blocks(ci), ss, se, 2), [cid], ss, se, 0, 2, 1
            )
    for ah, al in ((2, 1), (1, 0)):
        for ci, (cid, *_rest) in enumerate(comps):
            emit_scan(
                _ac_refine_ops(ac_blocks(ci), 1, 63, al),
                [cid], 1, 63, ah, al, 1,
            )
    # DC refinement: raw bits, no huffman table
    out += b"\xff\xda" + struct.pack(">H", 6 + 2 * len(comps))
    out += bytes([len(comps)])
    for cid, *_rest in comps:
        out += bytes((cid, 0x00))
    out += bytes((0, 0, (1 << 4) | 0))
    wtr = _BitWriter()
    for _ci, dc in mcu_dc_blocks():
        wtr.write(dc & 1, 1)
    out += wtr.flush()
    out += b"\xff\xd9"
    return bytes(out)
