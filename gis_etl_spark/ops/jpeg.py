"""Baseline JPEG decoder (ITU-T T.81, public spec), pure numpy/struct
— the last real image format a web-scale corpus hits weekly that the
engine lacked (BMP/PNG/WAV already decode content-exactly; real video
codecs remain the documented deviation).

Scope: baseline sequential DCT, 8-bit, Huffman entropy coding — the
profile every camera/browser emits: SOI / APPn-COM skipped / DQT /
SOF0 / DHT / optional DRI with RSTn resets / SOS / entropy-coded scan
/ EOI. 1-component (grayscale) and 3-component YCbCr scans at 4:4:4,
4:2:2 and 4:2:0 sampling. Progressive (SOF2), arithmetic coding, and
12-bit precision raise ValueError — fail-loudly, like every other
decoder here (a 100 TB corpus turns that into valid=False rows).

Determinism contract (what makes the fixture golden bit-exact): JPEG
is lossy, so the fixture cannot compare against pre-encode pixels the
way PNG does. Instead, everything after the entropy decode is pinned
to an INTEGER-EXACT reconstruction spec, implemented independently by
the fixture's loop-based reference (fixtures._jpeg_reconstruct_blocks)
and by this module's vectorized numpy:

- dequantization: quantized coefficient x quant-table entry — integer;
- inverse DCT: fixed-point with IDCT_K[u][x] =
  round(C(u) * cos((2x+1) * u * pi / 16) * 2^18) (C(0) = 1/sqrt(2));
  two integer matrix passes accumulate in int64, final rounding
  (raw + 2^37) >> 38 folds the 1/4 normalization (2^36 scale * 4);
  then +128 level shift, clip to 0..255;
- chroma upsampling: sample replication (nearest);
- YCbCr -> RGB: 16-bit fixed point,
  R = Y + (91881  * (Cr - 128) + 32768 >> 16)
  G = Y - (22554 * (Cb - 128) + 46802 * (Cr - 128) + 32768 >> 16)
  B = Y + (116130 * (Cb - 128) + 32768 >> 16), clip 0..255
  (the usual BT.601 factors scaled by 2^16; >> is arithmetic/floor).

Every step is integer, so vectorization order cannot change a single
output byte — the same trick the aHash cross-multiplication and the
fixedpoint aggregates use to keep cross-implementation parity exact.
"""

from __future__ import annotations

import struct

import numpy as np

# fixed-point IDCT basis: round(C(u) cos((2x+1)u*pi/16) * 2^18)
IDCT_K = np.array(
    [
        [185364, 185364, 185364, 185364, 185364, 185364, 185364, 185364],
        [257107, 217965, 145639, 51142, -51142, -145639, -217965, -257107],
        [242189, 100318, -100318, -242189, -242189, -100318, 100318, 242189],
        [217965, -51142, -257107, -145639, 145639, 257107, 51142, -217965],
        [185364, -185364, -185364, 185364, 185364, -185364, -185364, 185364],
        [145639, -257107, 51142, 217965, -217965, -51142, 257107, -145639],
        [100318, -242189, 242189, -100318, -100318, 242189, -242189, 100318],
        [51142, -145639, 217965, -257107, 257107, -217965, 145639, -51142],
    ],
    dtype=np.int64,
)

# zigzag scan order (T.81 figure 5): ZIGZAG[k] = (row, col) of the
# k-th transmitted coefficient, flattened to row*8+col
ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)


def idct_blocks_int(coef: np.ndarray) -> np.ndarray:
    """(n, 8, 8) int dequantized coefficient blocks -> (n, 8, 8) uint8
    samples via the fixed-point spec above. All-integer einsum passes,
    so the result is bit-identical to the fixture's loop reference."""
    c = coef.astype(np.int64)
    # tmp[n, u, y] = sum_v S[n, u, v] * K[v, y]
    tmp = np.einsum("nuv,vy->nuy", c, IDCT_K)
    # raw[n, x, y] = sum_u K[u, x] * tmp[n, u, y]
    raw = np.einsum("ux,nuy->nxy", IDCT_K, tmp)
    out = ((raw + (1 << 37)) >> 38) + 128
    return np.clip(out, 0, 255).astype(np.uint8)


def ycbcr_to_rgb_int(y: np.ndarray, cb: np.ndarray, cr: np.ndarray):
    """Integer-exact BT.601 upconvert per the module spec; inputs are
    equally-sized uint8 planes, output (h, w, 3) uint8."""
    yl = y.astype(np.int64)
    cbl = cb.astype(np.int64) - 128
    crl = cr.astype(np.int64) - 128
    r = yl + ((91881 * crl + 32768) >> 16)
    g = yl - ((22554 * cbl + 46802 * crl + 32768) >> 16)
    b = yl + ((116130 * cbl + 32768) >> 16)
    return np.clip(
        np.stack([r, g, b], axis=-1), 0, 255
    ).astype(np.uint8)


# Not an io.memo: executor-side memo of a pure function of DHT bytes (no input file).
_HUFF_LUT_CACHE: dict[bytes, tuple[list[int], list[int]]] = {}


class _HuffTable:
    """Canonical Huffman table from a DHT (bits[1..16], values) — the
    T.81 annex-C code construction: codes of each length assigned in
    value order, lengths ascending. Decode is a single 16-bit-window
    lookup: sym_lut/len_lut map every 16-bit prefix to its (unique,
    prefix-free) matching symbol and code length (0 = no valid code).
    The per-bit dict walk this replaces was 65% of whole-corpus media
    decode time (r8 bench profile); tables are cached by their DHT
    payload since files overwhelmingly share the standard tables."""

    __slots__ = ("sym_lut", "len_lut")

    def __init__(self, bits: list[int], vals: bytes):
        key = bytes(bits) + bytes(vals)
        cached = _HUFF_LUT_CACHE.get(key)
        if cached is not None:
            self.sym_lut, self.len_lut = cached
            return
        sym = np.zeros(1 << 16, dtype=np.int16)
        lnt = np.zeros(1 << 16, dtype=np.uint8)
        code = 0
        k = 0
        for ln in range(1, 17):
            for _ in range(bits[ln - 1]):
                base = code << (16 - ln)
                span = 1 << (16 - ln)
                if 0 <= base and base + span <= 1 << 16:
                    # out-of-range codes (malformed DHT overflow) are
                    # unreachable in a 16-bit read — skip, matching the
                    # old dict's acceptance set exactly
                    sym[base : base + span] = vals[k]
                    lnt[base : base + span] = ln
                code += 1
                k += 1
            code <<= 1
        self.sym_lut = sym.tolist()
        self.len_lut = lnt.tolist()
        if len(_HUFF_LUT_CACHE) < 64:
            _HUFF_LUT_CACHE[key] = (self.sym_lut, self.len_lut)


class _BitReader:
    """MSB-first reader over the entropy-coded segment. The raw scan
    is pre-split ONCE (vectorized 0xFF scan) into restart segments of
    unstuffed bytes, each materialized as a per-byte array of 32-bit
    windows, so decode/receive are O(1) index+shift operations instead
    of per-bit fills. Error behavior matches the old per-bit reader:
    demanding bits past a segment's end raises the ValueError the old
    _fill raised for that boundary (EOF / 0xFF-at-EOF / RST inside a
    symbol / foreign marker), and a 16-bit window with no valid prefix
    code raises the invalid-Huffman error."""

    __slots__ = ("segs", "si", "u", "nbits", "endmark", "bitpos")

    def __init__(self, buf: bytes, pos: int):
        arr = np.frombuffer(buf, np.uint8, len(buf) - pos, pos)
        segs: list[tuple[bytes, object]] = []
        chunks: list[bytes] = []
        cur = 0
        end: object = None
        broke = False
        for f in np.flatnonzero(arr == 0xFF):
            f = int(f)
            if f < cur:
                continue
            if f + 1 >= len(arr):
                chunks.append(arr[cur:f].tobytes())
                end = "trunc_ff"
                broke = True
                break
            m = int(arr[f + 1])
            if m == 0x00:  # stuffed data byte
                chunks.append(arr[cur : f + 1].tobytes())
                cur = f + 2
            elif 0xD0 <= m <= 0xD7:  # restart marker ends a segment
                chunks.append(arr[cur:f].tobytes())
                segs.append((b"".join(chunks), m))
                chunks = []
                cur = f + 2
            else:  # foreign marker (EOI, ...) ends the scan
                chunks.append(arr[cur:f].tobytes())
                end = m
                broke = True
                break
        if not broke:
            chunks.append(arr[cur:].tobytes())
        segs.append((b"".join(chunks), end))
        self.segs = segs
        self.si = 0
        self._load()

    def _load(self) -> None:
        seg, mark = self.segs[self.si]
        a = np.frombuffer(seg + b"\x00\x00\x00", np.uint8).astype(
            np.uint32
        )
        n = len(seg)
        win = (
            (a[:n] << 24) | (a[1 : n + 1] << 16)
            | (a[2 : n + 2] << 8) | a[3 : n + 3]
        )
        # array('I'), not .tolist(): indexing still yields plain Python
        # ints (no np-scalar arithmetic in the hot loop) at 4 bytes per
        # window instead of ~40 for a list of boxed ints — a 10 MB scan
        # would otherwise hold ~400 MB (r8 review finding)
        import array as _array  # noqa: PLC0415

        self.u = _array.array("I", win.tobytes())
        self.nbits = 8 * n
        self.endmark = mark
        self.bitpos = 0

    def _end_error(self):
        m = self.endmark
        if m is None:
            raise ValueError("JPEG scan truncated")
        if m == "trunc_ff":
            raise ValueError("JPEG scan truncated at 0xFF")
        if 0xD0 <= m <= 0xD7:
            raise ValueError("unexpected RST inside symbol")
        raise ValueError(f"marker 0x{m:02x} inside scan data")

    def read_bit(self) -> int:
        bp = self.bitpos
        if bp >= self.nbits:
            self._end_error()
        self.bitpos = bp + 1
        return (self.u[bp >> 3] >> (31 - (bp & 7))) & 1

    def receive(self, n: int) -> int:
        if n == 0:
            return 0
        bp = self.bitpos
        if n <= 16:
            if bp + n > self.nbits:
                self._end_error()
            self.bitpos = bp + n
            w = (self.u[bp >> 3] >> (16 - (bp & 7))) & 0xFFFF
            return w >> (16 - n)
        v = 0  # degenerate wide magnitudes keep the per-bit semantics
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def decode(self, table: _HuffTable) -> int:
        bp = self.bitpos
        rem = self.nbits - bp
        if rem <= 0:
            self._end_error()
        w = (self.u[bp >> 3] >> (16 - (bp & 7))) & 0xFFFF
        ln = table.len_lut[w]
        if ln == 0:
            if rem >= 16:
                raise ValueError("invalid Huffman code in JPEG scan")
            self._end_error()  # ran out of segment mid-code
        if ln > rem:
            self._end_error()
        self.bitpos = bp + ln
        return table.sym_lut[w]

    def align_and_expect_rst(self, idx: int) -> None:
        """Byte-align and consume the next RSTn marker (DRI mode)."""
        aligned = (self.bitpos + 7) & ~7
        m = self.endmark
        if (
            aligned != self.nbits
            or not isinstance(m, int)
            or m != 0xD0 + (idx & 7)
        ):
            raise ValueError("missing/mismatched RST marker")
        self.si += 1
        self._load()


def _extend(v: int, t: int) -> int:
    """T.81 EXTEND: map t-bit magnitude v to its signed value."""
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def decode_jpeg(buf: bytes) -> np.ndarray:
    """Baseline JPEG -> (h, w, 3) uint8 RGB (grayscale replicates the
    luma plane). Raises ValueError outside the baseline subset or on
    structural damage."""
    if len(buf) < 4 or buf[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (no SOI)")
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], _HuffTable] = {}  # (class, id)
    comps: list[tuple[int, int, int, int]] = []  # (cid, hs, vs, tq)
    h = w = 0
    restart_interval = 0
    pos = 2
    while True:
        if pos + 4 > len(buf):
            raise ValueError("JPEG truncated before SOS")
        if buf[pos] != 0xFF:
            raise ValueError(f"expected marker at {pos}")
        marker = buf[pos + 1]
        if marker == 0xD8:
            raise ValueError("nested SOI")
        seglen = struct.unpack_from(">H", buf, pos + 2)[0]
        if seglen < 2:
            raise ValueError("bad JPEG segment length")
        body = buf[pos + 4 : pos + 2 + seglen]
        if len(body) != seglen - 2:
            raise ValueError("JPEG segment truncated")
        if marker == 0xDB:  # DQT (possibly several tables)
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0xF
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                if i + 65 > len(body):
                    raise ValueError("DQT table truncated")
                tbl = np.zeros(64, dtype=np.int64)
                tbl[ZIGZAG] = np.frombuffer(
                    body, np.uint8, 64, i + 1
                ).astype(np.int64)
                qt[tq] = tbl.reshape(8, 8)
                i += 65
        elif marker == 0xC4:  # DHT (possibly several tables)
            i = 0
            while i < len(body):
                if i + 17 > len(body):
                    raise ValueError("DHT header truncated")
                tc, th = body[i] >> 4, body[i] & 0xF
                bits = list(body[i + 1 : i + 17])
                n = sum(bits)
                if i + 17 + n > len(body):
                    raise ValueError("DHT values truncated")
                huff[(tc, th)] = _HuffTable(
                    bits, body[i + 17 : i + 17 + n]
                )
                i += 17 + n
        elif marker == 0xC0:  # SOF0 baseline
            if len(body) < 6:
                raise ValueError("SOF0 header truncated")
            prec, h, w, nc = struct.unpack_from(">BHHB", body, 0)
            if prec != 8:
                raise ValueError("only 8-bit precision supported")
            if nc not in (1, 3):
                raise ValueError(f"unsupported component count {nc}")
            if len(body) < 6 + 3 * nc:
                raise ValueError("SOF0 component table truncated")
            for c in range(nc):
                cid, hv, tq = struct.unpack_from(">BBB", body, 6 + 3 * c)
                if not (1 <= hv >> 4 <= 4 and 1 <= hv & 0xF <= 4):
                    raise ValueError("bad SOF sampling factors")
                comps.append((cid, hv >> 4, hv & 0xF, tq))
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"non-baseline JPEG (SOF marker 0x{marker:02x})"
            )
        elif marker == 0xDD:  # DRI
            if len(body) < 2:
                raise ValueError("DRI segment truncated")
            restart_interval = struct.unpack_from(">H", body, 0)[0]
        elif marker == 0xDA:  # SOS
            break
        # APPn / COM / anything else: skip
        pos += 2 + seglen
    if not comps or h == 0 or w == 0:
        raise ValueError("missing SOF before SOS")

    # SOS body: component -> (dc table, ac table)
    if not body:
        raise ValueError("SOS header truncated")
    ns = body[0]
    if ns != len(comps):
        raise ValueError("SOS component count mismatch")
    if len(body) < 1 + 2 * ns:
        raise ValueError("SOS component selectors truncated")
    sel: dict[int, tuple[int, int]] = {}
    for c in range(ns):
        cs, tt = body[1 + 2 * c], body[2 + 2 * c]
        sel[cs] = (tt >> 4, tt & 0xF)
    if any(cid not in sel for cid, _, _, _ in comps):
        raise ValueError("SOS/SOF component id mismatch")
    scan_start = pos + 2 + seglen

    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)

    # collect every block's coefficients first (Python Huffman walk),
    # then dequant + IDCT all blocks per component in ONE vectorized
    # integer pass
    blocks: dict[int, list] = {ci: [] for ci in range(len(comps))}
    reader = _BitReader(buf, scan_start)
    pred = [0] * len(comps)
    rst_idx = 0
    n_mcu = 0
    for _ in range(mcuy):
        for _ in range(mcux):
            if restart_interval and n_mcu and n_mcu % restart_interval == 0:
                reader.align_and_expect_rst(rst_idx)
                rst_idx += 1
                pred = [0] * len(comps)
            for ci, (cid, hs, vs, _tq) in enumerate(comps):
                dct, act = sel[cid]
                dc_tab = huff.get((0, dct))
                ac_tab = huff.get((1, act))
                if dc_tab is None or ac_tab is None:
                    raise ValueError("scan references missing DHT")
                for _b in range(hs * vs):
                    zz = [0] * 64
                    t = reader.decode(dc_tab)
                    diff = _extend(reader.receive(t), t)
                    pred[ci] += diff
                    zz[0] = pred[ci]
                    k = 1
                    while k < 64:
                        rs = reader.decode(ac_tab)
                        r, s = rs >> 4, rs & 0xF
                        if s == 0:
                            if r == 15:  # ZRL
                                k += 16
                                continue
                            break  # EOB
                        k += r
                        if k > 63:
                            raise ValueError("AC run past block end")
                        zz[k] = _extend(reader.receive(s), s)
                        k += 1
                    blocks[ci].append(zz)
            n_mcu += 1

    # vectorized integer dequant + IDCT per component
    planes: list[np.ndarray] = []
    for ci, (cid, hs, vs, tq) in enumerate(comps):
        if tq not in qt:
            raise ValueError("SOF references missing DQT")
        zzs = np.array(blocks[ci], dtype=np.int64)  # (n, 64) zigzag
        coef = np.zeros((len(zzs), 64), dtype=np.int64)
        coef[:, ZIGZAG] = zzs
        px = idct_blocks_int(
            (coef * qt[tq].reshape(1, 64)).reshape(-1, 8, 8)
        )
        # blocks arrive MCU-major, vs*hs per MCU, row-major inside
        bw, bh = mcux * hs, mcuy * vs  # blocks per row / column
        plane = np.zeros((bh * 8, bw * 8), dtype=np.uint8)
        i = 0
        for my in range(mcuy):
            for mx in range(mcux):
                for by in range(vs):
                    for bx in range(hs):
                        plane[
                            (my * vs + by) * 8 : (my * vs + by) * 8 + 8,
                            (mx * hs + bx) * 8 : (mx * hs + bx) * 8 + 8,
                        ] = px[i]
                        i += 1
        # upsample by replication to the full MCU grid, crop to (h, w)
        plane = plane.repeat(vmax // vs, axis=0).repeat(hmax // hs, axis=1)
        planes.append(plane[:h, :w])

    if len(planes) == 1:
        y = planes[0]
        return np.stack([y, y, y], axis=-1)
    return ycbcr_to_rgb_int(planes[0], planes[1], planes[2])


def jpeg_header(buf: bytes) -> tuple[int, int]:
    """Header-only (width, height): marker walk to SOF0, no entropy
    decode — the cheap metadata path."""
    if len(buf) < 4 or buf[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (no SOI)")
    pos = 2
    while pos + 4 <= len(buf):
        if buf[pos] != 0xFF:
            raise ValueError(f"expected marker at {pos}")
        marker = buf[pos + 1]
        seglen = struct.unpack_from(">H", buf, pos + 2)[0]
        if seglen < 2:
            raise ValueError("bad JPEG segment length")
        if marker == 0xC0:
            if pos + 10 > len(buf):
                raise ValueError("SOF0 header truncated")
            _, h, w, _ = struct.unpack_from(">BHHB", buf, pos + 4)
            if h == 0 or w == 0:
                raise ValueError("bad JPEG dimensions")
            return w, h
        if marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                      0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"non-baseline JPEG (SOF marker 0x{marker:02x})"
            )
        if marker == 0xDA:
            break
        pos += 2 + seglen
    raise ValueError("no SOF0 before SOS")
