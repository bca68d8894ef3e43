"""REAL JPEG codec (round 8) — pure Python + numpy, both directions,
no libjpeg: marker parse, DQT/DHT table handling, huffman entropy
coding with byte stuffing (decode via a cached 16-bit-peek LUT — one
lookup per symbol), DC prediction, AC run-length/EOB/ZRL, zigzag,
quantization, and the 2-D DCT/IDCT.

Decode coverage: baseline sequential grayscale; 3-component YCbCr with
4:2:0/4:2:2/4:4:4 luma sampling and unsubsampled chroma (luma-plane
extraction); restart intervals (DRI/RSTn); and PROGRESSIVE (SOF2) —
multi-scan spectral selection with DC and AC successive approximation
and EOB-run semantics. Remaining exotics (arithmetic coding, 12-bit,
hierarchical, subsampled-chroma reconstruction beyond the luma plane)
raise ``NotImplementedError`` — the honest-partial convention of the
PNG/GIF/WAV/Y4M codecs in `multimodal.py`.

Exactness note for the gates: a block-CONSTANT 8x8 region has all AC
coefficients exactly 0 and an exactly-representable DC, so with the
quant tables used by :func:`encode_jpeg_gray` the decode is bit-exact —
fixtures built from per-block constants give closed-form oracles while
the decoder remains a genuine JPEG decoder for arbitrary baseline
grayscale input (lossy, like every JPEG roundtrip).
"""

from __future__ import annotations

import struct

#: raster index of each zigzag position (JPEG spec Figure A.6)
ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

#: Annex K standard luminance huffman tables: (bits[1..16], values)
DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_VALS = list(range(12))
AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]


#: progressive-scan AC table: every EOBn (n=0..14), ZRL, and
#: (run 0-15, cat 1-10) symbol as a flat 8-bit canonical code — 176
#: codes, all-ones unused. Sequential Annex K tables lack EOBn.
AC_PROG_VALS = []
for _r in range(16):
    for _c in range(11):
        if _c == 0:
            AC_PROG_VALS.append(0xF0 if _r == 15 else _r << 4)
        else:
            AC_PROG_VALS.append((_r << 4) | _c)
AC_PROG_BITS = [0] * 7 + [len(AC_PROG_VALS)] + [0] * 8


def _canonical_codes(bits, vals):
    """(symbol -> (code, length)) per the canonical JPEG algorithm."""
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _decode_table(bits, vals):
    """((length, code) -> symbol) for the decoder."""
    enc = _canonical_codes(bits, vals)
    return {(ln, code): sym for sym, (code, ln) in enc.items()}


def _dct_matrix():
    import math

    import numpy as np

    m = np.empty((8, 8), dtype=np.float64)
    for u in range(8):
        cu = math.sqrt(0.125) if u == 0 else 0.5
        for x in range(8):
            m[u, x] = cu * math.cos((2 * x + 1) * u * math.pi / 16.0)
    return m


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, value: int, length: int) -> None:
        # value-at-a-time (not bit-at-a-time): shift the whole code into
        # the accumulator and drain full bytes with stuffing
        acc = (self.acc << length) | (value & ((1 << length) - 1))
        n = self.n + length
        while n >= 8:
            n -= 8
            b = (acc >> n) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing
        self.acc = acc & ((1 << n) - 1)
        self.n = n

    def flush(self) -> bytes:
        if self.n:
            pad = 8 - self.n
            self.write((1 << pad) - 1, pad)  # 1-padding per spec
        return bytes(self.out)

    def restart(self, n: int) -> None:
        """Byte-align with 1-padding and emit the RSTn marker
        (written raw — markers are never byte-stuffed)."""
        if self.n:
            pad = 8 - self.n
            self.write((1 << pad) - 1, pad)
        self.out += bytes([0xFF, 0xD0 + (n % 8)])


#: (sorted table content) -> 65536-entry LUT mapping a 16-bit peek to
#: (symbol, code_length). Huffman codes are <= 16 bits, so one table
#: lookup replaces the bit-by-bit walk — the decode hot path. Cached
#: module-wide: real corpora reuse the same few tables across blobs.
_LUT_CACHE: dict[tuple, list] = {}


def _huff_lut(table: dict) -> list:
    key = tuple(sorted(
        (ln, code, sym) for (ln, code), sym in table.items()))
    lut = _LUT_CACHE.get(key)
    if lut is None:
        lut = [None] * 65536
        for (ln, code), sym in table.items():
            base = code << (16 - ln)
            entry = (sym, ln)
            for k in range(1 << (16 - ln)):
                lut[base + k] = entry
        _LUT_CACHE[key] = lut
    return lut


class _BitReader:
    """MSB-first bit reader over entropy-coded data with byte
    unstuffing. Bits buffer in an int accumulator refilled bytewise;
    huffman symbols decode with ONE 16-bit-peek LUT lookup instead of
    per-bit tree walking. A non-RST marker mid-stream stops the refill
    (the scan slice genuinely ends there), and running dry raises."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.n = 0

    def _fill(self) -> None:
        data, pos, n = self.data, self.pos, self.n
        acc = self.acc & ((1 << n) - 1)   # drop consumed high bits
        while n <= 24 and pos < len(data):
            b = data[pos]
            if b == 0xFF:
                if pos + 1 >= len(data) or data[pos + 1] != 0x00:
                    break                      # marker: stop refilling
                pos += 2
            else:
                pos += 1
            acc = (acc << 8) | b
            n += 8
        self.acc, self.pos, self.n = acc, pos, n

    def read_bit(self) -> int:
        return self.read(1)

    def read(self, length: int) -> int:
        if length == 0:
            return 0
        if self.n < length:
            self._fill()
            if self.n < length:
                raise ValueError("entropy data exhausted")
        self.n -= length
        v = (self.acc >> self.n) & ((1 << length) - 1)
        return v

    def read_code(self, lut: list) -> int:
        """Decode one huffman symbol via the 16-bit peek LUT."""
        if self.n < 16:
            self._fill()
        if self.n >= 16:
            peek = (self.acc >> (self.n - 16)) & 0xFFFF
        else:
            if self.n == 0:
                raise ValueError("entropy data exhausted")
            # tail: pad with 1s (the spec's padding bits)
            pad = 16 - self.n
            peek = ((self.acc << pad) | ((1 << pad) - 1)) & 0xFFFF
        entry = lut[peek]
        if entry is None:
            raise ValueError("invalid huffman code")
        sym, ln = entry
        if ln > self.n:
            raise ValueError("entropy data exhausted")
        self.n -= ln
        return sym

    def expect_restart(self, n: int) -> None:
        """Discard padding bits to the byte boundary and consume the
        expected RSTn marker."""
        self.n = 0
        self.acc = 0
        if self.pos + 2 > len(self.data):
            raise ValueError("truncated restart marker")
        if self.data[self.pos] != 0xFF or \
                self.data[self.pos + 1] != 0xD0 + (n % 8):
            raise ValueError(
                f"expected RST{n % 8} at offset {self.pos}, got "
                f"{self.data[self.pos:self.pos + 2]!r}")
        self.pos += 2


def _category(v: int) -> tuple[int, int]:
    """(category, appended-bits) for a DC diff / AC value."""
    if v == 0:
        return 0, 0
    cat = abs(v).bit_length()
    bits = v if v >= 0 else v + (1 << cat) - 1
    return cat, bits


def _extend(bits: int, cat: int) -> int:
    if cat == 0:
        return 0
    if bits < (1 << (cat - 1)):
        return bits - (1 << cat) + 1
    return bits


def encode_jpeg_gray(
    width: int, height: int, pixels: bytes | None = None, seed: int = 0,
    q_dc: int = 8, q_ac: int = 8,
) -> bytes:
    """A REAL baseline JFIF-style grayscale JPEG: standard huffman
    tables, flat quant table (``q_dc`` for DC, ``q_ac`` for AC), full
    DCT + quantization + entropy coding. ``pixels=None`` fills
    BLOCK-CONSTANT fixture content — ``px[y][x] = ((x//8)*31 +
    (y//8)*17 + seed) % 256`` — whose decode is bit-exact (all AC are
    exactly 0; see module docstring). Arbitrary ``pixels`` (row-major
    ``width*height`` bytes) encode lossily like any JPEG."""
    import numpy as np

    if width <= 0 or height <= 0:
        raise ValueError("width/height must be positive")
    if pixels is None:
        pixels = bytes(
            ((x // 8) * 31 + (y // 8) * 17 + seed) % 256
            for y in range(height) for x in range(width))
    if len(pixels) != width * height:
        raise ValueError("pixels length != width*height")
    img = np.frombuffer(bytes(pixels), dtype=np.uint8).reshape(
        height, width).astype(np.float64)
    bw = (width + 7) // 8 * 8
    bh = (height + 7) // 8 * 8
    padded = np.empty((bh, bw))
    padded[:height, :width] = img
    padded[:height, width:] = img[:, -1:]            # edge replication
    padded[height:, :] = padded[height - 1:height, :]

    quant = np.full((8, 8), float(q_ac))
    quant[0, 0] = float(q_dc)
    m = _dct_matrix()
    dc_enc = _canonical_codes(DC_BITS, DC_VALS)
    ac_enc = _canonical_codes(AC_BITS, AC_VALS)
    w = _BitWriter()
    prev_dc = 0
    for by in range(0, bh, 8):
        for bx in range(0, bw, 8):
            block = padded[by:by + 8, bx:bx + 8] - 128.0
            coef = m @ block @ m.T
            qz = coef / quant
            qi = np.where(qz >= 0, np.floor(qz + 0.5),
                          np.ceil(qz - 0.5)).astype(np.int64)
            zz = [int(qi.flat[ZIGZAG[i]]) for i in range(64)]
            diff = zz[0] - prev_dc
            prev_dc = zz[0]
            cat, bits = _category(diff)
            code, ln = dc_enc[cat]
            w.write(code, ln)
            if cat:
                w.write(bits, cat)
            run = 0
            last_nz = max(
                (i for i in range(1, 64) if zz[i]), default=0)
            for i in range(1, last_nz + 1):
                if zz[i] == 0:
                    run += 1
                    continue
                while run > 15:
                    code, ln = ac_enc[0xF0]          # ZRL
                    w.write(code, ln)
                    run -= 16
                cat, bits = _category(zz[i])
                code, ln = ac_enc[(run << 4) | cat]
                w.write(code, ln)
                w.write(bits, cat)
                run = 0
            if last_nz < 63:
                code, ln = ac_enc[0x00]              # EOB
                w.write(code, ln)
    scan = w.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    dqt = bytes([0x00]) + bytes(
        int(quant.flat[ZIGZAG[i]]) for i in range(64))
    sof = struct.pack(">BHHB", 8, height, width, 1) + bytes([1, 0x11, 0])
    dht = (bytes([0x00]) + bytes(DC_BITS) + bytes(DC_VALS)
           + bytes([0x10]) + bytes(AC_BITS) + bytes(AC_VALS))
    sos = bytes([1, 1, 0x00, 0, 63, 0])
    return (b"\xff\xd8"                       # SOI
            + seg(0xFFDB, dqt) + seg(0xFFC0, sof)
            + seg(0xFFC4, dht) + seg(0xFFDA, sos)
            + scan + b"\xff\xd9")             # EOI


def _scan_entropy_end(b: bytes, start: int) -> int:
    """End of an entropy-coded segment: the next marker that is neither
    a stuffed 0x00 nor a restart (RST0-7)."""
    p = start
    while p + 1 < len(b):
        if b[p] == 0xFF and b[p + 1] != 0x00 and not (
                0xD0 <= b[p + 1] <= 0xD7):
            return p
        p += 1 if b[p] != 0xFF else 2
    raise ValueError("unterminated entropy segment")


def decode_jpeg_gray(blob: bytes) -> tuple[int, int, bytes]:
    """REAL decode of a baseline OR progressive JPEG to GRAYSCALE:
    marker walk, DQT/DHT parsing (any tables the file declares), full
    huffman entropy decode with byte unstuffing, per-component DC
    prediction, AC run-length/EOB/ZRL, restart intervals (DRI/RSTn),
    dezigzag, dequantization, and the float IDCT with clamping.

    - Single-component images decode directly; 3-component YCbCr with
      4:2:0/4:2:2/4:4:4 luma sampling and unsubsampled chroma decode
      their LUMA plane (gray = Y; chroma blocks are entropy-decoded
      and discarded).
    - PROGRESSIVE (SOF2) images decode fully: multi-scan spectral
      selection, DC and AC successive approximation (first scans +
      refinement scans with EOB-run semantics), with coefficients
      accumulated across scans and one final IDCT.

    Returns ``(width, height, pixels)`` row-major. Remaining exotics
    (arithmetic coding, hierarchical, 12-bit) raise
    ``NotImplementedError``; structural damage raises ``ValueError``."""
    import numpy as np

    b = bytes(blob)
    if b[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    quants: dict[int, list[int]] = {}
    dc_tables: dict[int, dict] = {}
    ac_tables: dict[int, dict] = {}
    width = height = None
    progressive = False
    components: list[dict] = []       # SOF order: id, h, v, tq
    restart_interval = 0
    scans: list[dict] = []
    while pos + 2 <= len(b):
        if b[pos] != 0xFF:
            raise ValueError(f"expected marker at offset {pos}")
        marker = b[pos + 1]
        if marker == 0xD9:
            break
        (length,) = struct.unpack(">H", b[pos + 2:pos + 4])
        payload = b[pos + 4:pos + 2 + length]
        if marker == 0xDB:                    # DQT
            p = 0
            while p < len(payload):
                pq, tq = payload[p] >> 4, payload[p] & 0x0F
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables")
                quants[tq] = list(payload[p + 1:p + 65])
                p += 65
        elif marker in (0xC0, 0xC2):          # SOF0 / SOF2
            progressive = marker == 0xC2
            precision, height, width, ncomp = struct.unpack(
                ">BHHB", payload[:6])
            if precision != 8:
                raise NotImplementedError(f"{precision}-bit precision")
            if ncomp not in (1, 3):
                raise NotImplementedError(f"{ncomp}-component JPEG")
            for ci in range(ncomp):
                cid = payload[6 + 3 * ci]
                hv = payload[7 + 3 * ci]
                components.append({
                    "id": cid, "h": hv >> 4, "v": hv & 0x0F,
                    "tq": payload[8 + 3 * ci]})
            if ncomp == 3:
                for c in components[1:]:
                    if (c["h"], c["v"]) != (1, 1):
                        raise NotImplementedError(
                            "subsampled chroma components")
                if not (1 <= components[0]["h"] <= 2
                        and 1 <= components[0]["v"] <= 2):
                    raise NotImplementedError(
                        f"luma sampling {components[0]['h']}x"
                        f"{components[0]['v']}")
            elif components[0]["h"] != 1 or components[0]["v"] != 1:
                raise NotImplementedError("subsampled single component")
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"SOF{marker - 0xC0} (baseline/progressive only)")
        elif marker == 0xC4:                  # DHT
            p = 0
            while p < len(payload):
                tc, th = payload[p] >> 4, payload[p] & 0x0F
                bits = list(payload[p + 1:p + 17])
                n = sum(bits)
                vals = list(payload[p + 17:p + 17 + n])
                table = _decode_table(bits, vals)
                (dc_tables if tc == 0 else ac_tables)[th] = dict(table)
                p += 17 + n
        elif marker == 0xDD:                  # DRI
            (restart_interval,) = struct.unpack(">H", payload[:2])
        elif marker == 0xDA:                  # SOS
            if not components:
                raise ValueError("SOS before SOF")
            ns = payload[0]
            by_id = {c["id"]: c for c in components}
            scan_comps = []
            for ci in range(ns):
                cid = payload[1 + 2 * ci]
                if cid not in by_id:
                    raise ValueError(f"SOS references unknown id {cid}")
                scan_comps.append({
                    "comp": by_id[cid],
                    "dc_t": dict(dc_tables.get(
                        payload[2 + 2 * ci] >> 4, {})),
                    "ac_t": dict(ac_tables.get(
                        payload[2 + 2 * ci] & 0x0F, {})),
                })
            ss, se = payload[1 + 2 * ns], payload[2 + 2 * ns]
            ahal = payload[3 + 2 * ns]
            data_start = pos + 2 + length
            data_end = _scan_entropy_end(b, data_start)
            scans.append({
                "comps": scan_comps, "ss": ss, "se": se,
                "ah": ahal >> 4, "al": ahal & 0x0F,
                "data": b[data_start:data_end],
                "ri": restart_interval,
            })
            pos = data_end
            continue
        pos += 2 + length
    if width is None or not scans:
        raise ValueError("missing SOF/SOS")
    if not progressive and len(scans) != 1:
        raise NotImplementedError("multi-scan sequential JPEG")
    if not progressive:
        sc = scans[0]
        if sc["ss"] != 0 or sc["se"] != 63 or sc["ah"] or sc["al"]:
            raise ValueError("sequential scan must cover band 0-63")

    luma = components[0]
    h1, v1 = luma["h"], luma["v"]
    hmax = max(c["h"] for c in components)
    vmax = max(c["v"] for c in components)
    mcus_x = (width + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (height + 8 * vmax - 1) // (8 * vmax)
    # per-component coefficient planes (zigzag order), MCU-padded
    for c in components:
        c["bw"] = mcus_x * c["h"]
        c["bh"] = mcus_y * c["v"]
        c["coef"] = np.zeros((c["bh"] * c["bw"], 64), dtype=np.int32)
        c["pred"] = 0
        # non-interleaved block grid (spec A.2.2): the component's own
        # spatial extent, not the MCU-padded one
        cw = (width * c["h"] + hmax - 1) // hmax
        ch = (height * c["v"] + vmax - 1) // vmax
        c["nbx"] = (cw + 7) // 8
        c["nby"] = (ch + 7) // 8

    for sc in scans:
        _decode_scan(sc, components, mcus_x, mcus_y, progressive)

    # dequant + IDCT for the luma plane only
    m = _dct_matrix()
    qraster = np.empty((8, 8))
    if luma["tq"] not in quants:
        raise ValueError("missing quant table")
    for i in range(64):
        qraster.flat[ZIGZAG[i]] = quants[luma["tq"]][i]
    out = np.empty((luma["bh"] * 8, luma["bw"] * 8), dtype=np.uint8)
    for byi in range(luma["bh"]):
        for bxi in range(luma["bw"]):
            zz = luma["coef"][byi * luma["bw"] + bxi]
            coef = np.empty((8, 8))
            for k in range(64):
                coef.flat[ZIGZAG[k]] = zz[k]
            block = m.T @ (coef * qraster) @ m + 128.0
            out[byi * 8:byi * 8 + 8, bxi * 8:bxi * 8 + 8] = np.clip(
                np.floor(block + 0.5), 0, 255).astype(np.uint8)
    return width, height, bytes(out[:height, :width].tobytes())


def _decode_scan(sc, components, mcus_x, mcus_y, progressive) -> None:
    """Entropy-decode one scan into the components' coefficient
    planes. Handles interleaved DC/full scans, non-interleaved band
    scans, restart intervals, and (progressive) EOB runs + successive
    approximation refinement."""
    r = _BitReader(sc["data"])
    ss, se, ah, al = sc["ss"], sc["se"], sc["ah"], sc["al"]
    ri = sc["ri"]
    state = {"eobrun": 0}
    for entry in sc["comps"]:
        entry["comp"]["pred"] = 0
        entry["dc_lut"] = _huff_lut(entry["dc_t"])
        entry["ac_lut"] = _huff_lut(entry["ac_t"])

    if progressive and ss == 0 and se != 0:
        raise ValueError("progressive DC scan must have Se=0")
    if progressive and ss > 0 and len(sc["comps"]) != 1:
        raise ValueError("progressive AC scan must be single-component")

    def decode_block_band(entry, idx) -> None:
        c = entry["comp"]
        zz = c["coef"][idx]
        if ss == 0 and ah == 0:
            cat = r.read_code(entry["dc_lut"])
            c["pred"] += _extend(r.read(cat), cat)
            zz[0] = c["pred"] << al
            if not progressive or se == 63:
                k = 1
                while k <= se:
                    rs = r.read_code(entry["ac_lut"])
                    run, cat = rs >> 4, rs & 0x0F
                    if rs == 0x00:
                        break
                    if rs == 0xF0:
                        k += 16
                        continue
                    k += run
                    if k > se:
                        raise ValueError("AC run overflows band")
                    zz[k] = _extend(r.read(cat), cat)
                    k += 1
        elif ss == 0:                         # DC refinement
            if r.read_bit():
                zz[0] |= 1 << al
        elif ah == 0:                         # AC first scan
            if state["eobrun"] > 0:
                state["eobrun"] -= 1
                return
            k = ss
            while k <= se:
                rs = r.read_code(entry["ac_lut"])
                run, cat = rs >> 4, rs & 0x0F
                if cat == 0:
                    if run < 15:
                        state["eobrun"] = (1 << run) - 1
                        if run:
                            state["eobrun"] += r.read(run)
                        break
                    k += 16                    # ZRL
                    continue
                k += run
                if k > se:
                    raise ValueError("AC run overflows band")
                zz[k] = _extend(r.read(cat), cat) << al
                k += 1
        else:                                 # AC refinement (G.1.2.3)
            p1, m1 = 1 << al, -1 << al
            k = ss
            if state["eobrun"] == 0:
                while k <= se:
                    rs = r.read_code(entry["ac_lut"])
                    run, cat = rs >> 4, rs & 0x0F
                    newval = 0
                    if cat == 0:
                        if run < 15:
                            state["eobrun"] = (1 << run)
                            if run:
                                state["eobrun"] += r.read(run)
                            break
                        # ZRL: advance over 16 zero-history coefs
                    elif cat == 1:
                        newval = p1 if r.read_bit() else m1
                    else:
                        raise ValueError(
                            "refinement magnitude must be 1")
                    while k <= se:
                        if zz[k] != 0:
                            if r.read_bit() and (zz[k] & p1) == 0:
                                zz[k] += p1 if zz[k] > 0 else m1
                        else:
                            if run == 0:
                                if newval:
                                    zz[k] = newval
                                k += 1
                                break
                            run -= 1
                        k += 1
            if state["eobrun"] > 0:
                while k <= se:
                    if zz[k] != 0:
                        if r.read_bit() and (zz[k] & p1) == 0:
                            zz[k] += p1 if zz[k] > 0 else m1
                    k += 1
                state["eobrun"] -= 1

    interleaved = len(sc["comps"]) > 1
    if interleaved:
        n_units = mcus_x * mcus_y
    else:
        c = sc["comps"][0]["comp"]
        n_units = c["nbx"] * c["nby"]
    unit = 0
    rst_n = 0
    while unit < n_units:
        if ri and unit and unit % ri == 0:
            r.expect_restart(rst_n % 8)
            rst_n += 1
            state["eobrun"] = 0
            for entry in sc["comps"]:
                entry["comp"]["pred"] = 0
        if interleaved:
            my, mx = divmod(unit, mcus_x)
            for entry in sc["comps"]:
                c = entry["comp"]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        idx = ((my * c["v"] + by) * c["bw"]
                               + mx * c["h"] + bx)
                        decode_block_band(entry, idx)
        else:
            c = sc["comps"][0]["comp"]
            byi, bxi = divmod(unit, c["nbx"])
            decode_block_band(sc["comps"][0], byi * c["bw"] + bxi)
        unit += 1


def encode_jpeg_color420(
    width: int, height: int, seed: int = 0, q: int = 8,
    restart_interval: int = 0,
) -> bytes:
    """A REAL baseline COLOR JPEG (3-component YCbCr, 4:2:0 luma
    sampling, interleaved MCUs, optional restart intervals): the
    fixture generator for the color-decode gate. Luma is
    BLOCK-CONSTANT (``((x//8)*31 + (y//8)*17 + seed) % 256`` — exact
    decode, see module docstring), chroma is the constant 128 (zero
    after level shift, so the color planes entropy-code to pure
    EOB blocks). Any standards-compliant viewer opens the output as a
    grayscale-looking color image."""
    import numpy as np

    if width <= 0 or height <= 0:
        raise ValueError("width/height must be positive")
    m = _dct_matrix()
    quant = np.full((8, 8), float(q))
    dc_enc = _canonical_codes(DC_BITS, DC_VALS)
    ac_enc = _canonical_codes(AC_BITS, AC_VALS)

    # padded luma: multiples of 16 via edge replication (stays
    # block-constant: the replication source shares the edge block)
    bw = (width + 15) // 16 * 16
    bh = (height + 15) // 16 * 16
    luma = np.empty((bh, bw), dtype=np.float64)
    for y in range(bh):
        sy = min(y, height - 1)
        for x in range(bw):
            sx = min(x, width - 1)
            luma[y, x] = ((sx // 8) * 31 + (sy // 8) * 17 + seed) % 256

    w = _BitWriter()
    preds = {"y": 0, "cb": 0, "cr": 0}

    def put_block(block: "np.ndarray", key: str) -> None:
        coef = m @ (block - 128.0) @ m.T
        qz = coef / quant
        qi = np.where(qz >= 0, np.floor(qz + 0.5),
                      np.ceil(qz - 0.5)).astype(np.int64)
        zz = [int(qi.flat[ZIGZAG[i]]) for i in range(64)]
        diff = zz[0] - preds[key]
        preds[key] = zz[0]
        cat, bits = _category(diff)
        code, ln = dc_enc[cat]
        w.write(code, ln)
        if cat:
            w.write(bits, cat)
        run = 0
        last_nz = max((i for i in range(1, 64) if zz[i]), default=0)
        for i in range(1, last_nz + 1):
            if zz[i] == 0:
                run += 1
                continue
            while run > 15:
                code, ln = ac_enc[0xF0]
                w.write(code, ln)
                run -= 16
            cat, bits = _category(zz[i])
            code, ln = ac_enc[(run << 4) | cat]
            w.write(code, ln)
            w.write(bits, cat)
            run = 0
        if last_nz < 63:
            code, ln = ac_enc[0x00]
            w.write(code, ln)

    flat_chroma = np.full((8, 8), 128.0)
    mcus_x, mcus_y = bw // 16, bh // 16
    mcu_count = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and \
                    mcu_count % restart_interval == 0:
                n = (mcu_count // restart_interval - 1) % 8
                w.restart(n)
                preds.update({"y": 0, "cb": 0, "cr": 0})
            for by in range(2):
                for bx in range(2):
                    y0, x0 = (my * 2 + by) * 8, (mx * 2 + bx) * 8
                    put_block(luma[y0:y0 + 8, x0:x0 + 8], "y")
            put_block(flat_chroma, "cb")
            put_block(flat_chroma, "cr")
            mcu_count += 1
    scan = w.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    zz_q = bytes(int(quant.flat[ZIGZAG[i]]) for i in range(64))
    dqt = bytes([0x00]) + zz_q + bytes([0x01]) + zz_q
    sof = (struct.pack(">BHHB", 8, height, width, 3)
           + bytes([1, 0x22, 0]) + bytes([2, 0x11, 1])
           + bytes([3, 0x11, 1]))
    dht = (bytes([0x00]) + bytes(DC_BITS) + bytes(DC_VALS)
           + bytes([0x10]) + bytes(AC_BITS) + bytes(AC_VALS)
           + bytes([0x01]) + bytes(DC_BITS) + bytes(DC_VALS)
           + bytes([0x11]) + bytes(AC_BITS) + bytes(AC_VALS))
    sos = bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0])
    head = b"\xff\xd8" + seg(0xFFDB, dqt) + seg(0xFFC0, sof)
    if restart_interval:
        head += seg(0xFFDD, struct.pack(">H", restart_interval))
    return (head + seg(0xFFC4, dht) + seg(0xFFDA, sos)
            + scan + b"\xff\xd9")


def encode_jpeg_progressive(
    width: int, height: int, pixels: bytes | None = None, seed: int = 0,
    q_dc: int = 8, q_ac: int = 8,
) -> bytes:
    """A REAL progressive (SOF2) grayscale JPEG: four scans — DC first
    scan at Al=1, DC refinement (raw bits), then two spectral-selection
    AC bands (1-5, 6-63) with genuine EOB-RUN accumulation across
    blocks. ``pixels=None`` fills the block-constant fixture content
    (bit-exact decode; all-zero AC bands exercise the decoder's EOBRUN
    path with maximal runs). Arbitrary pixels transmit the same
    quantized coefficients as :func:`encode_jpeg_gray`, so progressive
    and sequential decodes of the same image are bit-identical."""
    import numpy as np

    if width <= 0 or height <= 0:
        raise ValueError("width/height must be positive")
    if pixels is None:
        pixels = bytes(
            ((x // 8) * 31 + (y // 8) * 17 + seed) % 256
            for y in range(height) for x in range(width))
    if len(pixels) != width * height:
        raise ValueError("pixels length != width*height")
    img = np.frombuffer(bytes(pixels), dtype=np.uint8).reshape(
        height, width).astype(np.float64)
    bw = (width + 7) // 8 * 8
    bh = (height + 7) // 8 * 8
    padded = np.empty((bh, bw))
    padded[:height, :width] = img
    padded[:height, width:] = img[:, -1:]
    padded[height:, :] = padded[height - 1:height, :]
    quant = np.full((8, 8), float(q_ac))
    quant[0, 0] = float(q_dc)
    m = _dct_matrix()
    blocks = []
    for by in range(0, bh, 8):
        for bx in range(0, bw, 8):
            coef = m @ (padded[by:by + 8, bx:bx + 8] - 128.0) @ m.T
            qz = coef / quant
            qi = np.where(qz >= 0, np.floor(qz + 0.5),
                          np.ceil(qz - 0.5)).astype(np.int64)
            blocks.append([int(qi.flat[ZIGZAG[i]]) for i in range(64)])

    dc_enc = _canonical_codes(DC_BITS, DC_VALS)
    # the Annex K sequential AC table has no EOBn symbols (only EOB0 and
    # ZRL) — progressive band scans need them, so declare a custom flat
    # canonical table carrying every EOBn/ZRL/(run,cat) symbol at 8 bits
    # (176 codes; the all-ones code stays unused per the spec rule)
    ac_enc = _canonical_codes(AC_PROG_BITS, AC_PROG_VALS)

    def dc_first_scan(al: int) -> bytes:
        w = _BitWriter()
        pred = 0
        for zz in blocks:
            v = zz[0] >> al                   # arithmetic point transform
            cat, bits = _category(v - pred)
            pred = v
            code, ln = dc_enc[cat]
            w.write(code, ln)
            if cat:
                w.write(bits, cat)
        return w.flush()

    def dc_refine_scan(al: int) -> bytes:
        w = _BitWriter()
        for zz in blocks:
            w.write((zz[0] >> al) & 1, 1)
        return w.flush()

    def ac_first_scan(ss: int, se: int) -> bytes:
        w = _BitWriter()
        eobrun = 0

        def flush_eob():
            nonlocal eobrun
            while eobrun > 0:
                rbits = min(eobrun.bit_length() - 1, 14)
                code, ln = ac_enc[rbits << 4]
                w.write(code, ln)
                if rbits:
                    w.write(eobrun - (1 << rbits), rbits)
                eobrun = 0

        for zz in blocks:
            last_nz = max(
                (i for i in range(ss, se + 1) if zz[i]), default=0)
            if last_nz < ss:
                eobrun += 1
                if eobrun == 0x7FFF:
                    flush_eob()
                continue
            flush_eob()
            run = 0
            for i in range(ss, last_nz + 1):
                if zz[i] == 0:
                    run += 1
                    continue
                while run > 15:
                    code, ln = ac_enc[0xF0]
                    w.write(code, ln)
                    run -= 16
                cat, bits = _category(zz[i])
                code, ln = ac_enc[(run << 4) | cat]
                w.write(code, ln)
                w.write(bits, cat)
                run = 0
            if last_nz < se:
                eobrun += 1
        flush_eob()
        return w.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    def sos(ss: int, se: int, ah: int, al: int) -> bytes:
        return seg(0xFFDA, bytes([1, 1, 0x00, ss, se, (ah << 4) | al]))

    dqt = bytes([0x00]) + bytes(
        int(quant.flat[ZIGZAG[i]]) for i in range(64))
    sof = struct.pack(">BHHB", 8, height, width, 1) + bytes([1, 0x11, 0])
    dht = (bytes([0x00]) + bytes(DC_BITS) + bytes(DC_VALS)
           + bytes([0x10]) + bytes(AC_PROG_BITS) + bytes(AC_PROG_VALS))
    return (b"\xff\xd8" + seg(0xFFDB, dqt) + seg(0xFFC2, sof)
            + seg(0xFFC4, dht)
            + sos(0, 0, 0, 1) + dc_first_scan(1)
            + sos(0, 0, 1, 0) + dc_refine_scan(0)
            + sos(1, 5, 0, 0) + ac_first_scan(1, 5)
            + sos(6, 63, 0, 0) + ac_first_scan(6, 63)
            + b"\xff\xd9")
