"""Pure-numpy JPEG codec (ITU T.81): baseline AND progressive decode,
baseline encode.

No external codec library: the decoder walks the marker stream, reads the
quantization + Huffman tables FROM the file (DQT/DHT -- so it decodes any
compliant file's own tables, not just ours), entropy-decodes with
byte-unstuffing and restart markers, dequantizes, applies a float64 matrix
IDCT, upsamples subsampled chroma (h/v factors 1-2, triangle filter), and
converts YCbCr->RGB. Progressive files (SOF2) implement the full T.81 G.2
successive-approximation flow -- interleaved/non-interleaved DC first +
refinement scans, spectral-band AC first scans with EOB runs, and AC
refinement with correction bits -- verified pixel-for-pixel (max diff <= 2)
against an independent reference decoder on real progressive camera files
(tests/test_textfns.py). Rejected loudly rather than misread: arithmetic
coding, hierarchical/lossless modes, 12-bit precision, >2x sampling
factors.

The encoder emits spec-compliant baseline JPEG with CUSTOM canonical
Huffman tables (fixed-length codes -- legal: every decoder must read DHT)
and a caller-chosen uniform quantization value. ``quant=1`` makes the
pipeline near-lossless: a constant-fill image round-trips EXACTLY (all AC
coefficients are analytically zero and the DC path is integer-exact), and
arbitrary images round-trip within a provable small tolerance -- the
testing story for a lossy format without a reference codec (see
tests/test_properties.py).

Scale note: this is the correctness-first decode for the multimodal
column plumbing (Arrow-batched mapInPandas, parallel at payload
granularity). On a real cluster a SIMD codec (libjpeg-turbo) drops in at
the same ``decoder`` seam in operators/multimodal.py.
"""

from __future__ import annotations

import struct

import numpy as np

# zig-zag scan order: _ZIGZAG[k] = (row, col) of the k-th coefficient
_ZIGZAG: list[tuple[int, int]] = []
_r, _c = 0, 0
for _k in range(64):
    _ZIGZAG.append((_r, _c))
    if (_r + _c) % 2 == 0:  # moving up-right
        if _c == 7:
            _r += 1
        elif _r == 0:
            _c += 1
        else:
            _r -= 1
            _c += 1
    else:  # moving down-left
        if _r == 7:
            _c += 1
        elif _c == 0:
            _r += 1
        else:
            _r += 1
            _c -= 1
del _r, _c, _k


def _dct_matrix() -> np.ndarray:
    """Orthonormal 8x8 DCT-II basis: block_dct = C @ block @ C.T."""
    k = np.arange(8)
    c = np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / 16)
    c *= np.sqrt(2.0 / 8)
    c[0, :] = 1.0 / np.sqrt(8)
    return c


_C = _dct_matrix()


# -- canonical Huffman tables (encoder side: fixed-length codes) ------------

def _canonical_codes(bits: list[int], values: list[int]) -> dict[int, tuple[int, int]]:
    """JPEG canonical code assignment: {symbol: (code, length)}."""
    out: dict[int, tuple[int, int]] = {}
    code, idx = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[values[idx]] = (code, length)
            code += 1
            idx += 1
        code <<= 1
    return out


# DC: 12 categories (0..11), all 4-bit codes (12 of 16 slots -- canonical-valid)
_DC_BITS = [0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = list(range(12))
# AC: every legal (run, size) symbol gets a 9-bit code (162 of 512 slots)
_AC_VALS = [0x00, 0xF0] + [
    (run << 4) | size for run in range(16) for size in range(1, 11)
]
_AC_BITS = [0, 0, 0, 0, 0, 0, 0, 0, len(_AC_VALS), 0, 0, 0, 0, 0, 0, 0]
_DC_CODES = _canonical_codes(_DC_BITS, _DC_VALS)
_AC_CODES = _canonical_codes(_AC_BITS, _AC_VALS)


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def align(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits per spec

    def raw(self, b: bytes) -> None:
        """Append marker bytes verbatim (markers are never byte-stuffed);
        caller must align() first."""
        assert self.nbits == 0
        self.out += b

    def flush(self) -> bytes:
        self.align()
        return bytes(self.out)


def _category(v: int) -> tuple[int, int]:
    """(size, bits) encoding of a signed DC diff / AC value (T.81 F.1.2)."""
    if v == 0:
        return 0, 0
    size = int(abs(v)).bit_length()
    bits = v if v >= 0 else v + (1 << size) - 1
    return size, bits


def _encode_block(w: _BitWriter, coefs: np.ndarray, pred: int) -> int:
    """Entropy-encode one quantized 8x8 block; returns the new DC predictor."""
    zz = [int(coefs[r, c]) for r, c in _ZIGZAG]
    size, bits = _category(zz[0] - pred)
    code, length = _DC_CODES[size]
    w.write(code, length)
    if size:
        w.write(bits, size)
    run = 0
    last_nz = 0
    for k in range(63, 0, -1):
        if zz[k] != 0:
            last_nz = k
            break
    for k in range(1, last_nz + 1):
        if zz[k] == 0:
            run += 1
            continue
        while run > 15:
            code, length = _AC_CODES[0xF0]  # ZRL
            w.write(code, length)
            run -= 16
        size, bits = _category(zz[k])
        code, length = _AC_CODES[(run << 4) | size]
        w.write(code, length)
        w.write(bits, size)
        run = 0
    if last_nz != 63:
        code, length = _AC_CODES[0x00]  # EOB
        w.write(code, length)
    return zz[0]


def _dht_segment(tc: int, th: int, bits: list[int], values: list[int]) -> bytes:
    body = bytes([(tc << 4) | th]) + bytes(bits) + bytes(values)
    return b"\xff\xc4" + struct.pack(">H", len(body) + 2) + body


def encode_jpeg(
    pixels: np.ndarray, quant: int = 1, restart_interval: int = 0
) -> bytes:
    """uint8 HxW (grayscale) or HxWx3 (RGB) -> baseline JPEG, 4:4:4, with a
    uniform quantization table of value ``quant`` (1 = near-lossless).
    ``restart_interval`` > 0 emits a DRI segment and RSTn markers every N
    MCUs (byte-aligned, DC predictors reset) -- exists so the decoder's
    restart path has genuine round-trip coverage."""
    if pixels.ndim == 2:
        comps = [pixels.astype(np.float64) - 128.0]
    elif pixels.ndim == 3 and pixels.shape[2] == 3:
        p = pixels.astype(np.float64)
        y = 0.299 * p[:, :, 0] + 0.587 * p[:, :, 1] + 0.114 * p[:, :, 2]
        cb = -0.168736 * p[:, :, 0] - 0.331264 * p[:, :, 1] + 0.5 * p[:, :, 2]
        cr = 0.5 * p[:, :, 0] - 0.418688 * p[:, :, 1] - 0.081312 * p[:, :, 2]
        comps = [y - 128.0, cb, cr]
    else:
        raise ValueError("encode_jpeg expects HxW or HxWx3 uint8")
    if not 1 <= quant <= 255:
        raise ValueError("quant must be in [1, 255]")
    h, w = pixels.shape[:2]
    ph, pw = (h + 7) // 8 * 8, (w + 7) // 8 * 8
    qtab = np.full((8, 8), quant, dtype=np.float64)

    out = bytearray(b"\xff\xd8")  # SOI
    out += (b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00"
            + bytes([1, 1, 0]) + struct.pack(">HH", 1, 1) + bytes([0, 0]))
    zz_q = bytes(quant for _ in range(64))
    out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([0]) + zz_q  # DQT id 0
    nc = len(comps)
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([nc])
    for ci in range(nc):
        sof += bytes([ci + 1, 0x11, 0])  # 1x1 sampling, quant table 0
    out += b"\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof  # SOF0
    out += _dht_segment(0, 0, _DC_BITS, _DC_VALS)
    out += _dht_segment(1, 0, _AC_BITS, _AC_VALS)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)  # DRI
    sos = bytes([nc])
    for ci in range(nc):
        sos += bytes([ci + 1, 0x00])  # DC table 0, AC table 0
    sos += bytes([0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos

    wtr = _BitWriter()
    preds = [0] * nc
    mcu = 0
    for by in range(0, ph, 8):
        for bx in range(0, pw, 8):
            if restart_interval and mcu and mcu % restart_interval == 0:
                wtr.align()
                wtr.raw(bytes([0xFF, 0xD0 + ((mcu // restart_interval - 1) % 8)]))
                preds = [0] * nc
            mcu += 1
            for ci, comp in enumerate(comps):
                block = np.zeros((8, 8))
                ys, xs = min(8, h - by), min(8, w - bx)
                block[:ys, :xs] = comp[by:by + ys, bx:bx + xs]
                if ys < 8:
                    block[ys:, :] = block[ys - 1, :]  # edge replication
                if xs < 8:
                    block[:, xs:] = block[:, xs - 1:xs]
                coefs = np.round((_C @ block @ _C.T) / qtab).astype(np.int64)
                preds[ci] = _encode_block(wtr, coefs, preds[ci])
    out += wtr.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# -- decoder ------------------------------------------------------------------


class _BitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00 unstuffing;
    a bare marker (0xFF xx, xx != 0) ends the scan."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def read_bit(self) -> int:
        if self.nbits == 0:
            if self.pos >= len(self.data):
                raise ValueError("truncated JPEG scan")
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                nxt = self.data[self.pos] if self.pos < len(self.data) else None
                if nxt == 0x00:
                    self.pos += 1
                else:
                    raise ValueError("unexpected marker inside scan")
            self.acc = b
            self.nbits = 8
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def restart(self) -> None:
        """Byte-align (discard the current byte's padding bits) and consume
        the RSTn marker -- the shared restart-boundary sequence of the
        baseline and progressive scan loops."""
        self.nbits = 0
        if (self.pos + 1 < len(self.data)
                and self.data[self.pos] == 0xFF
                and 0xD0 <= self.data[self.pos + 1] <= 0xD7):
            self.pos += 2


class _HuffTable:
    def __init__(self, bits: list[int], values: list[int]) -> None:
        # decode map: (length, code) -> symbol
        self.lut: dict[tuple[int, int], int] = {}
        code, idx = 0, 0
        for length in range(1, 17):
            for _ in range(bits[length - 1]):
                self.lut[(length, code)] = values[idx]
                code += 1
                idx += 1
            code <<= 1

    def decode(self, rdr: _BitReader) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | rdr.read_bit()
            sym = self.lut.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code in JPEG scan")


def _extend(bits: int, size: int) -> int:
    """T.81 F.2.2.1 EXTEND: map magnitude bits back to a signed value."""
    if size == 0:
        return 0
    return bits if bits >= (1 << (size - 1)) else bits - (1 << size) + 1


def decode_jpeg(payload: bytes) -> np.ndarray:
    """Baseline OR progressive JPEG -> uint8 HxW (grayscale) or HxWx3
    (RGB). Reads quant / Huffman tables from the file; supports 1-3
    components with sampling factors 1-2 (triangle-filter chroma
    upsampling); progressive scans implement the full T.81 G.2 successive
    approximation (DC first/refine, AC first/refine with EOB runs).
    Arithmetic-coded / hierarchical / 12-bit variants reject loudly."""
    if payload is None or len(payload) < 4 or payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    qtabs: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], _HuffTable] = {}
    frame = None
    restart_interval = 0
    progressive = False
    state = None  # per-component zigzag coefficient arrays (progressive)
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("bad JPEG marker stream")
        # T.81 B.1.1.2: any number of 0xFF fill bytes may pad a marker
        while pos + 1 < len(payload) and payload[pos + 1] == 0xFF:
            pos += 1
        if pos + 1 >= len(payload):
            raise ValueError("truncated JPEG marker stream")
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue  # TEM / bare RSTn: standalone markers, no segment
        if marker in (0xC6, 0xCA, 0xCE, 0xC9, 0xCB, 0xCD, 0xCF, 0xC8,
                      0xC3, 0xC5, 0xC7):
            raise ValueError("arithmetic/hierarchical/lossless JPEG coding "
                             "not supported")
        if pos + 2 > len(payload):
            raise ValueError("truncated JPEG segment header")
        seglen = struct.unpack_from(">H", payload, pos)[0]
        if pos + seglen > len(payload):
            raise ValueError("truncated JPEG segment")
        body = payload[pos + 2:pos + seglen]
        if marker == 0xDB:  # DQT
            at = 0
            while at < len(body):
                pq, tq = body[at] >> 4, body[at] & 0xF
                at += 1
                if pq != 0:
                    raise ValueError("16-bit quant tables not supported")
                if len(body) < at + 64:
                    raise ValueError("truncated JPEG DQT segment")
                tab = np.zeros((8, 8))
                for k in range(64):
                    r, c = _ZIGZAG[k]
                    tab[r, c] = body[at + k]
                qtabs[tq] = tab
                at += 64
        elif marker == 0xC4:  # DHT
            at = 0
            while at < len(body):
                tc, th = body[at] >> 4, body[at] & 0xF
                bits = list(body[at + 1:at + 17])
                n = sum(bits)
                if len(body) < at + 17 + n or len(bits) < 16:
                    raise ValueError("truncated JPEG DHT segment")
                values = list(body[at + 17:at + 17 + n])
                huff[(tc, th)] = _HuffTable(bits, values)
                at += 17 + n
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline/ext, SOF2 prog
            progressive = marker == 0xC2
            prec, fh, fw, nc = body[0], *struct.unpack_from(">HH", body, 1), body[5]
            if prec != 8:
                raise ValueError("only 8-bit JPEG supported")
            comps = []
            for i in range(nc):
                cid, hv, tq = body[6 + 3 * i:9 + 3 * i]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0xF, "tq": tq})
            frame = {"h": fh, "w": fw, "comps": comps}
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack_from(">H", body, 0)[0]
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            ns = body[0]
            sel = {}
            scan_comps = []
            for i in range(ns):
                cid, tt = body[1 + 2 * i], body[2 + 2 * i]
                sel[cid] = (tt >> 4, tt & 0xF)
                scan_comps.append(cid)
            if not progressive:
                return _decode_scan(
                    payload, pos + seglen, frame, sel, qtabs, huff,
                    restart_interval,
                )
            ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
            a = body[3 + 2 * ns]
            if (ss == 0) != (se == 0) or se > 63 or ss > 63:
                raise ValueError(
                    "bad progressive spectral selection (a DC scan requires "
                    "Ss=Se=0; AC bands live in 1..63)"
                )
            if state is None:
                state = _prog_init(frame)
            pos = _prog_scan(
                payload, pos + seglen, frame, scan_comps, sel, huff,
                restart_interval, state, ss, se, a >> 4, a & 0xF,
            )
            continue  # pos already sits at the next marker
        pos += seglen
    if progressive and state is not None:
        return _prog_reconstruct(frame, qtabs, state)
    raise ValueError("JPEG missing SOS scan")


def _decode_scan(payload, at, frame, sel, qtabs, huff, restart_interval):
    comps = frame["comps"]
    if any(c["id"] not in sel for c in comps):
        raise ValueError("baseline JPEG scan does not cover every frame "
                         "component (multi-scan baseline not supported)")
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    if hmax > 2 or vmax > 2 or any(
        c["h"] not in (1, 2) or c["v"] not in (1, 2) for c in comps
    ):
        raise ValueError("sampling factors beyond 2 not supported")
    fh, fw = frame["h"], frame["w"]
    mcux = (fw + 8 * hmax - 1) // (8 * hmax)
    mcuy = (fh + 8 * vmax - 1) // (8 * vmax)
    planes = [
        np.zeros((mcuy * c["v"] * 8, mcux * c["h"] * 8)) for c in comps
    ]
    rdr = _BitReader(payload, at)
    preds = [0] * len(comps)
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                rdr.restart()
                preds = [0] * len(comps)
            for ci, c in enumerate(comps):
                dc_t, ac_t = sel[c["id"]]
                qt = qtabs[c["tq"]]
                for byi in range(c["v"]):
                    for bxi in range(c["h"]):
                        coefs = np.zeros((8, 8))
                        size = huff[(0, dc_t)].decode(rdr)
                        diff = _extend(rdr.read_bits(size), size)
                        preds[ci] += diff
                        coefs[0, 0] = preds[ci]
                        k = 1
                        while k < 64:
                            sym = huff[(1, ac_t)].decode(rdr)
                            if sym == 0x00:  # EOB
                                break
                            run, sz = sym >> 4, sym & 0xF
                            if sym == 0xF0:  # ZRL
                                k += 16
                                continue
                            k += run
                            if k > 63:
                                raise ValueError("AC index overflow in scan")
                            r, cc = _ZIGZAG[k]
                            coefs[r, cc] = _extend(rdr.read_bits(sz), sz)
                            k += 1
                        block = _C.T @ (coefs * qt) @ _C
                        y0 = (my * c["v"] + byi) * 8
                        x0 = (mx * c["h"] + bxi) * 8
                        planes[ci][y0:y0 + 8, x0:x0 + 8] = block
            mcu_count += 1
    return _finish_image(frame, planes)


def _triangle_up2(p: np.ndarray, axis: int) -> np.ndarray:
    """Centered bilinear 2x upsampling (libjpeg's "fancy upsampling"):
    out[2i] = (3*cur + prev)/4, out[2i+1] = (3*cur + next)/4, edges
    replicated."""
    cur = np.moveaxis(p, axis, 0)
    prev = np.concatenate([cur[:1], cur[:-1]], axis=0)
    nxt = np.concatenate([cur[1:], cur[-1:]], axis=0)
    out = np.empty((cur.shape[0] * 2,) + cur.shape[1:], dtype=p.dtype)
    out[0::2] = (3.0 * cur + prev) / 4.0
    out[1::2] = (3.0 * cur + nxt) / 4.0
    return np.moveaxis(out, 0, axis)


def _finish_image(frame, planes) -> np.ndarray:
    """Shared tail of the baseline and progressive paths: upsample each
    component plane to the full frame grid, crop, and color-convert."""
    comps = frame["comps"]
    fh, fw = frame["h"], frame["w"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    full = []
    for ci, c in enumerate(comps):
        p = planes[ci]
        if vmax // c["v"] == 2:
            p = _triangle_up2(p, 0)
        if hmax // c["h"] == 2:
            p = _triangle_up2(p, 1)
        full.append(p[:fh, :fw])
    if len(comps) == 1:
        return np.clip(np.round(full[0] + 128.0), 0, 255).astype(np.uint8)
    if len(comps) != 3:
        raise ValueError(f"unsupported JPEG component count {len(comps)}")
    y, cb, cr = full[0] + 128.0, full[1], full[2]
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.stack([r, g, b], axis=2)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


# -- progressive (T.81 G.2: spectral selection + successive approximation) ---


def _prog_init(frame) -> list[np.ndarray]:
    """Per-component zigzag-order coefficient accumulators sized to the
    interleaved MCU grid (non-interleaved scans cover its top-left
    subset)."""
    comps = frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    if hmax > 2 or vmax > 2 or any(
        c["h"] not in (1, 2) or c["v"] not in (1, 2) for c in comps
    ):
        raise ValueError("sampling factors beyond 2 not supported")
    mcux = (frame["w"] + 8 * hmax - 1) // (8 * hmax)
    mcuy = (frame["h"] + 8 * vmax - 1) // (8 * vmax)
    return [
        np.zeros((mcuy * c["v"], mcux * c["h"], 64), dtype=np.int32)
        for c in comps
    ]


def _dc_first(rdr, table, coef, pred: int, al: int) -> int:
    size = table.decode(rdr)
    pred += _extend(rdr.read_bits(size), size)
    coef[0] = pred << al
    return pred


def _ac_first(rdr, table, coef, ss, se, al, eobrun) -> int:
    """First AC scan of a band: T.81 G.2.2 with EOB-run symbols."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        sym = table.decode(rdr)
        r, s = sym >> 4, sym & 0xF
        if s == 0:
            if r != 15:
                eobrun = (1 << r) - 1
                if r:
                    eobrun += rdr.read_bits(r)
                break
            k += 16  # ZRL
            continue
        k += r
        if k > se:
            raise ValueError("AC index overflow in progressive scan")
        coef[k] = _extend(rdr.read_bits(s), s) << al
        k += 1
    return eobrun


def _ac_refine(rdr, table, coef, ss, se, al, eobrun) -> int:
    """AC successive-approximation refinement (T.81 G.2.2 / the
    decode_mcu_AC_refine control flow): correction bits for coefficients
    already nonzero, newly signaled +-1<<Al coefficients placed after their
    zero-run, EOB runs refining the tail."""
    p1 = 1 << al
    k = ss
    if eobrun == 0:
        while k <= se:
            sym = table.decode(rdr)
            r, s = sym >> 4, sym & 0xF
            val = 0
            if s == 0:
                if r != 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += rdr.read_bits(r)
                    break
                # r == 15: advance past 16 zero-history coefficients
            else:
                if s != 1:
                    raise ValueError("bad AC refinement symbol")
                val = p1 if rdr.read_bit() else -p1
            while k <= se:
                if coef[k] != 0:
                    if rdr.read_bit() and (coef[k] & p1) == 0:
                        coef[k] += p1 if coef[k] >= 0 else -p1
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if val and k <= se:
                coef[k] = val
            k += 1
    if eobrun > 0:
        while k <= se:
            if coef[k] != 0:
                if rdr.read_bit() and (coef[k] & p1) == 0:
                    coef[k] += p1 if coef[k] >= 0 else -p1
            k += 1
        eobrun -= 1
    return eobrun


def _prog_scan(
    payload, at, frame, scan_comps, sel, huff, restart_interval, state,
    ss, se, ah, al,
):
    """Decode ONE progressive scan into the coefficient accumulators and
    return the payload offset of the next marker."""
    comps = frame["comps"]
    by_id = {c["id"]: i for i, c in enumerate(comps)}
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    fh, fw = frame["h"], frame["w"]
    rdr = _BitReader(payload, at)
    eobrun = 0
    preds = {cid: 0 for cid in scan_comps}
    unit = 0  # MCUs (interleaved) or blocks (non-interleaved) since restart

    def _restart():
        nonlocal eobrun
        rdr.restart()
        eobrun = 0
        for cid in preds:
            preds[cid] = 0

    if len(scan_comps) == 1:
        # non-interleaved: the component's own ceil-divided block grid
        cid = scan_comps[0]
        ci = by_id[cid]
        c = comps[ci]
        cw = -(-fw * c["h"] // hmax)
        ch_ = -(-fh * c["v"] // vmax)
        bw, bh = -(-cw // 8), -(-ch_ // 8)
        dc_t, ac_t = sel[cid]
        for byi in range(bh):
            for bxi in range(bw):
                if restart_interval and unit and unit % restart_interval == 0:
                    _restart()
                unit += 1
                coef = state[ci][byi, bxi]
                if ss == 0:
                    if ah == 0:
                        preds[cid] = _dc_first(
                            rdr, huff[(0, dc_t)], coef, preds[cid], al
                        )
                    else:
                        coef[0] |= rdr.read_bit() << al
                elif ah == 0:
                    eobrun = _ac_first(
                        rdr, huff[(1, ac_t)], coef, ss, se, al, eobrun
                    )
                else:
                    eobrun = _ac_refine(
                        rdr, huff[(1, ac_t)], coef, ss, se, al, eobrun
                    )
    else:
        if ss != 0:
            raise ValueError("interleaved progressive AC scan is not legal")
        mcux = (fw + 8 * hmax - 1) // (8 * hmax)
        mcuy = (fh + 8 * vmax - 1) // (8 * vmax)
        for my in range(mcuy):
            for mx in range(mcux):
                if restart_interval and unit and unit % restart_interval == 0:
                    _restart()
                unit += 1
                for cid in scan_comps:
                    ci = by_id[cid]
                    c = comps[ci]
                    dc_t, _ = sel[cid]
                    for byi in range(c["v"]):
                        for bxi in range(c["h"]):
                            coef = state[ci][my * c["v"] + byi,
                                             mx * c["h"] + bxi]
                            if ah == 0:
                                preds[cid] = _dc_first(
                                    rdr, huff[(0, dc_t)], coef, preds[cid], al
                                )
                            else:
                                coef[0] |= rdr.read_bit() << al
    # advance to the next marker (skip the current byte's padding bits and
    # any stuffed bytes already buffered)
    p = rdr.pos
    while p + 1 < len(payload) and not (
        payload[p] == 0xFF and payload[p + 1] != 0x00
    ):
        p += 1
    return p


def _prog_reconstruct(frame, qtabs, state) -> np.ndarray:
    """All scans consumed: dequantize + IDCT every block into component
    planes, then the shared upsample/color tail."""
    comps = frame["comps"]
    zz_r = np.array([r for r, _ in _ZIGZAG])
    zz_c = np.array([c for _, c in _ZIGZAG])
    planes = []
    for ci, c in enumerate(comps):
        arr = state[ci]
        bh, bw = arr.shape[:2]
        qt = qtabs[c["tq"]]
        # vectorized un-zigzag + dequant over all blocks of the component
        blocks = np.zeros((bh, bw, 8, 8))
        blocks[:, :, zz_r, zz_c] = arr
        blocks *= qt
        # batched IDCT: (C.T @ B @ C) via tensordot over the last two axes
        tmp = np.tensordot(blocks, _C, axes=([3], [0]))  # B @ C
        out = np.tensordot(_C.T, tmp, axes=([1], [2]))   # C.T @ ...
        # tensordot moved axes: out[i, by, bx, j] -> (by, bx, i, j)
        out = np.moveaxis(out, 0, 2)
        plane = out.transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8)
        planes.append(plane)
    return _finish_image(frame, planes)
