"""Pure-stdlib/numpy JPEG codec (ITU-T T.81: baseline sequential DCT
SOF0 and progressive DCT SOF2, Huffman, 8-bit) — the last image-format
seam (imagecodec handles PNG/PNM): marker walk, DQT/DHT/SOF/SOS parse,
Huffman-decoded DCT coefficients accumulated per scan, dequantize →
IDCT → level shift, YCbCr→RGB for 3-component frames. The encode twins
write grayscale or color with the spec's Annex-K quantization and
Huffman tables — `encode_jpeg` baseline, `encode_jpeg_progressive`
a real spectral-selection + successive-approximation scan script.

Scope (errors name anything else): SOF0 baseline and SOF2 progressive
(T.81 Annex G: DC first/refine, single-component AC band scans with
EOB-run semantics, first and correction-bit refinement passes), 8-bit,
1 or 3 components, sampling factors up to 2x2 (4:4:4, 4:2:2, 4:4:0 and
the camera-standard 4:2:0 — chroma upsampled by pixel replication),
restart intervals (DRI/RSTn with DC-predictor/EOB-run reset and bit
realignment), no arithmetic coding, no lossless/hierarchical modes.

Exactness contract for oracles (the dyadic-MLP trick applied to a
LOSSY codec): an image built of CONSTANT 8x8 blocks with even pixel
values survives encode→decode EXACTLY — FDCT of a constant block is
DC-only (8·(v−128)), the Annex-K DC quantizer is 16, and even v makes
round((v−128)/2) exact, so dequantize+IDCT reproduces v bit-for-bit.
q144 pins the whole pipeline on such fixtures with zero tolerance,
while gradient roundtrips are tested within the usual lossy bounds.
"""

from __future__ import annotations

import struct

import numpy as np

# -- Annex K tables ---------------------------------------------------------

QUANT_LUMA = np.array(
    [
        [16, 11, 10, 16, 24, 40, 51, 61],
        [12, 12, 14, 19, 26, 58, 60, 55],
        [14, 13, 16, 24, 40, 57, 69, 56],
        [14, 17, 22, 29, 51, 87, 80, 62],
        [18, 22, 37, 56, 68, 109, 103, 77],
        [24, 35, 55, 64, 81, 104, 113, 92],
        [49, 64, 78, 87, 103, 121, 120, 101],
        [72, 92, 95, 98, 112, 100, 103, 99],
    ],
    dtype=np.int32,
)

QUANT_CHROMA = np.array(
    [
        [17, 18, 24, 47, 99, 99, 99, 99],
        [18, 21, 26, 66, 99, 99, 99, 99],
        [24, 26, 56, 99, 99, 99, 99, 99],
        [47, 66, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
    ],
    dtype=np.int32,
)

# standard Huffman specs: (BITS counts per code length 1..16, values)
DC_LUMA_SPEC = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
DC_CHROMA_SPEC = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
AC_LUMA_SPEC = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
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
    ],
)
AC_CHROMA_SPEC = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
        0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
        0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
        0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
        0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
        0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
        0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
        0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
        0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
        0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
        0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)

ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ]
)

# orthonormal 8-point DCT-II basis (float64)
_C = np.array(
    [
        [
            (np.sqrt(1.0 / 8) if k == 0 else np.sqrt(2.0 / 8))
            * np.cos((2 * n + 1) * k * np.pi / 16)
            for n in range(8)
        ]
        for k in range(8)
    ]
)


def _fdct(block: np.ndarray) -> np.ndarray:
    return _C @ block @ _C.T


def _build_huffman(spec) -> dict[int, tuple[int, int]]:
    """Spec (BITS, values) → {value: (code, length)} per T.81 C.2."""
    counts, values = spec
    out: dict[int, tuple[int, int]] = {}
    code = 0
    vi = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            out[values[vi]] = (code, length)
            code += 1
            vi += 1
        code <<= 1
    return out


def _decode_table(spec) -> dict[tuple[int, int], int]:
    """{(code, length): value} for the decoder."""
    return {cl: v for v, cl in _build_huffman(spec).items()}


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # 1-fill per spec
        return bytes(self.out)


class _BitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        if self.pos >= len(self.data):
            raise ValueError("entropy data exhausted mid-symbol")
        b = self.data[self.pos]
        self.pos += 1
        if b == 0xFF:
            if self.pos >= len(self.data):
                raise ValueError("truncated byte stuffing")
            nxt = self.data[self.pos]
            if nxt == 0x00:
                self.pos += 1
            else:
                raise ValueError(f"unexpected marker 0xFF{nxt:02X} in scan")
        self.acc = (self.acc << 8) | b
        self.nbits += 8

    def expect_restart(self, m: int) -> None:
        """Byte-align and consume the RST(m) marker (T.81 E.2.4):
        restart boundaries discard partial bits and reset DC
        prediction in the caller."""
        self.nbits = 0
        self.acc = 0
        if self.pos + 2 > len(self.data):
            raise ValueError("missing restart marker")
        if self.data[self.pos] != 0xFF or self.data[self.pos + 1] != 0xD0 + m:
            raise ValueError(
                f"expected RST{m} at byte {self.pos}, got "
                f"{self.data[self.pos:self.pos + 2]!r}"
            )
        self.pos += 2

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def read_symbol(self, table: dict[tuple[int, int], int]) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read_bit()
            if (code, length) in table:
                return table[(code, length)]
        raise ValueError("invalid Huffman code in scan")


def _magnitude(v: int) -> tuple[int, int]:
    """DC/AC value → (category, appended bits) per T.81 F.1.2.1."""
    if v == 0:
        return 0, 0
    a = abs(v)
    cat = a.bit_length()
    bits = v if v > 0 else v + (1 << cat) - 1
    return cat, bits


def _extend(bits: int, cat: int) -> int:
    if cat == 0:
        return 0
    if bits < (1 << (cat - 1)):
        return bits - (1 << cat) + 1
    return bits


# -- encoder ---------------------------------------------------------------


def scale_quant(base: np.ndarray, quality: int) -> np.ndarray:
    """Scale an Annex-K quantization table to an IJG/libjpeg quality
    factor (the public jpeg_quality_scaling formula: scale = 5000/q
    below 50, 200-2q above; entries floor((b*s+50)/100) clamped to
    [1, 255]). quality=50 reproduces the base table exactly."""
    if not 1 <= quality <= 100:
        raise ValueError(f"quality must be 1..100, got {quality}")
    s = 5000 // quality if quality < 50 else 200 - 2 * quality
    t = np.floor((base.astype(np.int64) * s + 50) / 100).astype(np.int64)
    return np.clip(t, 1, 255)


def jpeg_quality_estimate(buf: bytes) -> int:
    """Estimate the IJG quality factor a JPEG was encoded with, from
    its luma DQT (the ImageMagick-style inverse: percent scale =
    100·Σtbl/Σbase, then invert the scaling formula) — the corpus
    filter multimodal builds use to drop over-compressed images.
    Exact for quality ≥ 20 encoded by the formula above; below that
    the 255 clamp flattens the table and the estimate reads high
    (documented seam). ValueError on missing/16-bit DQT."""
    if len(buf) < 4 or buf[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    i = 2
    while i + 4 <= len(buf):
        if buf[i] != 0xFF:
            raise ValueError("marker sync lost before DQT")
        marker = buf[i + 1]
        if marker == 0xD9 or marker == 0xDA:  # EOI / SOS: no more DQT
            break
        seg_len = int.from_bytes(buf[i + 2 : i + 4], "big")
        seg = buf[i + 4 : i + 2 + seg_len]
        if marker == 0xDB:
            j = 0
            while j < len(seg):
                pq, tq = seg[j] >> 4, seg[j] & 0x0F
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                if tq == 0:  # luma table
                    tbl = np.frombuffer(seg[j + 1 : j + 65], np.uint8)
                    if tbl.size != 64:
                        raise ValueError("truncated DQT")
                    s = round(100.0 * int(tbl.sum()) / int(QUANT_LUMA.sum()))
                    return int((200 - s) // 2 if s <= 100 else round(5000.0 / s))
                j += 65
        i += 2 + seg_len
    raise ValueError("no luma DQT found")


def jpeg_sof_mode(buf: bytes) -> str:
    """'baseline' / 'progressive' from the actual SOF0/SOF2 marker via
    a proper segment walk — a raw byte scan for b'\\xff\\xc2' can hit
    the two-byte sequence inside an APP/EXIF/ICC payload and misreport
    a baseline file (ADVICE r9). ValueError on other SOF types or a
    stream with no SOF before SOS/EOI."""
    if len(buf) < 4 or buf[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    i = 2
    while i + 4 <= len(buf):
        if buf[i] != 0xFF:
            raise ValueError("marker sync lost before SOF")
        marker = buf[i + 1]
        if marker == 0xFF:  # fill byte
            i += 1
            continue
        if marker in (0xC0, 0xC2):
            return "baseline" if marker == 0xC0 else "progressive"
        if 0xC1 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            raise ValueError(
                f"SOF{marker - 0xC0} unsupported (baseline/progressive only)"
            )
        if marker in (0xD9, 0xDA):  # EOI / SOS before any SOF
            break
        if 0xD0 <= marker <= 0xD8 or marker == 0x01:  # standalone
            i += 2
            continue
        seg_len = int.from_bytes(buf[i + 2 : i + 4], "big")
        if seg_len < 2:
            raise ValueError("bad segment length before SOF")
        i += 2 + seg_len
    raise ValueError("no SOF marker found")


def _split_planes(a: np.ndarray, subsampling: str, quality: int | None = None):
    """uint8 image → (planes float64, quant tables, sub420 flag):
    grayscale passthrough or RGB→YCbCr with optional 2x2 chroma
    box-mean subsampling. Shared by the baseline and progressive
    encoders. quality=None keeps the exact Annex-K tables (identical
    to quality=50 by the scaling formula)."""
    gray = a.ndim == 2
    h, w = a.shape[:2]
    if subsampling not in ("444", "420"):
        raise ValueError(f"subsampling {subsampling!r} unsupported")
    sub420 = subsampling == "420" and not gray
    mcu = 16 if sub420 else 8
    if h % mcu or w % mcu:
        raise ValueError(f"encoder requires multiple-of-{mcu} dimensions")
    ql = QUANT_LUMA if quality is None else scale_quant(QUANT_LUMA, quality)
    qc = (
        QUANT_CHROMA if quality is None else scale_quant(QUANT_CHROMA, quality)
    )
    if gray:
        return [a.astype(np.float64)], [ql], False
    r = a[:, :, 0].astype(np.float64)
    g = a[:, :, 1].astype(np.float64)
    b = a[:, :, 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    if sub420:
        cb = cb.reshape(h // 2, 2, w // 2, 2).mean(axis=(1, 3))
        cr = cr.reshape(h // 2, 2, w // 2, 2).mean(axis=(1, 3))
    return [y, cb, cr], [ql, qc, qc], sub420


def encode_jpeg(
    img: np.ndarray,
    subsampling: str = "444",
    restart_interval: int = 0,
    quality: int | None = None,
) -> bytes:
    """(H, W) gray or (H, W, 3) RGB uint8 → baseline JFIF bytes
    (Annex-K tables). `subsampling` is "444" or "420" (color only —
    chroma box-mean-subsampled 2x2, the camera-standard layout);
    `restart_interval` > 0 inserts RSTn markers every that many MCUs.
    Dimensions must be multiples of the MCU size (8, or 16 for 4:2:0)
    — fixture generation, not a general-purpose encoder."""
    a = np.asarray(img, dtype=np.uint8)
    gray = a.ndim == 2
    h, w = a.shape[:2]
    planes, quants, sub420 = _split_planes(a, subsampling, quality)
    mcu = 16 if sub420 else 8

    dc_tabs = [_build_huffman(DC_LUMA_SPEC)] + (
        [] if gray else [_build_huffman(DC_CHROMA_SPEC)] * 2
    )
    ac_tabs = [_build_huffman(AC_LUMA_SPEC)] + (
        [] if gray else [_build_huffman(AC_CHROMA_SPEC)] * 2
    )

    bw = _BitWriter()
    pred = [0] * len(planes)

    def emit_block(ci: int, plane: np.ndarray, by: int, bx: int) -> None:
        block = plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] - 128.0
        coef = _fdct(block)
        q = np.round(coef / quants[ci]).astype(np.int64)
        zz = q.reshape(-1)[ZIGZAG]
        diff = int(zz[0]) - pred[ci]
        pred[ci] = int(zz[0])
        cat, bits = _magnitude(diff)
        code, ln = dc_tabs[ci][cat]
        bw.write(code, ln)
        if cat:
            bw.write(bits, cat)
        run = 0
        for k in range(1, 64):
            v = int(zz[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, ln = ac_tabs[ci][0xF0]  # ZRL
                bw.write(code, ln)
                run -= 16
            cat, bits = _magnitude(v)
            code, ln = ac_tabs[ci][(run << 4) | cat]
            bw.write(code, ln)
            bw.write(bits, cat)
            run = 0
        if run:
            code, ln = ac_tabs[ci][0x00]  # EOB
            bw.write(code, ln)

    mcus_y, mcus_x = h // mcu, w // mcu
    mcu_no = 0
    rst_m = 0
    scan_parts = []
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_no and mcu_no % restart_interval == 0:
                scan_parts.append(bw.flush())
                scan_parts.append(bytes([0xFF, 0xD0 + rst_m]))
                rst_m = (rst_m + 1) % 8
                bw = _BitWriter()
                pred = [0] * len(planes)
            if sub420:
                for byy in range(2):
                    for bxx in range(2):
                        emit_block(0, planes[0], my * 2 + byy, mx * 2 + bxx)
                emit_block(1, planes[1], my, mx)
                emit_block(2, planes[2], my, mx)
            else:
                for ci, plane in enumerate(planes):
                    emit_block(ci, plane, my, mx)
            mcu_no += 1
    scan_parts.append(bw.flush())
    scan = b"".join(scan_parts)

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    out = b"\xff\xd8"  # SOI
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(
        0xDB, bytes([0]) + bytes(quants[0].reshape(-1)[ZIGZAG].astype(np.uint8))
    )
    if not gray:
        out += seg(
            0xDB,
            bytes([1]) + bytes(quants[1].reshape(-1)[ZIGZAG].astype(np.uint8)),
        )
    ncomp = 1 if gray else 3
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for ci in range(ncomp):
        hv = 0x22 if (sub420 and ci == 0) else 0x11
        sof += bytes([ci + 1, hv, 0 if ci == 0 else 1])
    out += seg(0xC0, sof)
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))

    def dht(cls: int, tid: int, spec) -> bytes:
        counts, values = spec
        return seg(0xC4, bytes([(cls << 4) | tid]) + bytes(counts) + bytes(values))

    out += dht(0, 0, DC_LUMA_SPEC) + dht(1, 0, AC_LUMA_SPEC)
    if not gray:
        out += dht(0, 1, DC_CHROMA_SPEC) + dht(1, 1, AC_CHROMA_SPEC)
    sos = bytes([ncomp])
    for ci in range(ncomp):
        sos += bytes([ci + 1, 0x00 if ci == 0 else 0x11])
    sos += bytes([0, 63, 0])
    out += seg(0xDA, sos) + scan + b"\xff\xd9"  # EOI
    return out


def encode_jpeg_progressive(
    img: np.ndarray, subsampling: str = "444", quality: int | None = None
) -> bytes:
    """(H, W) gray or (H, W, 3) RGB uint8 → PROGRESSIVE (SOF2) JFIF
    bytes — the majority encoding for large web JPEGs and the r7
    verdict's #2 realism gap. The scan script exercises every
    progressive decode path: interleaved DC first (Al=1) + DC
    refinement (Al=0), per-component AC spectral-selection first
    passes (luma split 1-5 / 6-63) at Al=1, then AC refinement
    passes (correction bits, EOB-run tails) at Al=0.

    The entropy coding is a lossless repackaging of the SAME
    quantized coefficients the baseline encoder emits, so
    decode(encode_jpeg_progressive(x)) == decode(encode_jpeg(x))
    bit-for-bit — the roundtrip tests pin that equivalence, and the
    DC-only block-constant fixture discipline (module docstring)
    carries over unchanged."""
    a = np.asarray(img, dtype=np.uint8)
    gray = a.ndim == 2
    h, w = a.shape[:2]
    planes, quants, sub420 = _split_planes(a, subsampling, quality)
    n = len(planes)
    hv = [(2, 2), (1, 1), (1, 1)] if sub420 else [(1, 1)] * n

    # quantized zigzag coefficients per component, vectorized FDCT
    zzs = []
    for ci, plane in enumerate(planes):
        ph, pw = plane.shape
        nby, nbx = ph // 8, pw // 8
        blocks = (
            plane.reshape(nby, 8, nbx, 8).transpose(0, 2, 1, 3) - 128.0
        )
        coefs = np.einsum("ij,abjk,kl->abil", _C, blocks, _C.T)
        q = np.round(coefs / quants[ci]).astype(np.int64)
        zzs.append(q.reshape(nby, nbx, 64)[..., ZIGZAG])

    dc_tabs = [_build_huffman(DC_LUMA_SPEC)] + (
        [] if gray else [_build_huffman(DC_CHROMA_SPEC)] * 2
    )
    ac_tabs = [_build_huffman(AC_LUMA_SPEC)] + (
        [] if gray else [_build_huffman(AC_CHROMA_SPEC)] * 2
    )

    mcu = 16 if sub420 else 8
    mcus_y, mcus_x = h // mcu, w // mcu

    def dc_scan(ah: int, al: int) -> bytes:
        bw = _BitWriter()
        pred = [0] * n
        for my in range(mcus_y):
            for mx in range(mcus_x):
                for ci in range(n):
                    cv, ch = hv[ci][1], hv[ci][0]
                    for byy in range(cv):
                        for bxx in range(ch):
                            v = int(zzs[ci][my * cv + byy, mx * ch + bxx, 0])
                            if ah == 0:
                                t = v >> al  # arithmetic: floor-shift
                                diff = t - pred[ci]
                                pred[ci] = t
                                cat, bits = _magnitude(diff)
                                code, ln = dc_tabs[ci][cat]
                                bw.write(code, ln)
                                if cat:
                                    bw.write(bits, cat)
                            else:  # refinement: one raw bit per block
                                bw.write((v >> al) & 1, 1)
        return bw.flush()

    def ac_first_scan(ci: int, ss: int, se: int, al: int) -> bytes:
        bw = _BitWriter()
        tab = ac_tabs[ci]
        zz = zzs[ci]
        for by in range(zz.shape[0]):
            for bx in range(zz.shape[1]):
                r = 0
                for k in range(ss, se + 1):
                    v = int(zz[by, bx, k])
                    tv = abs(v) >> al
                    if tv == 0:
                        r += 1
                        continue
                    while r > 15:
                        code, ln = tab[0xF0]  # ZRL
                        bw.write(code, ln)
                        r -= 16
                    cat, bits = _magnitude(tv if v > 0 else -tv)
                    code, ln = tab[(r << 4) | cat]
                    bw.write(code, ln)
                    bw.write(bits, cat)
                    r = 0
                if r:  # per-block EOB0 (no run accumulation: valid,
                    code, ln = tab[0x00]  # just less compact)
                    bw.write(code, ln)
        return bw.flush()

    def ac_refine_scan(ci: int, ss: int, se: int, al: int) -> bytes:
        bw = _BitWriter()
        tab = ac_tabs[ci]
        zz = zzs[ci]
        for by in range(zz.shape[0]):
            for bx in range(zz.shape[1]):
                r = 0
                pend: list[int] = []  # correction bits awaiting a symbol
                for k in range(ss, se + 1):
                    v = int(zz[by, bx, k])
                    tv = abs(v) >> al
                    if tv == 0:
                        r += 1
                        continue
                    if tv > 1:  # significant before this pass
                        pend.append(tv & 1)
                        continue
                    # newly significant (exactly ±1 at this precision)
                    while r > 15:
                        code, ln = tab[0xF0]
                        bw.write(code, ln)
                        for b in pend:
                            bw.write(b, 1)
                        pend = []
                        r -= 16
                    code, ln = tab[(r << 4) | 1]
                    bw.write(code, ln)
                    bw.write(1 if v > 0 else 0, 1)  # sign
                    for b in pend:
                        bw.write(b, 1)
                    pend = []
                    r = 0
                if r or pend:
                    code, ln = tab[0x00]  # EOB0; its tail carries the
                    bw.write(code, ln)  # remaining correction bits
                    for b in pend:
                        bw.write(b, 1)
        return bw.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    def sos(comp_ids: list[int], ss: int, se: int, ah: int, al: int) -> bytes:
        body = bytes([len(comp_ids)])
        for ci in comp_ids:
            tid = 0 if ci == 0 else 1
            body += bytes([ci + 1, (tid << 4) | tid])
        body += bytes([ss, se, (ah << 4) | al])
        return seg(0xDA, body)

    out = b"\xff\xd8"
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(
        0xDB, bytes([0]) + bytes(quants[0].reshape(-1)[ZIGZAG].astype(np.uint8))
    )
    if not gray:
        out += seg(
            0xDB,
            bytes([1]) + bytes(quants[1].reshape(-1)[ZIGZAG].astype(np.uint8)),
        )
    sof = struct.pack(">BHHB", 8, h, w, n)
    for ci in range(n):
        hvb = 0x22 if (sub420 and ci == 0) else 0x11
        sof += bytes([ci + 1, hvb, 0 if ci == 0 else 1])
    out += seg(0xC2, sof)

    def dht(cls: int, tid: int, spec) -> bytes:
        counts, values = spec
        return seg(0xC4, bytes([(cls << 4) | tid]) + bytes(counts) + bytes(values))

    out += dht(0, 0, DC_LUMA_SPEC) + dht(1, 0, AC_LUMA_SPEC)
    if not gray:
        out += dht(0, 1, DC_CHROMA_SPEC) + dht(1, 1, AC_CHROMA_SPEC)

    all_comps = list(range(n))
    out += sos(all_comps, 0, 0, 0, 1) + dc_scan(0, 1)
    out += sos(all_comps, 0, 0, 1, 0) + dc_scan(1, 0)
    if gray:
        out += sos([0], 1, 5, 0, 1) + ac_first_scan(0, 1, 5, 1)
        out += sos([0], 6, 63, 0, 1) + ac_first_scan(0, 6, 63, 1)
        out += sos([0], 1, 63, 1, 0) + ac_refine_scan(0, 1, 63, 0)
    else:
        out += sos([0], 1, 5, 0, 1) + ac_first_scan(0, 1, 5, 1)
        out += sos([1], 1, 63, 0, 1) + ac_first_scan(1, 1, 63, 1)
        out += sos([2], 1, 63, 0, 1) + ac_first_scan(2, 1, 63, 1)
        out += sos([0], 6, 63, 0, 1) + ac_first_scan(0, 6, 63, 1)
        out += sos([0], 1, 63, 1, 0) + ac_refine_scan(0, 1, 63, 0)
        out += sos([1], 1, 63, 1, 0) + ac_refine_scan(1, 1, 63, 0)
        out += sos([2], 1, 63, 1, 0) + ac_refine_scan(2, 1, 63, 0)
    return out + b"\xff\xd9"


# -- decoder ---------------------------------------------------------------


def decode_jpeg(buf: bytes) -> np.ndarray:
    """Baseline (SOF0) or progressive (SOF2) JPEG bytes → uint8
    (H, W) gray or (H, W, 3) RGB. Raises ValueError for anything
    outside the supported scope."""
    try:
        return _decode_jpeg(buf)
    except ValueError:
        raise
    except Exception as exc:  # struct.error, IndexError…
        raise ValueError(f"corrupt JPEG file: {exc}") from exc


def _find_scan_end(buf: bytes, start: int) -> int:
    """First byte after the entropy-coded segment starting at `start`:
    0xFF followed by anything other than stuffing (0x00) or a restart
    marker ends the scan."""
    pos = start
    n = len(buf)
    while pos + 1 < n:
        if buf[pos] == 0xFF and buf[pos + 1] != 0x00 and not (
            0xD0 <= buf[pos + 1] <= 0xD7
        ):
            return pos
        pos += 1
    return n


def _decode_jpeg(buf: bytes) -> np.ndarray:
    """Multi-scan architecture (T.81 §E/G): every scan — the single
    interleaved scan of a baseline file, or the DC/AC spectral-
    selection + successive-approximation scans of a progressive one —
    accumulates quantized coefficients into per-component block
    arrays; dequantize + IDCT + colorspace run once at the end."""
    if buf[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG file (no SOI)")
    pos = 2
    quants: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}
    frame = None
    progressive = False
    comps: list[dict] = []
    restart_interval = 0
    coef: list[np.ndarray] | None = None
    mcus_x = mcus_y = 0
    scans = 0

    def alloc(first_scan_start: int) -> None:
        nonlocal coef, mcus_x, mcus_y
        fh, fw, nc = frame
        hmax = max(c["h"] for c in comps)
        vmax = max(c["v"] for c in comps)
        mcus_x = (fw + 8 * hmax - 1) // (8 * hmax)
        mcus_y = (fh + 8 * vmax - 1) // (8 * vmax)
        # SOF dimensions are raw 2-byte fields: bound the allocation
        # against the entropy data actually present BEFORE allocating
        # (65535x65535x3 would demand ~100 GB) — even the cheapest
        # scan (a DC refinement) costs 1 bit per block, the grib2-ng
        # fuzzer-class policy
        n_blocks = mcus_x * mcus_y * sum(c["h"] * c["v"] for c in comps)
        if n_blocks > 8 * max(len(buf) - first_scan_start, 0):
            raise ValueError(
                f"frame declares {n_blocks} blocks but only "
                f"{len(buf) - first_scan_start} entropy bytes follow"
            )
        # per-component coefficient store in zigzag order, at the
        # MCU-padded block grid
        coef = [
            np.zeros((mcus_y * c["v"], mcus_x * c["h"], 64), dtype=np.int64)
            for c in comps
        ]
        for ci, c in enumerate(comps):
            # non-interleaved scans cover only ceil(comp_dim/8) blocks
            c["nbx"] = (-(-fw * c["h"] // hmax) + 7) // 8
            c["nby"] = (-(-fh * c["v"] // vmax) + 7) // 8

    while pos + 2 <= len(buf):
        if buf[pos] != 0xFF:
            raise ValueError(f"expected marker at byte {pos}")
        marker = buf[pos + 1]
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:  # standalone
            pos += 2
            continue
        (ln,) = struct.unpack(">H", buf[pos + 2 : pos + 4])
        body = buf[pos + 4 : pos + 2 + ln]
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(body):
                pq, tq = body[p] >> 4, body[p] & 0xF
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                tbl = np.zeros(64, dtype=np.int32)
                tbl[ZIGZAG] = np.frombuffer(
                    body[p + 1 : p + 65], dtype=np.uint8
                ).astype(np.int32)
                quants[tq] = tbl.reshape(8, 8)
                p += 65
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(body):
                cls, tid = body[p] >> 4, body[p] & 0xF
                counts = list(body[p + 1 : p + 17])
                nvals = sum(counts)
                values = list(body[p + 17 : p + 17 + nvals])
                huff[(cls, tid)] = _decode_table((counts, values))
                p += 17 + nvals
        elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
            progressive = marker == 0xC2
            prec, fh, fw, nc = struct.unpack(">BHHB", body[:6])
            if prec != 8:
                raise ValueError(f"{prec}-bit precision unsupported")
            comps = []
            for ci in range(nc):
                cid, hv, tq = body[6 + ci * 3 : 9 + ci * 3]
                hf, vf = hv >> 4, hv & 0xF
                if hf not in (1, 2) or vf not in (1, 2):
                    raise ValueError(
                        f"sampling factor {hf}x{vf} unsupported (1-2 only)"
                    )
                comps.append({"id": cid, "tq": tq, "h": hf, "v": vf})
            frame = (fh, fw, nc)
        elif marker in (0xC1, 0xC3, 0xC9, 0xCA, 0xCB):
            raise ValueError(
                f"SOF{marker - 0xC0} unsupported (baseline/progressive only)"
            )
        elif marker == 0xDD:
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS — decode this scan, keep walking
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = body[0]
            scan_comps = []
            for si in range(ns):
                cs, tabs = body[1 + si * 2], body[2 + si * 2]
                scan_comps.append((cs, tabs >> 4, tabs & 0xF))
            ss, se, ahl = body[1 + ns * 2 : 4 + ns * 2]
            ah, al = ahl >> 4, ahl & 0xF
            scan_start = pos + 2 + ln
            scan_end = _find_scan_end(buf, scan_start)
            if coef is None:
                alloc(scan_start)
            _decode_one_scan(
                buf[scan_start:scan_end],
                comps,
                coef,
                huff,
                scan_comps,
                progressive,
                ss,
                se,
                ah,
                al,
                restart_interval,
                mcus_x,
                mcus_y,
            )
            scans += 1
            pos = scan_end
            continue
        pos += 2 + ln

    if frame is None or scans == 0:
        raise ValueError("missing SOF or SOS")
    fh, fw, nc = frame
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)

    # dequantize + IDCT every block, vectorized per component
    planes = []
    for ci, c in enumerate(comps):
        if c["tq"] not in quants:
            raise ValueError("component references undefined quant table")
        qz = quants[c["tq"]].reshape(-1)[ZIGZAG].astype(np.int64)
        zz = coef[ci] * qz  # (nby, nbx, 64) in zigzag order
        nat = np.zeros_like(zz, dtype=np.float64)
        nat[..., ZIGZAG] = zz
        nby, nbx = zz.shape[:2]
        blocks = nat.reshape(nby, nbx, 8, 8)
        px = np.einsum("ij,abjk,kl->abil", _C.T, blocks, _C) + 128.0
        plane = px.transpose(0, 2, 1, 3).reshape(nby * 8, nbx * 8)
        if c["h"] < hmax:
            plane = np.repeat(plane, hmax // c["h"], axis=1)
        if c["v"] < vmax:
            plane = np.repeat(plane, vmax // c["v"], axis=0)
        planes.append(plane[:fh, :fw])
    if nc == 1:
        return np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
    if nc != 3:
        raise ValueError(f"{nc}-component scans unsupported")
    y, cb, cr = planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.clip(
        np.round(np.stack([r, g, b], axis=-1)), 0, 255
    ).astype(np.uint8)


def _decode_one_scan(
    data: bytes,
    comps: list[dict],
    coef: list[np.ndarray],
    huff: dict,
    scan_comps: list[tuple[int, int, int]],
    progressive: bool,
    ss: int,
    se: int,
    ah: int,
    al: int,
    restart_interval: int,
    mcus_x: int,
    mcus_y: int,
) -> None:
    """One entropy-coded segment into the coefficient store. Baseline:
    the single interleaved DC+AC scan (§E.2.3). Progressive (§G.2):
    DC scans (Ss=Se=0; interleaved or single-component) first/refine
    by Ah, and single-component AC band scans with EOB-run semantics,
    first (Ah=0) or refinement (correction bits) passes."""
    br = _BitReader(data)
    by_id = {c["id"]: i for i, c in enumerate(comps)}
    idxs = []
    for cs, dc_t, ac_t in scan_comps:
        if cs not in by_id:
            raise ValueError(f"scan references unknown component {cs}")
        idxs.append((by_id[cs], dc_t, ac_t))

    rst = {"n": 0, "m": 0}

    def unit_boundary(pred: list[int], eob: list[int]) -> None:
        # restart interval bookkeeping, shared by all scan kinds
        if restart_interval and rst["n"] and rst["n"] % restart_interval == 0:
            br.expect_restart(rst["m"])
            rst["m"] = (rst["m"] + 1) % 8
            for i in range(len(pred)):
                pred[i] = 0
            eob[0] = 0
        rst["n"] += 1

    if not progressive:
        if len(idxs) != len(comps):
            raise ValueError("baseline scans must interleave all components")
        pred = [0] * len(comps)
        eob0 = [0]
        for my in range(mcus_y):
            for mx in range(mcus_x):
                unit_boundary(pred, eob0)
                for si, (ci, dc_t, ac_t) in enumerate(idxs):
                    c = comps[ci]
                    dct, act = huff.get((0, dc_t)), huff.get((1, ac_t))
                    if dct is None or act is None:
                        raise ValueError(
                            "scan references undefined Huffman table"
                        )
                    for byy in range(c["v"]):
                        for bxx in range(c["h"]):
                            zz = coef[ci][my * c["v"] + byy, mx * c["h"] + bxx]
                            cat = br.read_symbol(dct)
                            diff = _extend(br.read_bits(cat), cat) if cat else 0
                            pred[si] += diff
                            zz[0] = pred[si]
                            k = 1
                            while k < 64:
                                rs = br.read_symbol(act)
                                if rs == 0x00:  # EOB
                                    break
                                if rs == 0xF0:  # ZRL
                                    k += 16
                                    continue
                                k += rs >> 4
                                if k > 63:
                                    raise ValueError("AC run past block end")
                                zz[k] = _extend(br.read_bits(rs & 0xF), rs & 0xF)
                                k += 1
        return

    if ss == 0:  # progressive DC scan
        if se != 0:
            raise ValueError("invalid progressive scan (Ss=0 requires Se=0)")
        pred = [0] * len(idxs)
        eob0 = [0]
        dcts = []
        for ci, dc_t, _ in idxs:
            t = huff.get((0, dc_t))
            if ah == 0 and t is None:
                raise ValueError("scan references undefined Huffman table")
            dcts.append(t)

        def dc_block(si: int, zz: np.ndarray) -> None:
            if ah == 0:  # first pass
                cat = br.read_symbol(dcts[si])
                diff = _extend(br.read_bits(cat), cat) if cat else 0
                pred[si] += diff
                zz[0] = pred[si] << al
            else:  # refinement: one raw bit
                if br.read_bit():
                    zz[0] |= 1 << al

        if len(idxs) > 1:  # interleaved MCU order
            for my in range(mcus_y):
                for mx in range(mcus_x):
                    unit_boundary(pred, eob0)
                    for si, (ci, _, _) in enumerate(idxs):
                        c = comps[ci]
                        for byy in range(c["v"]):
                            for bxx in range(c["h"]):
                                dc_block(
                                    si,
                                    coef[ci][
                                        my * c["v"] + byy, mx * c["h"] + bxx
                                    ],
                                )
        else:  # non-interleaved: the component's own block raster
            ci = idxs[0][0]
            c = comps[ci]
            for by in range(c["nby"]):
                for bx in range(c["nbx"]):
                    unit_boundary(pred, eob0)
                    dc_block(0, coef[ci][by, bx])
        return

    # progressive AC scan: single component, band ss..se
    if len(idxs) != 1:
        raise ValueError("progressive AC scans must be single-component")
    if not 1 <= ss <= se <= 63:
        raise ValueError(f"invalid spectral band {ss}..{se}")
    ci, _, ac_t = idxs[0]
    act = huff.get((1, ac_t))
    if act is None:
        raise ValueError("scan references undefined Huffman table")
    c = comps[ci]
    eobrun = [0]
    pred0 = [0]

    def ac_first(zz: np.ndarray) -> None:
        if eobrun[0] > 0:
            eobrun[0] -= 1
            return
        k = ss
        while k <= se:
            rs = br.read_symbol(act)
            r, s = rs >> 4, rs & 0xF
            if s == 0:
                if r == 15:  # ZRL
                    k += 16
                    continue
                eobrun[0] = (1 << r) - 1
                if r:
                    eobrun[0] += br.read_bits(r)
                return
            k += r
            if k > se:
                raise ValueError("AC run past band end")
            zz[k] = _extend(br.read_bits(s), s) << al
            k += 1

    p1 = 1 << al
    m1 = -1 << al

    def refine_nonzero(zz: np.ndarray, k: int) -> None:
        if br.read_bit() and (zz[k] & p1) == 0:
            zz[k] += p1 if zz[k] >= 0 else m1

    def ac_refine(zz: np.ndarray) -> None:
        # T.81 G.2 / the correction-bit pass: newly-significant
        # coefficients arrive as ±1<<Al; every already-nonzero
        # coefficient crossed on the way carries one correction bit
        k = ss
        if eobrun[0] == 0:
            while k <= se:
                rs = br.read_symbol(act)
                r, s = rs >> 4, rs & 0xF
                newval = 0
                if s == 0:
                    if r != 15:  # EOBn
                        eobrun[0] = 1 << r
                        if r:
                            eobrun[0] += br.read_bits(r)
                        break
                    # r == 15: ZRL — skip 16 zero-history positions
                else:
                    if s != 1:
                        raise ValueError("refinement scan with s != 1")
                    newval = p1 if br.read_bit() else m1
                while k <= se:
                    if zz[k] != 0:
                        refine_nonzero(zz, k)
                    else:
                        if r == 0:
                            break
                        r -= 1
                    k += 1
                if newval:
                    if k > se:
                        raise ValueError("AC run past band end")
                    zz[k] = newval
                k += 1
        if eobrun[0] > 0:
            while k <= se:
                if zz[k] != 0:
                    refine_nonzero(zz, k)
                k += 1
            eobrun[0] -= 1

    block_fn = ac_refine if ah else ac_first
    for by in range(c["nby"]):
        for bx in range(c["nbx"]):
            if restart_interval and rst["n"] and rst["n"] % restart_interval == 0:
                br.expect_restart(rst["m"])
                rst["m"] = (rst["m"] + 1) % 8
                eobrun[0] = 0
                pred0[0] = 0
            rst["n"] += 1
            block_fn(coef[ci][by, bx])
