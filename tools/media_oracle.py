#!/usr/bin/env python3
"""Third-engine oracle for the decoded-media rows-only queries
(m01_media_features, m04_phash_neardup, m05_cross_modal_blast).

The graded Spark path runs: synthesize content from splitmix64 ->
encode a REAL container (PCM WAV / IMA ADPCM / BMP / RLE TGA / P6 PPM
by id%6) -> sniff by magic bytes -> decode -> feature/pHash math. This
script rebuilds the same results in pure Python FROM THE SYNTHESIS
RULES AND THE CONTAINER LAYOUT SPECS (BinaryPipeline.scala synthesis
constants; BMP bottom-up padded BGR, PPM top-down RGB after the ASCII
header, TGA type-10 RLE packets bottom-up BGR with the 2.0 footer,
WAV s16le, IMA ADPCM 256-byte blocks with the published step/index
tables — the LOSSY leg, replayed here with this file's OWN table
literals and quantizer transcription) with no JVM and no Spark, then
compares against the graft.Verify dumps. m04/m05
are integer arithmetic end to end -> exact equality required; m01's
avg_f0 is a rounded mean of float32 features -> compared to 2e-4 (the
round-4 quantum), counts/bytes/max_width exact.

Equality proves, from outside the JVM, that the encode -> sniff ->
decode round trip is byte-faithful (any header/stride/mirror/padding
bug would shift content bytes and break the pHash pair set or the
feature sums) — the same discipline tools/ann_recall_oracle.py applies
to the LSH paths.

Usage: tools/media_oracle.py [sfDir] [verifyOutDir]   (sfDir unused —
the media corpus is a pure function of range(0, 2000) — accepted so
check_all.sh can invoke every gate uniformly.)
"""
import sys
import struct
import zlib

import duckdb

# BinaryPipeline.NMedia: the media corpus is ids 0 until 2000
N_MEDIA = 2000
WAV_RATE = 8000
AUDIO_BLOCK = 256
MASK = (1 << 64) - 1


def mix64(x):
    """splitmix64 finalizer — HashExprs.mix64 bit-for-bit."""
    x = (x + 0x9E3779B97F4A7C15) & MASK
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & MASK
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & MASK
    return x ^ (x >> 31)


def img_dims(i):
    return i % 40 + 8, i % 30 + 8


def wav_n(i):
    return i % 1024 + 256


def rgb_bytes(i):
    w, h = img_dims(i)
    out = bytearray(3 * w * h)
    for p in range(w * h):
        hsh = mix64(((i << 20) ^ p) & MASK)
        out[3 * p] = hsh & 0xFF
        out[3 * p + 1] = (hsh >> 8) & 0xFF
        out[3 * p + 2] = (hsh >> 16) & 0xFF
    return w, h, bytes(out)


def smooth_sample(i, p):
    """BinaryPipeline.synthSample's smooth leg (id % 24 == 0, round 13),
    transcribed: Prouhet-Thue-Morse block signs over a small quadratic
    (elects FIXED order 3) or cubic (order 4) accumulator, exactly
    periodic and bounded; see the Scala scaladoc for the derivation."""
    h = mix64((i ^ 0x536D6F6F7468) & MASK)
    cubic = (h >> 10) & 1
    pattern = [1, -1, -1, 1, -1, 1, 1, -1] if cubic else [1, -1, -1, 1]
    coef = (h & 1) + 1 if cubic else (h & 3) + 1
    dc = ((h >> 2) & 0x3FFF) - 8192
    m = p % (16 * len(pattern))
    d2 = v = s = 0
    for t in range(m):
        sign = pattern[t // 16]
        if cubic:
            d2 += sign * coef
            v += d2
            s += v
        else:
            v += sign * coef
            s += v
    return dc + s


def synth_u16(i, p):
    """One audio sample as u16 — smooth leg for i % 24 == 0, splitmix64
    noise otherwise (BinaryPipeline.synthSample)."""
    if i % 24 == 0:
        return smooth_sample(i, p) & 0xFFFF
    return mix64(((i << 20) ^ p) & MASK) & 0xFFFF


def wav_samples(i):
    out = []
    for p in range(wav_n(i)):
        v = synth_u16(i, p)
        out.append(v - 65536 if v >= 32768 else v)  # s16: sign-extend
    return out


def row_stride(w):
    return (3 * w + 3) // 4 * 4


# ---- IMA ADPCM (id%6==3): the published step-table quantizer,
#      transcribed independently of the Scala codec ----
ADPCM_STEP = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
    34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130,
    143, 157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449,
    494, 544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411,
    1552, 1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026,
    4428, 4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442,
    11487, 12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623,
    27086, 29794, 32767]
ADPCM_INDEX = [-1, -1, -1, -1, 2, 4, 6, 8] * 2
ADPCM_BLOCK = 256
ADPCM_SPB = (ADPCM_BLOCK - 4) * 2 + 1  # 505


def adpcm_quant(sample, pred, index):
    """One quantize step -> (code, new predictor, new index); the
    predictor tracks the decoder's reconstruction exactly."""
    step = ADPCM_STEP[index]
    delta = sample - pred
    code = 0
    if delta < 0:
        code = 8
        delta = -delta
    if delta >= step:
        code |= 4
        delta -= step
    if delta >= step >> 1:
        code |= 2
        delta -= step >> 1
    if delta >= step >> 2:
        code |= 1
    diff = step >> 3
    if code & 4:
        diff += step
    if code & 2:
        diff += step >> 1
    if code & 1:
        diff += step >> 2
    pred = pred - diff if code & 8 else pred + diff
    pred = max(-32768, min(32767, pred))
    index = max(0, min(88, index + ADPCM_INDEX[code]))
    return code, pred, index


def adpcm_replay(samples):
    """Decoded samples of the encode->decode round trip (the decoded
    stream IS the encoder's predictor sequence; block anchors raw)."""
    out = []
    index = 0
    i = 0
    n = len(samples)
    while i < n:
        pred = samples[i]
        out.append(pred)
        i += 1
        k = 1
        while k < ADPCM_SPB and i < n:
            _, pred, index = adpcm_quant(samples[i], pred, index)
            out.append(pred)
            i += 1
            k += 1
    return out


def adpcm_data_bytes(samples):
    """The data-chunk byte stream (block headers + packed nibbles, low
    nibble first; last block zero-padded to the 256-byte align) — what
    bodyOffset points at, so the m04 pHash hashes exactly these."""
    out = bytearray()
    index = 0
    i = 0
    n = len(samples)
    while i < n:
        pred = samples[i]
        out += struct.pack("<h", pred)
        out.append(index)
        out.append(0)
        i += 1
        nibbles = []
        for _ in range(1, ADPCM_SPB):
            code = 0
            if i < n:
                code, pred, index = adpcm_quant(samples[i], pred, index)
                i += 1
            nibbles.append(code)
        for j in range(0, len(nibbles), 2):
            out.append(nibbles[j] | (nibbles[j + 1] << 4))
    return bytes(out)


# ---- PNG (id%6==5, round 11): the entropy-coded container. The body
#      is rebuilt here bit-for-bit — adaptive filters + fixed-Huffman
#      DEFLATE — and CPython's zlib INFLATES it as the independent
#      decoder of the hand-rolled deflate rule (the "independent inflate
#      replay" the round-10 carry-forward called for). ----


def paeth(a, b, c):
    pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def png_filtered(w, h, rgb):
    """Filtered scanline stream under the codec's adaptive heuristic
    (all five spec filters against the raw prior row, min sum of
    |filtered byte as signed|, ties -> lowest type) — this file's OWN
    transcription, never the JVM's."""
    stride = 3 * w
    out = bytearray()
    prior = bytes(stride)
    for y in range(h):
        row = rgb[y * stride:(y + 1) * stride]
        best_t, best_f, best_s = 0, None, None
        for t in range(5):
            f = bytearray(stride)
            s = 0
            for i in range(stride):
                x = row[i]
                a = row[i - 3] if i >= 3 else 0
                b = prior[i]
                c = prior[i - 3] if i >= 3 else 0
                if t == 0:
                    pred = 0
                elif t == 1:
                    pred = a
                elif t == 2:
                    pred = b
                elif t == 3:
                    pred = (a + b) // 2
                else:
                    pred = paeth(a, b, c)
                v = (x - pred) & 0xFF
                f[i] = v
                s += v if v < 128 else 256 - v
            if best_s is None or s < best_s:
                best_t, best_f, best_s = t, f, s
        out.append(best_t)
        out += best_f
        prior = row
    return bytes(out)


# fixed-Huffman literal codes, pre-bit-reversed: DEFLATE packs Huffman
# codes MSB-first into an LSB-first stream, so pushing the REVERSED code
# LSB-first is equivalent and 8x faster in Python
_FIXED = []
for _v in range(256):
    if _v < 144:
        _code, _n = 0x30 + _v, 8
    else:
        _code, _n = 0x190 + (_v - 144), 9
    _FIXED.append((int(bin(_code)[2:].zfill(_n)[::-1], 2), _n))


def fixed_deflate(data):
    """Fixed-Huffman literals-only DEFLATE, one final block — the
    codec's pricing rule re-packed bit-for-bit in pure Python."""
    out = bytearray()
    acc = 1 | (1 << 1)  # BFINAL=1 then BTYPE=01, LSB-first
    nacc = 3
    for v in data:
        rev, n = _FIXED[v]
        acc |= rev << nacc
        nacc += n
        while nacc >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nacc -= 8
    nacc += 7  # end-of-block: 7 zero bits
    while nacc >= 8:
        out.append(acc & 0xFF)
        acc >>= 8
        nacc -= 8
    if nacc:
        out.append(acc & 0xFF)
    return bytes(out)


def png_zlib(filtered):
    """The zlib stream inside IDAT (what bodyOffset points at)."""
    return b"\x78\x01" + fixed_deflate(filtered) + \
        struct.pack(">I", zlib.adler32(filtered) & 0xFFFFFFFF)


def png_unfilter(w, h, raw):
    """Invert the five spec filters — used by the inflate replay to
    prove the filtered stream reconstructs the synthesis-rule pixels."""
    stride = 3 * w
    rgb = bytearray(stride * h)
    for y in range(h):
        t = raw[y * (1 + stride)]
        ro = y * (1 + stride) + 1
        for i in range(stride):
            x = raw[ro + i]
            a = rgb[y * stride + i - 3] if i >= 3 else 0
            b = rgb[(y - 1) * stride + i] if y > 0 else 0
            c = rgb[(y - 1) * stride + i - 3] if y > 0 and i >= 3 else 0
            if t == 0:
                v = x
            elif t == 1:
                v = x + a
            elif t == 2:
                v = x + b
            elif t == 3:
                v = x + (a + b) // 2
            else:
                v = x + paeth(a, b, c)
            rgb[y * stride + i] = v & 0xFF
    return bytes(rgb)


def tga_packets(w, h, rgb):
    """RLE type-10 packet stream (storage order: bottom-up rows, BGR) —
    the same packetization rule as MediaCodec.encodeTga / m06TgaLen:
    per row, a >=2 run (cap 128) emits control 0x80|(n-1) + one pixel;
    literals accumulate until the next run starts (cap 128)."""
    out = bytearray()
    for y in range(h - 1, -1, -1):
        row = y * w * 3
        def px(i):
            return rgb[row + 3 * i:row + 3 * i + 3]
        i = 0
        while i < w:
            run = 1
            while i + run < w and run < 128 and px(i + run) == px(i):
                run += 1
            if run >= 2:
                p = px(i)
                out.append(0x80 | (run - 1))
                out += bytes((p[2], p[1], p[0]))  # BGR
                i += run
            else:
                j = i
                while j < w and j - i < 128 and \
                        not (j < w - 1 and px(j) == px(j + 1)):
                    j += 1
                out.append(j - i - 1)
                for k in range(i, j):
                    p = px(k)
                    out += bytes((p[2], p[1], p[0]))
                i = j
    return bytes(out)


# ---- FLAC (id%12==0, round 12): the predictive+entropy-coded lossless
#      audio leg. The frame stream is rebuilt here bit-for-bit (fixed
#      predictors order 0-4 by exact bit cost, one Rice partition,
#      CRC-8/CRC-16, STREAMINFO MD5) and then DECODED by this file's own
#      independent Rice decoder — the audio analog of the PNG
#      inflate replay. Pure public spec (the FLAC format / RFC 9639). ----

FLAC_BLOCK = 256


def _crc8(data):
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def _crc16(data):
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = ((crc << 1) ^ 0x8005) & 0xFFFF if crc & 0x8000 \
                else (crc << 1) & 0xFFFF
    return crc


class _BitW:
    """MSB-first bit writer (FLAC packs big-endian-bitwise)."""

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, v, n):
        self.acc = (self.acc << n) | (v & ((1 << n) - 1))
        self.n += n
        while self.n >= 8:
            self.out.append((self.acc >> (self.n - 8)) & 0xFF)
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def unary(self, q):
        self.put(0, q)
        self.put(1, 1)

    def bytes(self):
        if self.n:
            self.put(0, 8 - self.n)
        return bytes(self.out)


def _flac_predict(s, i, order):
    if order == 0:
        return 0
    if order == 1:
        return s[i - 1]
    if order == 2:
        return 2 * s[i - 1] - s[i - 2]
    if order == 3:
        return 3 * s[i - 1] - 3 * s[i - 2] + s[i - 3]
    return 4 * s[i - 1] - 6 * s[i - 2] + 4 * s[i - 3] - s[i - 4]


def _zigzag(r):
    return (r << 1) if r >= 0 else (-2 * r - 1)


def _flac_choose(s):
    """(order, k) minimizing exact subframe bits over FIXED 0-4, Rice
    k 0-30 — the codec's deterministic choice rule, transcribed."""
    n = len(s)
    best = None
    for order in range(0, min(5, n)):
        res = [_zigzag(s[i] - _flac_predict(s, i, order))
               for i in range(order, n)]
        for k in range(31):
            bits = sum((u >> k) + 1 + k for u in res)
            total = 16 * order + (4 if k <= 14 else 5) + bits
            if best is None or total < best[2]:
                best = (order, k, total)
    return best[0], best[1]


def _flac_frame(s, frame_no):
    """One frame's bytes: header (CRC-8) + FIXED subframe with one Rice
    partition + zero pad + CRC-16 — byte-exact with MediaCodec."""
    n = len(s)
    short = n != FLAC_BLOCK
    hdr = _BitW()
    hdr.put(0x3FFE, 14)
    hdr.put(0, 1)
    hdr.put(0, 1)
    hdr.put(6 if short else 8, 4)  # blocksize: 8-bit-at-end | 256
    hdr.put(4, 4)                  # 8 kHz
    hdr.put(0, 4)                  # mono
    hdr.put(4, 3)                  # s16
    hdr.put(0, 1)
    assert frame_no < 0x80, "single-byte coded number only at these sizes"
    hdr.put(frame_no, 8)
    if short:
        hdr.put(n - 1, 8)
    hb = hdr.bytes()
    order, k = _flac_choose(s)
    w = _BitW()
    w.put(_crc8(hb), 8)
    w.put(0, 1)
    w.put(8 + order, 6)
    w.put(0, 1)
    for i in range(order):
        w.put(s[i] & 0xFFFF, 16)
    if k <= 14:
        w.put(0, 2)
        w.put(0, 4)
        w.put(k, 4)
    else:
        w.put(1, 2)
        w.put(0, 4)
        w.put(k, 5)
    for i in range(order, n):
        u = _zigzag(s[i] - _flac_predict(s, i, order))
        w.unary(u >> k)
        w.put(u & ((1 << k) - 1), k)
    body = hb + w.bytes()
    return body + struct.pack(">H", _crc16(body))


def flac_frames(samples):
    """The full frame stream (what bodyOffset points at)."""
    out = bytearray()
    for f, off in enumerate(range(0, len(samples), FLAC_BLOCK)):
        out += _flac_frame(samples[off:off + FLAC_BLOCK], f)
    return bytes(out)


def flac_payload(samples, rate=WAV_RATE):
    """Full payload: fLaC magic + STREAMINFO (with the real MD5 of the
    raw s16le stream) + frames."""
    import hashlib
    si = _BitW()
    si.put(FLAC_BLOCK, 16)
    si.put(FLAC_BLOCK, 16)
    si.put(0, 24)
    si.put(0, 24)
    si.put(rate, 20)
    si.put(0, 3)
    si.put(15, 5)
    si.put(len(samples), 36)
    raw = b"".join(struct.pack("<h", v) for v in samples)
    return (b"fLaC" + bytes((0x80, 0, 0, 34)) + si.bytes() +
            hashlib.md5(raw).digest() + flac_frames(samples))


class _BitR:
    """MSB-first bit reader (the independent Rice-decode side)."""

    def __init__(self, b, byte_pos=0):
        self.b = b
        self.pos = byte_pos * 8

    def take(self, n):
        v = 0
        for _ in range(n):
            assert self.pos < len(self.b) * 8, "flac replay: truncated"
            v = (v << 1) | ((self.b[self.pos // 8] >> (7 - self.pos % 8)) & 1)
            self.pos += 1
        return v

    def unary(self):
        q = 0
        while self.take(1) == 0:
            q += 1
        return q

    def align(self):
        if self.pos % 8:
            assert self.take(8 - self.pos % 8) == 0


def flac_decode(p):
    """Independent decode of the subset bitstream: metadata walk, frame
    CRC-8/CRC-16 verification, fixed-predictor reconstruction, Rice
    decode, final STREAMINFO-MD5 check. Returns the samples."""
    import hashlib
    assert p[:4] == b"fLaC"
    off, last, rate, total, md5 = 4, False, None, None, None
    while not last:
        last = bool(p[off] & 0x80)
        typ = p[off] & 0x7F
        ln = (p[off + 1] << 16) | (p[off + 2] << 8) | p[off + 3]
        if typ == 0:
            r = _BitR(p, off + 4)
            assert r.take(16) == r.take(16) == FLAC_BLOCK
            r.take(48)
            rate = r.take(20)
            assert r.take(3) == 0 and r.take(5) == 15
            total = r.take(36)
            md5 = p[off + 4 + 18:off + 4 + 34]
        off += 4 + ln
    out = []
    frame_no = 0
    while len(out) < total:
        start = off
        r = _BitR(p, off)
        assert r.take(14) == 0x3FFE and r.take(2) == 0
        bs_code, rate_code = r.take(4), r.take(4)
        assert rate_code == 4 and r.take(4) == 0 and r.take(3) == 4 \
            and r.take(1) == 0
        assert r.take(8) == frame_no  # single-byte coded number
        n = r.take(8) + 1 if bs_code == 6 else FLAC_BLOCK
        hdr_end = r.pos // 8
        assert r.take(8) == _crc8(p[start:hdr_end]), "flac replay: CRC-8"
        assert r.take(1) == 0
        typ = r.take(6)
        assert 8 <= typ <= 12
        order = typ - 8
        assert r.take(1) == 0
        s = []
        for _ in range(order):
            v = r.take(16)
            s.append(v - 65536 if v >= 32768 else v)
        method = r.take(2)
        assert method <= 1 and r.take(4) == 0
        k = r.take(4 if method == 0 else 5)
        assert not ((method == 0 and k == 15) or (method == 1 and k == 31)), \
            "flac replay: escape unused by this encoder"
        for i in range(order, n):
            u = (r.unary() << k) | r.take(k)
            res = (u >> 1) ^ -(u & 1)
            s.append(_flac_predict(s, i, order) + res)
        r.align()
        body_end = r.pos // 8
        assert r.take(16) == _crc16(p[start:body_end]), "flac replay: CRC-16"
        out += s
        off = r.pos // 8
        frame_no += 1
    raw = b"".join(struct.pack("<h", v) for v in out)
    assert hashlib.md5(raw).digest() == md5, "flac replay: MD5 mismatch"
    return out


def body_bytes(i):
    """Content bytes as laid out INSIDE the container (what bodyOffset
    points at): WAV s16le / ADPCM coded blocks / FLAC frame stream /
    BMP bottom-up padded BGR / PPM top-down RGB."""
    if i % 6 == 3:
        return adpcm_data_bytes(wav_samples(i))
    if i % 12 == 0:
        return flac_frames(wav_samples(i))
    if i % 3 == 0:
        s = wav_samples(i)
        return b"".join(struct.pack("<h", v) for v in s)
    w, h, rgb = rgb_bytes(i)
    if i % 6 == 1:  # BMP
        stride = row_stride(w)
        body = bytearray(stride * h)
        for y in range(h):
            dst = (h - 1 - y) * stride
            for x in range(w):
                s = (y * w + x) * 3
                body[dst + 3 * x] = rgb[s + 2]
                body[dst + 3 * x + 1] = rgb[s + 1]
                body[dst + 3 * x + 2] = rgb[s]
        return bytes(body)
    if i % 6 == 4:  # RLE TGA: the body IS the packet stream
        return tga_packets(w, h, rgb)
    if i % 6 == 5:  # PNG: the body IS the IDAT zlib stream
        return png_zlib(png_filtered(w, h, rgb))
    return rgb  # PPM: raw top-down RGB after the ASCII header


def payload_len(i):
    if i % 6 == 3:  # IMA ADPCM: RIFF+fmt+fact+data headers + full blocks
        return 60 + ADPCM_BLOCK * ((wav_n(i) + ADPCM_SPB - 1) // ADPCM_SPB)
    if i % 12 == 0:  # FLAC: magic + STREAMINFO + content-dependent frames
        return 42 + len(body_bytes(i))
    if i % 3 == 0:
        return 44 + 2 * wav_n(i)
    w, h = img_dims(i)
    if i % 6 == 1:
        return 54 + row_stride(w) * h
    if i % 6 == 4:  # TGA: 18-byte header + packets + 26-byte 2.0 footer
        return 18 + len(body_bytes(i)) + 26
    if i % 6 == 5:  # PNG: sig + IHDR/IEND + chunk framing + zlib stream
        return 57 + len(body_bytes(i))
    return len(b"P6\n%d %d\n255\n" % (w, h)) + 3 * w * h


def f32(x):
    return struct.unpack("<f", struct.pack("<f", x))[0]


def m01_expected():
    """modality -> (n_media, total_bytes, max_width, [f0 float32 ...])."""
    acc = {}
    for i in range(N_MEDIA):
        if i % 3 == 0:
            s = wav_samples(i)
            if i % 6 == 3:  # the LOSSY leg: features see decoded samples
                s = adpcm_replay(s)
            mod, width = "audio", len(s)
            f0 = f32(sum(float(v) for v in s) / len(s) / 32768.0)
        else:
            w, h, rgb = rgb_bytes(i)
            mod, width = "image", w
            f0 = f32(sum(rgb[3 * p] for p in range(w * h)) / (w * h) / 255.0)
        n, tb, mw, f0s = acc.get(mod, (0, 0, 0, []))
        acc[mod] = (n + 1, tb + payload_len(i), max(mw, width), f0s + [f0])
    return acc


def neardup_body(i):
    """Body bytes AFTER the plant rule: id%10==7 && id>=12 carries
    id-12's payload with body[5] and body[40] swapped."""
    if i % 10 == 7 and i >= 12:
        b = bytearray(body_bytes(i - 12))
        b[5], b[40] = b[40], b[5]
        return bytes(b)
    return body_bytes(i)


def phash(body):
    head = body[:64]
    mean = sum(head) // max(1, len(head))
    ph = 0
    for j, v in enumerate(head):
        if v > mean:
            ph |= 1 << j
    return ph


def phash_pairs():
    """Band-bucketed (4 x 16-bit) candidates, exact Hamming <= 6."""
    by_bucket = {}
    phs = {}
    for i in range(N_MEDIA):
        mod = "audio" if i % 3 == 0 else "image"
        ph = phash(neardup_body(i))
        phs[i] = (mod, ph)
        for b in range(4):
            by_bucket.setdefault(
                (mod, b, (ph >> (16 * b)) & 0xFFFF), []).append(i)
    pairs = set()
    for (mod, _, _), ids in by_bucket.items():
        for ai in range(len(ids)):
            for bi in range(ai + 1, len(ids)):
                a, b = min(ids[ai], ids[bi]), max(ids[ai], ids[bi])
                if bin(phs[a][1] ^ phs[b][1]).count("1") <= 6:
                    pairs.add((mod, a, b))
    return pairs, phs


RESIZE_MAX_DIM = 16


def m06_expected():
    """modality -> (n, sum_w, sum_h, total_bytes, content_sum): the
    resize round trip replayed from the synthesis rule + resample
    positions + container layouts — third engine for the m06 oracle's
    codec-free VALUES twin."""
    acc = {}
    for i in range(N_MEDIA):
        if i % 3 == 0:
            ns = wav_n(i)
            scale = (ns + RESIZE_MAX_DIM - 1) // RESIZE_MAX_DIM
            nw, nh = ns // scale, 1
            if i % 6 == 3:
                # ADPCM double round trip: replay(decimate(replay(synth)))
                d1 = adpcm_replay(wav_samples(i))
                dec = [d1[j * scale] for j in range(nw)]
                d2 = adpcm_replay(dec)
                plen = 60 + ADPCM_BLOCK * ((nw + ADPCM_SPB - 1) // ADPCM_SPB)
                csum = sum((v & 0xFF) + ((v >> 8) & 0xFF) for v in d2)
            else:
                if i % 12 == 0:  # FLAC stays FLAC: lossless, re-coded length
                    dec = [wav_samples(i)[j * scale] for j in range(nw)]
                    plen = 42 + len(flac_frames(dec))
                else:
                    plen = 44 + 2 * nw
                csum = 0
                for j in range(nw):
                    v = synth_u16(i, j * scale)
                    csum += (v & 0xFF) + (v >> 8)
            mod = "audio"
        else:
            w, h = img_dims(i)
            scale = (max(w, h) + RESIZE_MAX_DIM - 1) // RESIZE_MAX_DIM
            nw, nh = max(1, w // scale), max(1, h // scale)
            csum = 0
            resampled = bytearray(3 * nw * nh)
            for y in range(nh):
                for x in range(nw):
                    hsh = mix64(((i << 20) ^ ((y * scale) * w + x * scale))
                                & MASK)
                    csum += (hsh & 0xFF) + ((hsh >> 8) & 0xFF) \
                        + ((hsh >> 16) & 0xFF)
                    d = (y * nw + x) * 3
                    resampled[d] = hsh & 0xFF
                    resampled[d + 1] = (hsh >> 8) & 0xFF
                    resampled[d + 2] = (hsh >> 16) & 0xFF
            if i % 6 == 1:
                plen = 54 + row_stride(nw) * nh
            elif i % 6 == 4:  # TGA re-encode: content-dependent length
                plen = 18 + len(tga_packets(nw, nh, bytes(resampled))) + 26
            elif i % 6 == 5:  # PNG re-encode: filtered + entropy-coded
                plen = 57 + len(png_zlib(
                    png_filtered(nw, nh, bytes(resampled))))
            else:
                plen = len(b"P6\n%d %d\n255\n" % (nw, nh)) + 3 * nw * nh
            mod = "image"
        n, sw, sh, tb, cs = acc.get(mod, (0, 0, 0, 0, 0))
        acc[mod] = (n + 1, sw + nw, sh + nh, tb + plen, cs + csum)
    return acc


def main():
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_check_all"
    con = duckdb.connect()
    failures = []

    def got(name):
        rows = con.execute(
            f"SELECT * FROM '{out_dir}/{name}/*.parquet' ORDER BY modality"
        ).fetchall()
        return {r[0]: r[1:] for r in rows}

    # ---- PNG inflate replay (round 11): rebuild the IDAT zlib stream
    # bit-for-bit in pure Python, have CPython's zlib INFLATE it (an
    # independent decoder of the hand-rolled fixed-Huffman deflate —
    # adler and bitstream validity checked by a third engine), unfilter,
    # and require the synthesis-rule pixels back exactly.
    png_ids = [i for i in range(N_MEDIA) if i % 6 == 5][:8]
    for i in png_ids:
        w, h, rgb = rgb_bytes(i)
        z = png_zlib(png_filtered(w, h, rgb))
        raw = zlib.decompress(z)
        if len(raw) != h * (1 + 3 * w):
            failures.append(f"png id={i}: inflate length {len(raw)}")
        elif png_unfilter(w, h, raw) != rgb:
            failures.append(f"png id={i}: unfiltered pixels mismatch")
    print(f"png: zlib-inflate replay of {len(png_ids)} hand-packed "
          f"DEFLATE streams: {'OK' if not failures else 'MISMATCH'}")

    # ---- FLAC Rice-decode replay (round 12): rebuild the full payload
    # bit-for-bit in pure Python (fixed predictors + Rice coding +
    # CRC-8/CRC-16 + STREAMINFO MD5), then DECODE it with this file's
    # independent bit-reader — predictors reconstructed, both CRCs and
    # the MD5 verified — and require the synthesis-rule samples back.
    pre = len(failures)
    flac_ids = [i for i in range(N_MEDIA) if i % 12 == 0][:8]
    for i in flac_ids:
        s = wav_samples(i)
        try:
            back = flac_decode(flac_payload(s))
            if back != s:
                failures.append(f"flac id={i}: decoded samples mismatch")
        except AssertionError as e:
            failures.append(f"flac id={i}: {e}")
    print(f"flac: rice-decode replay of {len(flac_ids)} hand-packed "
          f"frame streams: {'OK' if len(failures) == pre else 'MISMATCH'}")

    # ---- m01: counts/bytes/max_width exact, avg_f0 to the round-4 quantum
    exp = m01_expected()
    dump = got("m01_media_features")
    for mod, (n, tb, mw, f0s) in sorted(exp.items()):
        g = dump.get(mod)
        avg = round(sum(f0s) / len(f0s), 4)
        if g is None:
            failures.append(f"m01: modality {mod} missing from dump")
        elif (g[0], g[1], g[2]) != (n, tb, mw):
            failures.append(
                f"m01 {mod}: (n,bytes,maxw) dump={g[:3]} != python={(n, tb, mw)}")
        elif abs(float(g[3]) - avg) > 2e-4:
            failures.append(f"m01 {mod}: avg_f0 dump={g[3]} != python={avg}")
    print(f"m01: {len(exp)} modality rows vs python synth+codec: "
          f"{'OK' if not failures else 'MISMATCH'}")

    # ---- m04/m05: integer end-to-end -> exact
    pairs, phs = phash_pairs()
    m04 = {}
    for mod, a, b in pairs:
        np_, dup, hs = m04.get(mod, (0, set(), 0))
        m04[mod] = (np_ + 1, dup | {b},
                    hs + bin(phs[a][1] ^ phs[b][1]).count("1"))
    pre = len(failures)
    dump = got("m04_phash_neardup")
    for mod, (np_, dup, hs) in sorted(m04.items()):
        g = dump.get(mod)
        if g is None or (g[0], g[1], g[2]) != (np_, len(dup), hs):
            failures.append(
                f"m04 {mod}: dump={g} != python={(np_, len(dup), hs)}")
    print(f"m04: {len(pairs)} verified pairs vs python pHash pipeline: "
          f"{'OK' if len(failures) == pre else 'MISMATCH'}")

    pre = len(failures)
    dump = got("m05_cross_modal_blast")
    for mod in sorted(m04):
        removable = {b for m, _, b in pairs if m == mod}
        docs = {b // 4 for b in removable}  # source_doc = id / 4
        g = dump.get(mod)
        if g is None or (g[0], g[1]) != (len(removable), len(docs)):
            failures.append(
                f"m05 {mod}: dump={g} != python={(len(removable), len(docs))}")
    print(f"m05: blast radius vs python survivorship: "
          f"{'OK' if len(failures) == pre else 'MISMATCH'}")

    # ---- m06: resize round trip, integer-exact
    pre = len(failures)
    dump = got("m06_media_resize")
    for mod, exp6 in sorted(m06_expected().items()):
        g = dump.get(mod)
        if g is None or tuple(int(x) for x in g) != exp6:
            failures.append(f"m06 {mod}: dump={g} != python={exp6}")
    print(f"m06: resize round trip vs python synth+resample: "
          f"{'OK' if len(failures) == pre else 'MISMATCH'}")

    if failures:
        print("media_oracle: FAIL")
        for f in failures:
            print("  " + f)
        sys.exit(1)
    print("media_oracle: all decoded-media aggregates match "
          "(m01/m04/m05/m06)")


if __name__ == "__main__":
    main()
