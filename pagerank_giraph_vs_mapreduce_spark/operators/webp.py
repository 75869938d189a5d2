"""WebP-lossless (VP8L) codec, pure stdlib.

Implemented from the public VP8L bitstream specification
(https://developers.google.com/speed/webp/docs/webp_lossless_bitstream_specification),
the same own-codec discipline as operators/{jpeg,gif}.py: the encoder
exists to fabricate REAL spec-conformant fixtures from text-derived
pixels, and the decoder is the general one the multimodal seam dispatches
to (RIFF....WEBP magic).

Decoder coverage:
- RIFF container + VP8L header (14-bit dims, version 0);
- canonical prefix codes: the simple (1-2 symbol) variant and the full
  code-length-coded variant incl. 16/17/18 RLE and the max_symbol
  short-circuit;
- LZ77 backward references with the (2 + extra-bit) length/distance
  prefix-value scheme;
- color cache (0x1e35a7bd multiplicative hash, every decoded pixel
  inserted);
- meta-prefix (entropy image selecting per-tile code groups);
- all four transforms, applied in reverse read order: PREDICTOR (all 14
  modes incl. Select and the clamped add/subtract pair), COLOR
  (signed 3.5 fixed-point cross-channel deltas), SUBTRACT_GREEN, and
  COLOR_INDEXING (delta-coded palette, incl. sub-byte pixel bundling at
  ≤16 colors).

- close distance codes 1..120: the 2-D near-neighborhood remap
  (CLOSE_DIST_TABLE). The table is generated from the spec's ordering
  rule — the 120-pixel window x in [-7, 8], y in [0, 7] (y = 0
  restricted to x >= 1), sorted by squared Euclidean distance, larger
  y first on ties, positive x before negative — which reproduces the
  spec's printed table exactly (the window holds exactly 120 pixels,
  so the enumeration is unambiguous); decoded distances < 1 clamp to
  1 per spec. The encoder's ``close_codes`` mode emits them wherever
  a backref distance lands in the window, the fuzz path.

Documented subset: lossy VP8 and the extended VP8X container degrade to
the byte-stat stub (ValueError caught by the dispatch) rather than
decoding wrong.

Encoder coverage (all paths round-trip-tested against the decoder):
literals with per-symbol canonical codes, greedy LZ77, optional color
cache, optional SUBTRACT_GREEN / COLOR_INDEXING (with bundling) /
single-tile PREDICTOR / single-tile COLOR transforms.
"""

from __future__ import annotations

import struct

# --------------------------------------------------------------- bits


class BitReader:
    """LSB-first bit reader (VP8L convention, like DEFLATE)."""

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0  # bit position

    def read(self, n: int) -> int:
        v = 0
        for i in range(n):
            byte = self.pos >> 3
            if byte >= len(self.data):
                raise ValueError("vp8l: bitstream truncated")
            v |= ((self.data[byte] >> (self.pos & 7)) & 1) << i
            self.pos += 1
        return v


class BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.bit = 0

    def write(self, v: int, n: int) -> None:
        for i in range(n):
            if self.bit == 0:
                self.out.append(0)
            if (v >> i) & 1:
                self.out[-1] |= 1 << self.bit
            self.bit = (self.bit + 1) & 7

    def write_code(self, code: int, length: int) -> None:
        """Prefix codes are written MSB-first (canonical code bits)."""
        for i in range(length - 1, -1, -1):
            self.write((code >> i) & 1, 1)


# ------------------------------------------------------- prefix codes

CODE_LENGTH_ORDER = (
    17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15,
)


def canonical_codes(lengths: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length), canonical (sorted by length then symbol)."""
    pairs = sorted(
        (ln, sym) for sym, ln in enumerate(lengths) if ln > 0
    )
    codes = {}
    code = 0
    prev_len = 0
    for ln, sym in pairs:
        code <<= ln - prev_len
        codes[sym] = (code, ln)
        code += 1
        prev_len = ln
    return codes


class PrefixDecoder:
    """Bit-at-a-time canonical decode; tiny alphabets, pure-Python OK."""

    def __init__(self, lengths: list[int]) -> None:
        nz = [(ln, s) for s, ln in enumerate(lengths) if ln > 0]
        if len(nz) == 1:
            self.single: int | None = nz[0][1]
            self.table: dict[tuple[int, int], int] = {}
            return
        self.single = None
        self.table = {
            (code, ln): sym
            for sym, (code, ln) in canonical_codes(lengths).items()
        }
        if not self.table:
            raise ValueError("vp8l: empty prefix code")

    def decode(self, br: BitReader) -> int:
        if self.single is not None:
            return self.single
        code = 0
        for ln in range(1, 16):
            code = (code << 1) | br.read(1)
            sym = self.table.get((code, ln))
            if sym is not None:
                return sym
        raise ValueError("vp8l: bad prefix code")


def build_lengths(
    freqs: dict[int, int], alphabet: int, max_len: int = 15
) -> list[int]:
    """Huffman code lengths (capped at ``max_len``) from frequencies;
    heap build with a final depth clamp + Kraft repair. ``max_len`` is 7
    for the code-length code (its lengths are stored in 3 bits)."""
    import heapq

    items = [(f, s) for s, f in freqs.items() if f > 0]
    lengths = [0] * alphabet
    if not items:
        return lengths
    if len(items) == 1:
        lengths[items[0][1]] = 1
        return lengths
    heap = [(f, i, (s,)) for i, (f, s) in enumerate(items)]
    heapq.heapify(heap)
    depth = {s: 0 for _, s in items}
    nxt = len(heap)
    while len(heap) > 1:
        f1, _, s1 = heapq.heappop(heap)
        f2, _, s2 = heapq.heappop(heap)
        for s in s1 + s2:
            depth[s] += 1
        heapq.heappush(heap, (f1 + f2, nxt, s1 + s2))
        nxt += 1
    for s, d in depth.items():
        lengths[s] = min(d, max_len)
    # depth clamp may break Kraft; repair by extending shortest codes
    def kraft() -> float:
        return sum(2.0 ** -ln for ln in lengths if ln > 0)

    while kraft() > 1.0:
        # lengthen the currently-shortest clamped symbol
        cand = min(
            (s for s in depth if lengths[s] < max_len),
            key=lambda s: lengths[s],
        )
        lengths[cand] += 1
    return lengths


# -------------------------------------------------- prefix-value codes


def prefix_value_decode(code: int, br: BitReader) -> int:
    """LZ77 length/distance value from its prefix code (spec 'prefix
    coding' of values >= 1)."""
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.read(extra) + 1


def prefix_value_encode(value: int) -> tuple[int, int, int]:
    """value >= 1 -> (code, extra_bits_value, extra_bits_count)."""
    u = value - 1
    if u < 4:
        return u, 0, 0
    extra = u.bit_length() - 2
    top2 = u >> extra
    code = (extra << 1) + top2  # 2*extra + 2 + (top2 - 2)
    return code, u - (top2 << extra), extra


# ------------------------------------------------------------ decoder

NUM_LENGTH_CODES = 24
NUM_DISTANCE_CODES = 40


def _gen_close_dist_table() -> list[tuple[int, int]]:
    """The spec's 120-entry close-distance neighborhood, generated from
    its ordering rule (see module docstring): the window x in [-7, 8],
    y in [0, 7] with y == 0 restricted to x >= 1 holds exactly 120
    pixels; codes are assigned in order of increasing squared distance,
    larger y first on ties, positive x before its negative mirror."""
    cands = [
        (x, y)
        for y in range(8)
        for x in range(-7, 9)
        if not (y == 0 and x < 1)
    ]
    assert len(cands) == 120
    return sorted(
        cands,
        key=lambda p: (
            p[0] * p[0] + p[1] * p[1],
            -p[1],
            0 if p[0] > 0 else 1,
            abs(p[0]),
        ),
    )


CLOSE_DIST_TABLE = _gen_close_dist_table()


def close_code_distance(dist_code: int, w: int) -> int:
    """Scan-line distance for close code 1..120 at image width ``w``
    (distances below 1 clamp to 1, per spec)."""
    x, y = CLOSE_DIST_TABLE[dist_code - 1]
    return max(1, x + y * w)


def _read_prefix_code(br: BitReader, alphabet: int) -> PrefixDecoder:
    if br.read(1):  # simple
        num_symbols = br.read(1) + 1
        first_8bit = br.read(1)
        sym0 = br.read(8 if first_8bit else 1)
        dec = PrefixDecoder.__new__(PrefixDecoder)
        if num_symbols == 2:
            # spec: code 0 -> FIRST symbol read, 1 -> second (read order,
            # not canonical-by-symbol)
            sym1 = br.read(8)
            dec.single = None
            dec.table = {(0, 1): sym0, (1, 1): sym1}
        else:
            dec.single = sym0
            dec.table = {}
        return dec
    num_cl = 4 + br.read(4)
    cl_lengths = [0] * 19
    for i in range(num_cl):
        cl_lengths[CODE_LENGTH_ORDER[i]] = br.read(3)
    cl_dec = PrefixDecoder(cl_lengths)
    if br.read(1):  # explicit max_symbol
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet
    lengths = [0] * alphabet
    prev_len = 8
    sym = 0
    while sym < alphabet and max_symbol > 0:
        max_symbol -= 1
        s = cl_dec.decode(br)
        if s < 16:
            lengths[sym] = s
            sym += 1
            if s != 0:
                prev_len = s
        elif s == 16:
            for _ in range(3 + br.read(2)):
                if sym >= alphabet:
                    break
                lengths[sym] = prev_len
                sym += 1
        elif s == 17:
            sym += 3 + br.read(3)
        else:  # 18
            sym += 11 + br.read(7)
    return PrefixDecoder(lengths)


def _read_code_group(br: BitReader, cache_size: int) -> list[PrefixDecoder]:
    return [
        _read_prefix_code(br, 256 + NUM_LENGTH_CODES + cache_size),
        _read_prefix_code(br, 256),
        _read_prefix_code(br, 256),
        _read_prefix_code(br, 256),
        _read_prefix_code(br, NUM_DISTANCE_CODES),
    ]


def _decode_image_stream(
    br: BitReader, w: int, h: int, level0: bool
) -> list[int]:
    """ARGB pixel list (len w*h). ``level0`` reads transforms + allows
    meta-prefix; sub-images (entropy/predictor/palette) don't."""
    transforms: list[tuple] = []
    if level0:
        seen = set()
        while br.read(1):
            ttype = br.read(2)
            if ttype in seen:
                raise ValueError("vp8l: duplicate transform")
            seen.add(ttype)
            if ttype == 0:  # PREDICTOR
                bits = br.read(3) + 2
                bw, bh = -(-w // (1 << bits)), -(-h // (1 << bits))
                sub = _decode_image_stream(br, bw, bh, False)
                transforms.append(("predictor", bits, sub))
            elif ttype == 1:  # COLOR
                bits = br.read(3) + 2
                bw, bh = -(-w // (1 << bits)), -(-h // (1 << bits))
                sub = _decode_image_stream(br, bw, bh, False)
                transforms.append(("color", bits, sub))
            elif ttype == 2:  # SUBTRACT_GREEN
                transforms.append(("subtract_green",))
            else:  # COLOR_INDEXING
                n_colors = br.read(8) + 1
                pal = _decode_image_stream(br, n_colors, 1, False)
                # palette entries are per-channel delta-coded
                for i in range(1, n_colors):
                    a = (((pal[i] >> 24) + (pal[i - 1] >> 24)) & 0xFF) << 24
                    r = (((pal[i] >> 16) + (pal[i - 1] >> 16)) & 0xFF) << 16
                    g = (((pal[i] >> 8) + (pal[i - 1] >> 8)) & 0xFF) << 8
                    b = ((pal[i] + pal[i - 1]) & 0xFF)
                    pal[i] = a | r | g | b
                if n_colors <= 2:
                    width_bits = 3
                elif n_colors <= 4:
                    width_bits = 2
                elif n_colors <= 16:
                    width_bits = 1
                else:
                    width_bits = 0
                transforms.append(("palette", pal, width_bits, w))
                if width_bits:
                    w = -(-w // (1 << width_bits))

    cache_bits = br.read(4) if br.read(1) else 0
    cache_size = (1 << cache_bits) if cache_bits else 0

    meta: list[int] | None = None
    meta_bits = 0
    n_groups = 1
    if level0 and br.read(1):  # meta-prefix
        meta_bits = br.read(3) + 2
        mw, mh = -(-w // (1 << meta_bits)), -(-h // (1 << meta_bits))
        meta = _decode_image_stream(br, mw, mh, False)
        n_groups = max(((p >> 8) & 0xFFFF) for p in meta) + 1
    groups = [_read_code_group(br, cache_size) for _ in range(n_groups)]

    cache = [0] * cache_size
    pixels: list[int] = []
    n = w * h
    while len(pixels) < n:
        if meta is not None:
            x, y = len(pixels) % w, len(pixels) // w
            mw = -(-w // (1 << meta_bits))
            m = meta[(y >> meta_bits) * mw + (x >> meta_bits)]
            grp = groups[(m >> 8) & 0xFFFF]
        else:
            grp = groups[0]
        g = grp[0].decode(br)
        if g < 256:  # literal
            r = grp[1].decode(br)
            b = grp[2].decode(br)
            a = grp[3].decode(br)
            px = (a << 24) | (r << 16) | (g << 8) | b
            pixels.append(px)
            if cache_size:
                cache[(0x1E35A7BD * px & 0xFFFFFFFF) >> (32 - cache_bits)] = px
        elif g < 256 + NUM_LENGTH_CODES:  # backward reference
            length = prefix_value_decode(g - 256, br)
            dist_code = prefix_value_decode(grp[4].decode(br), br)
            if dist_code <= 120:  # 2-D near-neighborhood remap
                dist = close_code_distance(dist_code, w)
            else:
                dist = dist_code - 120
            if dist < 1 or dist > len(pixels):
                raise ValueError("vp8l: bad backref distance")
            for _ in range(length):
                px = pixels[-dist]
                pixels.append(px)
                if cache_size:
                    cache[
                        (0x1E35A7BD * px & 0xFFFFFFFF) >> (32 - cache_bits)
                    ] = px
        else:  # color-cache index
            if not cache_size:
                raise ValueError("vp8l: cache code without cache")
            px = cache[g - 256 - NUM_LENGTH_CODES]
            pixels.append(px)
            cache[(0x1E35A7BD * px & 0xFFFFFFFF) >> (32 - cache_bits)] = px

    for t in reversed(transforms):
        pixels, w = _apply_inverse_transform(t, pixels, w, h)
    return pixels


# --------------------------------------------------------- transforms


def _avg2(a: int, b: int) -> int:
    return (a + b) >> 1


def _px_add(p: int, q: int) -> int:
    """Per-channel (p + q) mod 256."""
    return (
        ((((p >> 24) & 0xFF) + ((q >> 24) & 0xFF)) & 0xFF) << 24
        | ((((p >> 16) & 0xFF) + ((q >> 16) & 0xFF)) & 0xFF) << 16
        | ((((p >> 8) & 0xFF) + ((q >> 8) & 0xFF)) & 0xFF) << 8
        | ((p & 0xFF) + (q & 0xFF)) & 0xFF
    )


def _px_avg2(p: int, q: int) -> int:
    return (
        _avg2((p >> 24) & 0xFF, (q >> 24) & 0xFF) << 24
        | _avg2((p >> 16) & 0xFF, (q >> 16) & 0xFF) << 16
        | _avg2((p >> 8) & 0xFF, (q >> 8) & 0xFF) << 8
        | _avg2(p & 0xFF, q & 0xFF)
    )


def _clamp(v: int) -> int:
    return 0 if v < 0 else 255 if v > 255 else v


def _select(left: int, top: int, topleft: int) -> int:
    p_a = (left >> 24 & 0xFF) + (top >> 24 & 0xFF) - (topleft >> 24 & 0xFF)
    p_r = (left >> 16 & 0xFF) + (top >> 16 & 0xFF) - (topleft >> 16 & 0xFF)
    p_g = (left >> 8 & 0xFF) + (top >> 8 & 0xFF) - (topleft >> 8 & 0xFF)
    p_b = (left & 0xFF) + (top & 0xFF) - (topleft & 0xFF)
    pl = (
        abs(p_a - (left >> 24 & 0xFF))
        + abs(p_r - (left >> 16 & 0xFF))
        + abs(p_g - (left >> 8 & 0xFF))
        + abs(p_b - (left & 0xFF))
    )
    pt = (
        abs(p_a - (top >> 24 & 0xFF))
        + abs(p_r - (top >> 16 & 0xFF))
        + abs(p_g - (top >> 8 & 0xFF))
        + abs(p_b - (top & 0xFF))
    )
    return left if pl <= pt else top


def _clamp_add_sub_full(a: int, b: int, c: int) -> int:
    return (
        _clamp((a >> 24 & 0xFF) + (b >> 24 & 0xFF) - (c >> 24 & 0xFF)) << 24
        | _clamp((a >> 16 & 0xFF) + (b >> 16 & 0xFF) - (c >> 16 & 0xFF)) << 16
        | _clamp((a >> 8 & 0xFF) + (b >> 8 & 0xFF) - (c >> 8 & 0xFF)) << 8
        | _clamp((a & 0xFF) + (b & 0xFF) - (c & 0xFF))
    )


def _clamp_add_sub_half(ab: int, c: int) -> int:
    def chan(x: int, y: int) -> int:
        return _clamp(x + (x - y) // 2)

    return (
        chan(ab >> 24 & 0xFF, c >> 24 & 0xFF) << 24
        | chan(ab >> 16 & 0xFF, c >> 16 & 0xFF) << 16
        | chan(ab >> 8 & 0xFF, c >> 8 & 0xFF) << 8
        | chan(ab & 0xFF, c & 0xFF)
    )


def _predict(mode: int, left: int, top: int, tl: int, tr: int) -> int:
    if mode == 0:
        return 0xFF000000
    if mode == 1:
        return left
    if mode == 2:
        return top
    if mode == 3:
        return tr
    if mode == 4:
        return tl
    if mode == 5:
        return _px_avg2(_px_avg2(left, tr), top)
    if mode == 6:
        return _px_avg2(left, tl)
    if mode == 7:
        return _px_avg2(left, top)
    if mode == 8:
        return _px_avg2(tl, top)
    if mode == 9:
        return _px_avg2(top, tr)
    if mode == 10:
        return _px_avg2(_px_avg2(left, tl), _px_avg2(top, tr))
    if mode == 11:
        return _select(left, top, tl)
    if mode == 12:
        return _clamp_add_sub_full(left, top, tl)
    if mode == 13:
        return _clamp_add_sub_half(_px_avg2(left, top), tl)
    raise ValueError(f"vp8l: bad predictor mode {mode}")


def _signed8(v: int) -> int:
    return v - 256 if v >= 128 else v


def _color_delta(t: int, c: int) -> int:
    return (_signed8(t) * _signed8(c)) >> 5


def _apply_inverse_transform(
    t: tuple, pixels: list[int], w: int, h: int
) -> tuple[list[int], int]:
    kind = t[0]
    if kind == "subtract_green":
        out = []
        for p in pixels:
            g = (p >> 8) & 0xFF
            r = (((p >> 16) & 0xFF) + g) & 0xFF
            b = ((p & 0xFF) + g) & 0xFF
            out.append((p & 0xFF00FF00) | (r << 16) | b)
        return out, w
    if kind == "predictor":
        _, bits, sub = t
        bw = -(-w // (1 << bits))
        out: list[int] = []
        for i, p in enumerate(pixels):
            x, y = i % w, i // w
            if x == 0 and y == 0:
                pred = 0xFF000000
            elif y == 0:
                pred = _predict(1, out[i - 1], 0, 0, 0)
            elif x == 0:
                pred = _predict(2, 0, out[i - w], 0, 0)
            else:
                mode = (sub[(y >> bits) * bw + (x >> bits)] >> 8) & 0xFF
                left = out[i - 1]
                top = out[i - w]
                tl = out[i - w - 1]
                tr = out[i - w + 1] if x + 1 < w else out[i - w]
                pred = _predict(mode, left, top, tl, tr)
            out.append(_px_add(p, pred))
        return out, w
    if kind == "color":
        _, bits, sub = t
        bw = -(-w // (1 << bits))
        out = []
        for i, p in enumerate(pixels):
            x, y = i % w, i // w
            cte = sub[(y >> bits) * bw + (x >> bits)]
            g2r = cte & 0xFF
            g2b = (cte >> 8) & 0xFF
            r2b = (cte >> 16) & 0xFF
            a = (p >> 24) & 0xFF
            r = (p >> 16) & 0xFF
            g = (p >> 8) & 0xFF
            b = p & 0xFF
            r = (r + _color_delta(g2r, g)) & 0xFF
            b = (b + _color_delta(g2b, g)) & 0xFF
            b = (b + _color_delta(r2b, r)) & 0xFF
            out.append((a << 24) | (r << 16) | (g << 8) | b)
        return out, w
    if kind == "palette":
        _, pal, width_bits, full_w = t
        out = []
        if width_bits == 0:
            for p in pixels:
                idx = (p >> 8) & 0xFF
                out.append(pal[idx] if idx < len(pal) else 0)
            return out, w
        per = 1 << width_bits
        ibits = 8 >> width_bits
        mask = (1 << ibits) - 1
        packed_w = -(-full_w // per)
        for y in range(h):
            row: list[int] = []
            for xp in range(packed_w):
                g = (pixels[y * packed_w + xp] >> 8) & 0xFF
                for k in range(per):
                    idx = (g >> (k * ibits)) & mask
                    row.append(pal[idx] if idx < len(pal) else 0)
            out.extend(row[:full_w])
        return out, full_w
    raise ValueError(f"vp8l: unknown transform {kind}")


def decode_webp(payload: bytes, keep_pixels: bool = False) -> dict | None:
    """Feature dict (width, height, channels, bit_depth, pixel_mean[,
    pixels as ARGB list]) for a lossless WebP, or None for anything this
    decoder doesn't cover (lossy VP8, VP8X extended, corrupt streams) —
    the dispatch then degrades to the byte-stat stub."""
    try:
        if (
            payload is None
            or len(payload) < 21
            or payload[:4] != b"RIFF"
            or payload[8:12] != b"WEBP"
            or payload[12:16] != b"VP8L"
        ):
            return None
        (chunk_len,) = struct.unpack("<I", payload[16:20])
        data = payload[20 : 20 + chunk_len]
        if not data or data[0] != 0x2F:
            return None
        br = BitReader(data)
        br.pos = 8
        w = br.read(14) + 1
        h = br.read(14) + 1
        br.read(1)  # alpha hint
        if br.read(3) != 0:
            return None  # unknown version
        pixels = _decode_image_stream(br, w, h, True)
    except (ValueError, IndexError):
        return None
    has_alpha = any((p >> 24) & 0xFF != 255 for p in pixels)
    channels = 4 if has_alpha else 3
    total = 0
    for p in pixels:
        total += ((p >> 16) & 0xFF) + ((p >> 8) & 0xFF) + (p & 0xFF)
        if has_alpha:
            total += (p >> 24) & 0xFF
    out = {
        "width": w,
        "height": h,
        "channels": channels,
        "bit_depth": 8,
        "pixel_mean": total / (w * h * channels),
    }
    if keep_pixels:
        out["pixels"] = pixels
    return out


# ------------------------------------------------------------ encoder


def _write_prefix_code(bw: BitWriter, lengths: list[int]) -> None:
    nz = [s for s, ln in enumerate(lengths) if ln > 0]
    if len(nz) == 1 and nz[0] < 256:
        bw.write(1, 1)  # simple
        bw.write(0, 1)  # one symbol
        if nz[0] < 2:
            bw.write(0, 1)
            bw.write(nz[0], 1)
        else:
            bw.write(1, 1)
            bw.write(nz[0], 8)
        return
    if (
        len(nz) == 2
        and all(lengths[s] == 1 for s in nz)
        and nz[0] < 256
        and nz[1] < 256
    ):
        bw.write(1, 1)
        bw.write(1, 1)  # two symbols
        if nz[0] < 2:
            bw.write(0, 1)
            bw.write(nz[0], 1)
        else:
            bw.write(1, 1)
            bw.write(nz[0], 8)
        bw.write(nz[1], 8)
        return
    bw.write(0, 1)  # full code
    # code-length code over the literal length symbols (no 16/17/18 RLE
    # on the write side — spec-legal, decoder-general)
    freq: dict[int, int] = {}
    for ln in lengths:
        freq[ln] = freq.get(ln, 0) + 1
    cl_lengths = build_lengths(freq, 19, max_len=7)
    bw.write(15, 4)  # num_code_lengths = 4 + 15 = 19
    for sym in CODE_LENGTH_ORDER:
        bw.write(cl_lengths[sym], 3)
    bw.write(0, 1)  # no explicit max_symbol
    cl_codes = canonical_codes(cl_lengths)
    single_cl = len(cl_codes) == 1
    for ln in lengths:
        if not single_cl:
            code, n = cl_codes[ln]
            bw.write_code(code, n)
        # single-symbol code-length code: zero bits per symbol


def _write_image_stream(
    bw: BitWriter,
    pixels: list[int],
    w: int,
    h: int,
    *,
    cache_bits: int = 0,
    use_lz77: bool = True,
    level0: bool = False,
    close_codes: bool = False,
) -> None:
    """Entropy-coded image: optional color cache, one prefix-code group,
    greedy LZ77. ``close_codes`` emits the 1..120 near-neighborhood
    distance codes wherever a backref distance lands in the 2-D window
    (the decoder-fuzz path); otherwise plain ``distance + 120``.
    ``level0`` additionally writes the (cleared) meta-prefix bit the
    spatially-coded main image carries; transform sub-images don't have
    one."""
    # scan-line distance -> close code at this width (first code wins,
    # matching the table's closeness order); distances < 1 can't occur
    # as real backrefs, so no clamped entries are installed
    close_of: dict[int, int] = {}
    if close_codes:
        for ci, (cx, cy) in enumerate(CLOSE_DIST_TABLE):
            d = cx + cy * w
            if d >= 1:
                close_of.setdefault(d, ci + 1)

    def dist_symbol(dist: int) -> int:
        return close_of.get(dist, dist + 120)
    # ---- tokenize
    cache_size = (1 << cache_bits) if cache_bits else 0
    cache = [0] * cache_size

    def cpos(px: int) -> int:
        return (0x1E35A7BD * px & 0xFFFFFFFF) >> (32 - cache_bits)

    tokens: list[tuple] = []  # ("lit",a,r,g,b) | ("ref",len,dist) | ("cache",i)
    n = len(pixels)
    i = 0
    last: dict[int, int] = {}  # pixel -> most recent position
    while i < n:
        best_len = 0
        best_dist = 0
        if use_lz77 and pixels[i] in last:
            j = last[pixels[i]]
            dist = i - j
            if dist <= 1024:
                ln = 0
                while i + ln < n and pixels[j + ln] == pixels[i + ln] and ln < 4095:
                    ln += 1
                if ln >= 3:
                    best_len, best_dist = ln, dist
        if best_len:
            tokens.append(("ref", best_len, best_dist))
            for k in range(best_len):
                px = pixels[i + k]
                last[px] = i + k
                if cache_size:
                    cache[cpos(px)] = px
            i += best_len
            continue
        px = pixels[i]
        if cache_size and cache[cpos(px)] == px:
            tokens.append(("cache", cpos(px)))
        else:
            tokens.append(
                (
                    "lit",
                    (px >> 24) & 0xFF,
                    (px >> 16) & 0xFF,
                    (px >> 8) & 0xFF,
                    px & 0xFF,
                )
            )
        if cache_size:
            cache[cpos(px)] = px
        last[px] = i
        i += 1

    # ---- frequencies
    gf: dict[int, int] = {}
    rf: dict[int, int] = {}
    bf: dict[int, int] = {}
    af: dict[int, int] = {}
    df: dict[int, int] = {}
    for tok in tokens:
        if tok[0] == "lit":
            _, a, r, g, b = tok
            gf[g] = gf.get(g, 0) + 1
            rf[r] = rf.get(r, 0) + 1
            bf[b] = bf.get(b, 0) + 1
            af[a] = af.get(a, 0) + 1
        elif tok[0] == "ref":
            _, ln, dist = tok
            lc, _, _ = prefix_value_encode(ln)
            gf[256 + lc] = gf.get(256 + lc, 0) + 1
            dc, _, _ = prefix_value_encode(dist_symbol(dist))
            df[dc] = df.get(dc, 0) + 1
        else:
            gf[256 + NUM_LENGTH_CODES + tok[1]] = (
                gf.get(256 + NUM_LENGTH_CODES + tok[1], 0) + 1
            )
    # decoders for red/blue/alpha/distance are always read — ensure
    # non-empty codes even when a channel never appears
    for f in (rf, bf, af):
        if not f:
            f[0] = 1
    if not df:
        df[0] = 1

    galpha = 256 + NUM_LENGTH_CODES + cache_size
    g_len = build_lengths(gf, galpha)
    r_len = build_lengths(rf, 256)
    b_len = build_lengths(bf, 256)
    a_len = build_lengths(af, 256)
    d_len = build_lengths(df, NUM_DISTANCE_CODES)

    # ---- header bits
    if cache_bits:
        bw.write(1, 1)
        bw.write(cache_bits, 4)
    else:
        bw.write(0, 1)
    if level0:
        bw.write(0, 1)  # no meta-prefix (single code group)

    for lengths in (g_len, r_len, b_len, a_len, d_len):
        _write_prefix_code(bw, lengths)

    g_codes = canonical_codes(g_len)
    r_codes = canonical_codes(r_len)
    b_codes = canonical_codes(b_len)
    a_codes = canonical_codes(a_len)
    d_codes = canonical_codes(d_len)

    def emit(codes: dict[int, tuple[int, int]], lengths: list[int], sym: int) -> None:
        if sum(1 for x in lengths if x) == 1:
            return  # single-symbol code: zero bits
        code, ln = codes[sym]
        bw.write_code(code, ln)

    for tok in tokens:
        if tok[0] == "lit":
            _, a, r, g, b = tok
            emit(g_codes, g_len, g)
            emit(r_codes, r_len, r)
            emit(b_codes, b_len, b)
            emit(a_codes, a_len, a)
        elif tok[0] == "ref":
            _, ln, dist = tok
            lc, lbits, lnb = prefix_value_encode(ln)
            emit(g_codes, g_len, 256 + lc)
            bw.write(lbits, lnb)
            dc, dbits, dnb = prefix_value_encode(dist_symbol(dist))
            emit(d_codes, d_len, dc)
            bw.write(dbits, dnb)
        else:
            emit(g_codes, g_len, 256 + NUM_LENGTH_CODES + tok[1])


def encode_webp(
    pixels: list[int],
    width: int,
    height: int,
    *,
    cache_bits: int = 0,
    use_lz77: bool = True,
    subtract_green: bool = False,
    palette: bool = False,
    predictor_mode: int | None = None,
    color_cte: int | None = None,
    close_codes: bool = False,
) -> bytes:
    """Spec-conformant VP8L encoder over ARGB ints. Transform knobs
    exist to exercise every decoder path with round-trip tests:
    ``palette`` emits COLOR_INDEXING (with sub-byte bundling when ≤16
    colors), ``predictor_mode`` a single-tile PREDICTOR transform,
    ``color_cte`` a single-tile COLOR transform element."""
    if len(pixels) != width * height:
        raise ValueError("pixel count mismatch")
    px = list(pixels)
    w = width

    def sub_px(p: int, q: int) -> int:  # per-channel (p - q) mod 256
        return (
            ((((p >> 24) & 0xFF) - ((q >> 24) & 0xFF)) & 0xFF) << 24
            | ((((p >> 16) & 0xFF) - ((q >> 16) & 0xFF)) & 0xFF) << 16
            | ((((p >> 8) & 0xFF) - ((q >> 8) & 0xFF)) & 0xFF) << 8
            | ((p & 0xFF) - (q & 0xFF)) & 0xFF
        )

    # forward transforms, applied in the order they'll be WRITTEN; the
    # decoder inverts in reverse read order, so apply forward in reverse
    # of the write order below (predictor/color/sg read first -> applied
    # last on decode -> must be applied FIRST on encode... the write
    # order here is predictor, color, subtract_green, palette).
    header_parts: list[tuple] = []
    if predictor_mode is not None:
        bits = 9  # single tile for any w,h <= 512
        forward = []
        for i, p in enumerate(px):
            x, y = i % w, i // w
            if x == 0 and y == 0:
                pred = 0xFF000000
            elif y == 0:
                pred = px[i - 1]
            elif x == 0:
                pred = px[i - w]
            else:
                left, top, tl = px[i - 1], px[i - w], px[i - w - 1]
                tr = px[i - w + 1] if x + 1 < w else px[i - w]
                pred = _predict(predictor_mode, left, top, tl, tr)
            forward.append(sub_px(p, pred))
        px = forward
        header_parts.append(("predictor", bits, [predictor_mode << 8]))
    if color_cte is not None:
        bits = 9
        forward = []
        g2r = color_cte & 0xFF
        g2b = (color_cte >> 8) & 0xFF
        r2b = (color_cte >> 16) & 0xFF
        for p in px:
            a = (p >> 24) & 0xFF
            r = (p >> 16) & 0xFF
            g = (p >> 8) & 0xFF
            b = p & 0xFF
            # forward = exact inverse of the decode-side additions
            b = (b - _color_delta(r2b, r)) & 0xFF
            b = (b - _color_delta(g2b, g)) & 0xFF
            r = (r - _color_delta(g2r, g)) & 0xFF
            forward.append((a << 24) | (r << 16) | (g << 8) | b)
        px = forward
        header_parts.append(("color", bits, [color_cte]))
    if subtract_green:
        forward = []
        for p in px:
            g = (p >> 8) & 0xFF
            r = (((p >> 16) & 0xFF) - g) & 0xFF
            b = ((p & 0xFF) - g) & 0xFF
            forward.append((p & 0xFF00FF00) | (r << 16) | b)
        px = forward
        header_parts.append(("subtract_green",))
    pal_list: list[int] = []
    if palette:
        pal_list = sorted(set(px))
        if len(pal_list) > 256:
            raise ValueError("palette: more than 256 distinct colors")
        index = {p: i for i, p in enumerate(pal_list)}
        idx_px = [index[p] for p in px]
        nc = len(pal_list)
        if nc <= 2:
            width_bits = 3
        elif nc <= 4:
            width_bits = 2
        elif nc <= 16:
            width_bits = 1
        else:
            width_bits = 0
        if width_bits:
            per = 1 << width_bits
            ibits = 8 >> width_bits
            packed_w = -(-w // per)
            packed: list[int] = []
            for y in range(height):
                for xp in range(packed_w):
                    g = 0
                    for k in range(per):
                        x = xp * per + k
                        if x < w:
                            g |= idx_px[y * w + x] << (k * ibits)
                    packed.append(0xFF000000 | (g << 8))
            px = packed
            w = packed_w
        else:
            px = [0xFF000000 | (i << 8) for i in idx_px]
        header_parts.append(("palette", pal_list, width_bits))

    # ---- VP8L payload
    pw = BitWriter()
    pw.write(0x2F, 8)
    pw.write(width - 1, 14)
    pw.write(height - 1, 14)
    pw.write(0, 1)  # alpha hint
    pw.write(0, 3)  # version
    for part in header_parts:
        pw.write(1, 1)  # transform present
        if part[0] == "predictor":
            pw.write(0, 2)
            pw.write(part[1] - 2, 3)
            _write_image_stream(pw, part[2], 1, 1, use_lz77=False)
        elif part[0] == "color":
            pw.write(1, 2)
            pw.write(part[1] - 2, 3)
            _write_image_stream(pw, part[2], 1, 1, use_lz77=False)
        elif part[0] == "subtract_green":
            pw.write(2, 2)
        else:  # palette
            pw.write(3, 2)
            pal = part[1]
            pw.write(len(pal) - 1, 8)
            deltas = [pal[0]] + [
                (
                    ((((pal[i] >> 24) - (pal[i - 1] >> 24)) & 0xFF) << 24)
                    | ((((pal[i] >> 16) - (pal[i - 1] >> 16)) & 0xFF) << 16)
                    | ((((pal[i] >> 8) - (pal[i - 1] >> 8)) & 0xFF) << 8)
                    | ((pal[i] - pal[i - 1]) & 0xFF)
                )
                for i in range(1, len(pal))
            ]
            _write_image_stream(pw, deltas, len(pal), 1, use_lz77=False)
    pw.write(0, 1)  # no more transforms
    _write_image_stream(
        pw, px, w, height, cache_bits=cache_bits, use_lz77=use_lz77,
        level0=True, close_codes=close_codes,
    )
    payload = bytes(pw.out)
    if len(payload) & 1:
        padded = payload + b"\x00"
    else:
        padded = payload
    riff_size = 4 + 8 + len(padded)
    return (
        b"RIFF"
        + struct.pack("<I", riff_size)
        + b"WEBP"
        + b"VP8L"
        + struct.pack("<I", len(payload))
        + padded
    )
