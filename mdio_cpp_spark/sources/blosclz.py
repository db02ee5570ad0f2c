"""Pure-Python BloscLZ block codec (c-blosc 1.x's native cname, id 0).

BloscLZ is c-blosc's own LZ77 — a FastLZ level-2 derivative with a 13-bit
near-distance window — and the one blosc cname that exists NOWHERE else, so
a store written with ``cname=blosclz`` (the reference accepts it,
dataset_factory.h:288-386; the schema enumerates it, dataset_schema.h:148)
was unreadable here without the uninstallable blosc wheel. The token stream
format is public (c-blosc ``blosclz.c``) and self-contained:

  token byte T:
    T < 32           literal run of T+1 bytes (follow inline)
    T >= 32          match; length code L = T >> 5 (1..7), near-distance
                     high bits ofs = (T & 31) << 8
  match length:      L in 1..6 → mlen = L + 2 (3..8). L == 7 → extension
                     bytes follow the token: mlen = 9 + sum, each 255
                     continues, first non-255 terminates.
  match distance:    one more byte ``code`` follows the length extension:
                     dist = ofs + code + 1 (1..8191 — the near window).
                     The escape ``code == 255 AND ofs == 31 << 8`` means a
                     FAR match: two explicit big-endian bytes follow and
                     dist = (hi << 8 | lo) + MAX_DISTANCE + 1, extending
                     the window to 65535 + 8192. The near encoder stops at
                     dist 8191 (stored ofs+code = 8190) precisely so the
                     escape pattern is unambiguous; dist 8192 is the first
                     far code (stored 0).
  first byte:        the decoder masks it with 31 — the stream ALWAYS
                     opens with a literal run.
  termination:       input exhaustion after a completed token (no end
                     marker; the container's expected size is the check).

Matches may overlap their output (dist < mlen → byte-serial RLE
semantics), exactly like LZ4.

Interop caveat (same posture as blosc1.py's split-stream encoder): with
no blosc wheel to compare against (tests/INTEROP_PROBE.md) this
transcription of the public format is pinned by handcrafted token vectors
and round-trip properties, not differentially verified against c-blosc
bytes — re-probed each round. The boundary arithmetic is internally
corroborated though: near codes top out at dist 8191 and the far escape
starts at exactly 8192 with stored 0, so the constants lock each other.

The ENCODER is a greedy single-slot hash matcher (format-valid output,
not c-blosc's heuristics): matches need >= 4 input bytes remaining, stop
``_TAIL_LITERALS`` bytes before the end (c-blosc's own bound — keeps real
decoders' wild-copy fast paths safe on our frames), and literal runs cap
at 32 (MAX_COPY).
"""

from __future__ import annotations


class BloscLZFormatError(RuntimeError):
    pass


MAX_DISTANCE = 8191                       # near window (13-bit, c-blosc)
MAX_FARDISTANCE = 65535 + MAX_DISTANCE + 1  # far escape adds a 16-bit offset
_MAX_COPY = 32                            # literal run cap → token 31
_MIN_MATCH = 3
_TAIL_LITERALS = 12                       # no match starts in the last 12 B


def decompress_block(src: bytes, expected_size: int | None = None) -> bytes:
    """Decode one BloscLZ token stream. ``expected_size``, when given, is
    enforced exactly AND early — the in-loop bound aborts a corrupt or
    hostile stream at the declared size, before materializing a bomb."""
    n = len(src)
    if n == 0:
        if expected_size not in (None, 0):
            raise BloscLZFormatError(f"empty stream, expected {expected_size} bytes")
        return b""
    dst = bytearray()
    cap = expected_size
    ctrl = src[0] & 31  # first token is forcibly a literal run
    i = 1
    while True:
        if ctrl >= 32:
            lencode = (ctrl >> 5) - 1  # 0..6
            ofs = (ctrl & 31) << 8
            if lencode == 6:  # length-code 7: extension bytes
                while True:
                    if i >= n:
                        raise BloscLZFormatError("truncated match-length extension")
                    code = src[i]
                    i += 1
                    lencode += code
                    if code != 255:
                        break
            if i >= n:
                raise BloscLZFormatError("truncated match distance")
            code = src[i]
            i += 1
            mlen = lencode + 3
            if code == 255 and ofs == (31 << 8):
                # far match: two explicit distance bytes, big-endian
                if i + 2 > n:
                    raise BloscLZFormatError("truncated far-match distance")
                dist = ((src[i] << 8) | src[i + 1]) + MAX_DISTANCE + 1
                i += 2
            else:
                dist = ofs + code + 1
            if dist > len(dst):
                raise BloscLZFormatError(
                    f"match distance {dist} at output offset {len(dst)}")
            if cap is not None and len(dst) + mlen > cap:
                raise BloscLZFormatError(
                    f"stream exceeds declared size {cap} during match copy")
            start = len(dst) - dist
            if dist >= mlen:
                dst += dst[start : start + mlen]
            else:  # overlapping copy: byte-serial semantics (RLE-style)
                for k in range(mlen):
                    dst.append(dst[start + k])
        else:
            lit = ctrl + 1
            if i + lit > n:
                raise BloscLZFormatError("literal run past end of input")
            if cap is not None and len(dst) + lit > cap:
                raise BloscLZFormatError(
                    f"stream exceeds declared size {cap} during literal run")
            dst += src[i : i + lit]
            i += lit
        if i >= n:
            break
        ctrl = src[i]
        i += 1
    if expected_size is not None and len(dst) != expected_size:
        raise BloscLZFormatError(
            f"stream decoded to {len(dst)} bytes, expected {expected_size}")
    return bytes(dst)


def _emit_literals(out: bytearray, data: bytes, lo: int, hi: int) -> None:
    while lo < hi:
        run = min(_MAX_COPY, hi - lo)
        out.append(run - 1)
        out += data[lo : lo + run]
        lo += run


def _emit_match(out: bytearray, mlen: int, dist: int) -> None:
    lc = mlen - 2  # length code: 1..6 inline, 7 + extensions beyond
    if dist <= MAX_DISTANCE:
        d = dist - 1  # stored near distance: 0..8190 (8191 is the escape)
        if lc < 7:
            out.append((lc << 5) | (d >> 8))
            out.append(d & 255)
        else:
            out.append((7 << 5) | (d >> 8))
            rem = lc - 7
            while rem >= 255:
                out.append(255)
                rem -= 255
            out.append(rem)
            out.append(d & 255)
    else:
        stored = dist - MAX_DISTANCE - 1  # far: 0 ↔ dist 8192
        if lc < 7:
            out.append((lc << 5) | 31)
            out.append(255)
        else:
            out.append((7 << 5) | 31)
            rem = lc - 7
            while rem >= 255:
                out.append(255)
                rem -= 255
            out.append(rem)
            out.append(255)
        out.append(stored >> 8)
        out.append(stored & 255)


def compress_block(data: bytes) -> bytes:
    """Greedy BloscLZ encoder (single-slot hash over 4-byte prefixes)."""
    n = len(data)
    if n == 0:
        return b""
    out = bytearray()
    table: dict[bytes, int] = {}
    anchor = 0
    i = 1  # position 0 can never be a match target (distance >= 1)
    limit = n - _TAIL_LITERALS
    while i < limit:
        key = data[i : i + 4]
        j = table.get(key)
        table[key] = i
        if j is not None and i - j <= MAX_FARDISTANCE and data[j : j + 4] == key:
            dist = i - j
            mlen = 4
            # greedy extension, bounded so the match never enters the tail
            max_len = limit - i + _TAIL_LITERALS - 4  # leave >= 4 tail bytes
            max_len = min(max_len, n - i)
            while mlen < max_len and data[j + mlen] == data[i + mlen]:
                mlen += 1
            if mlen >= _MIN_MATCH + (2 if dist > MAX_DISTANCE else 0):
                # far matches spend 2 extra bytes; require length >= 5 there
                _emit_literals(out, data, anchor, i)
                _emit_match(out, mlen, dist)
                # index a couple of positions inside the match (cheap, helps
                # periodic data) then continue past it
                for k in range(i + 1, min(i + mlen, limit)):
                    table[data[k : k + 4]] = k
                i += mlen
                anchor = i
                continue
        i += 1
    _emit_literals(out, data, anchor, n)
    return bytes(out)
