"""Pure-Python re-implementations used as INDEPENDENT pytest oracles for
the engine-hash-based operators (xxhash64-family) that DuckDB cannot
check (VERDICT r01 'shrink the no_oracle set').

The XXH64 implementation below follows the public xxHash specification
(Yann Collet, BSD 2-clause; also implemented in Spark's
sql/catalyst XXH64.java) — seed 42 like Spark's ``xxhash64`` function.
Correctness of THIS code is itself established by
tests/test_python_oracles.py::test_xxh64_matches_spark, which compares
against the live Spark expression over adversarial inputs; the
higher-level oracles (simhash / minhash / LSH) then recompute operator
outputs from first principles without touching any Spark code path.
"""

from __future__ import annotations

import re
import struct

_M = 0xFFFFFFFFFFFFFFFF
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5

SPARK_SEED = 42


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h


def xxh64_bytes(data: bytes, seed: int) -> int:
    """XXH64 over a byte string (unsigned 64-bit result)."""
    seed &= _M
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed
        v4 = (seed - _P1) & _M
        def _round(acc: int, off: int) -> int:
            lane = int.from_bytes(data[off:off + 8], "little")
            return _rotl((acc + lane * _P2) & _M, 31) * _P1 & _M

        while i <= n - 32:
            v1 = _round(v1, i)
            v2 = _round(v2, i + 8)
            v3 = _round(v3, i + 16)
            v4 = _round(v4, i + 24)
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        for v in (v1, v2, v3, v4):
            h ^= _rotl((v * _P2) & _M, 31) * _P1 & _M
            h = ((h * _P1) + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i <= n - 8:
        k = int.from_bytes(data[i:i + 8], "little")
        h ^= _rotl((k * _P2) & _M, 31) * _P1 & _M
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i <= n - 4:
        k = int.from_bytes(data[i:i + 4], "little")
        h ^= (k * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        i += 1
    return _fmix(h)


def _xxh64_long(value: int, seed: int) -> int:
    """Spark XXH64.hashLong: the 8-byte fixed-width fast path."""
    seed &= _M
    value &= _M
    h = (seed + _P5 + 8) & _M
    h ^= _rotl((value * _P2) & _M, 31) * _P1 & _M
    h = (_rotl(h, 27) * _P1 + _P4) & _M
    return _fmix(h)


def _xxh64_int(value: int, seed: int) -> int:
    """Spark XXH64.hashInt: the 4-byte fixed-width fast path."""
    seed &= _M
    h = (seed + _P5 + 4) & _M
    h ^= ((value & 0xFFFFFFFF) * _P1) & _M
    h = (_rotl(h, 23) * _P2 + _P3) & _M
    return _fmix(h)


def _signed(h: int) -> int:
    return h - (1 << 64) if h >= (1 << 63) else h


def spark_xxhash64(*values, seed: int = SPARK_SEED) -> int:
    """Replicates Spark's ``xxhash64(...)`` expression: children are
    hashed in order, each using the running hash as the next seed;
    strings hash their UTF-8 bytes, ints/longs use the fixed-width fast
    paths. Returns the SIGNED 64-bit value Spark returns."""
    h = seed
    for v in values:
        if isinstance(v, str):
            h = xxh64_bytes(v.encode("utf-8"), h)
        elif isinstance(v, int):
            if -(1 << 31) <= v < (1 << 31):
                h = _xxh64_int(v, h)
            else:
                h = _xxh64_long(v, h)
        else:
            raise TypeError(f"unsupported oracle hash type: {type(v)}")
    return _signed(h)


def spark_xxhash64_long_int(value: int, salt: int,
                            seed: int = SPARK_SEED) -> int:
    """xxhash64(<LongType col>, <int literal>) with Spark's type-driven
    fast paths — the minhash 'hash the shingle once, salt the long' form.
    (Type-faithful: a LongType child always takes the 8-byte path even
    when its value is small, so spark_xxhash64's magnitude dispatch would
    be wrong here.)"""
    h = _xxh64_long(value, seed)
    h = _xxh64_int(salt, h)
    return _signed(h)


def spark_xxhash64_longs(values, seed: int = SPARK_SEED) -> int:
    """xxhash64 over LongType children regardless of magnitude (the
    minhash band-bucket case: array elements are LongType)."""
    h = seed
    for v in values:
        h = _xxh64_long(v, h)
    return _signed(h)


# --- token / shingle helpers mirroring the Spark expressions ---------------

# Java regex \s (as used by Spark split) = [ \t\n\x0B\f\r]
_JAVA_WS = re.compile(r"[ \t\n\x0B\f\r]+")


def java_ws_split(text: str) -> list[str]:
    """split(trim(lower(text)), '\\s+') semantics: Spark's trim strips
    ONLY spaces (not \\t/\\n/NBSP like Python strip()), and the split
    class is Java \\s. lower() runs before trim, matching the operator's
    F.trim(F.lower(col)) composition."""
    return _JAVA_WS.split(text.lower().strip(" "))


def minhash_sig_py(text: str, n_hashes: int = 16, n: int = 5,
                   tok_cache: dict | None = None,
                   salt_cache: dict | None = None) -> list[int]:
    """First-principles replica of operators/dedup.py minhash_signature:
    token hashed once to a long, shingle hash = multi-arg fixed-width
    xxhash64 fold over n consecutive token hashes (short docs hash their
    space-joined whole text as one string), sig[i] = min over shingles of
    xxhash64(<long hb>, <int i>). Caches are optional cross-doc memos."""
    tok_cache = {} if tok_cache is None else tok_cache
    salt_cache = {} if salt_cache is None else salt_cache
    toks = java_ws_split(text)
    if len(toks) >= n:
        th = [tok_cache.setdefault(t, spark_xxhash64(t)) for t in toks]
        hbs = {spark_xxhash64_longs(th[i:i + n])
               for i in range(len(toks) - n + 1)}
    else:
        hbs = {spark_xxhash64(" ".join(toks))}
    per_salt = []
    for hb in hbs:
        v = salt_cache.get(hb)
        if v is None:
            v = salt_cache[hb] = [spark_xxhash64_long_int(hb, i)
                                  for i in range(n_hashes)]
        per_salt.append(v)
    return [min(v[i] for v in per_salt) for i in range(n_hashes)]


def band_keys_py(sig: list[int], bands: int = 4) -> list[tuple]:
    """Replica of operators/dedup.py _band_key_structs: (band, bucket)
    keys where bucket folds the band's signature rows as LongType
    children."""
    rpb = len(sig) // bands
    return [(b, spark_xxhash64_longs(sig[b * rpb:(b + 1) * rpb]))
            for b in range(bands)]


def n_chunks_for(n_tokens: int, ctx_len: int, stride: int) -> int:
    """Window count of operators/chunking.py chunk_documents covering
    ``n_tokens`` tokens: 1 window when the doc fits, else enough stride
    steps that the last window reaches the end."""
    if n_tokens <= ctx_len:
        return 1
    return -((n_tokens - ctx_len) // -stride) + 1  # ceil div


def encode_fake_video(frame_len: int, frames: list[bytes]) -> bytes:
    """Deterministic synthetic 'video' for operators/multimodal.py:
    FVID + n_frames + frame_len + fixed-size frames concatenated."""
    from docling_api_spark.operators.multimodal import FAKE_VIDEO_MAGIC

    assert all(len(f) == frame_len for f in frames)
    return (
        FAKE_VIDEO_MAGIC
        + struct.pack("<II", len(frames), frame_len)
        + b"".join(frames)
    )
