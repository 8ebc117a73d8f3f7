# -*- coding: utf-8 -*-
"""Deduplication primitives: shingling, MinHash signatures + LSH
banding, SimHash — deterministic pure functions shared by the
distributed pandas UDFs and the single-node gold builder, so the
driver oracle compares distributed vs single-node execution of the
same math.

All hashing is blake2b-based (stable across processes and platforms,
unlike Python's salted ``hash``).
"""
from __future__ import annotations

import hashlib
import re
from typing import List, Sequence, Set, Tuple

# Mersenne-31 hash domain: a*x+b stays under 2^62, so the permutation
# sweep vectorizes in plain uint64 numpy (exact), ~30x the scalar loop.
_MERSENNE = (1 << 31) - 1
_MAXU64 = (1 << 64) - 1
_WS = re.compile(r"\s+")


def _h64(data: str) -> int:
    d = hashlib.blake2b(data.encode("utf-8"), digest_size=8)
    return int.from_bytes(d.digest(), "little")


def normalize(text: str) -> str:
    return _WS.sub(" ", (text or "").strip().lower())


def word_shingles(text: str, k: int = 3) -> Set[str]:
    """Word k-gram shingle set over normalized text."""
    words = normalize(text).split(" ")
    if len(words) < k:
        return {" ".join(words)} if words != [""] else set()
    return {" ".join(words[i : i + k]) for i in range(len(words) - k + 1)}


def jaccard(a: Set[str], b: Set[str]) -> float:
    if not a and not b:
        return 1.0
    if not a or not b:
        return 0.0
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


# deterministic permutation parameters: a_i, b_i from blake2b of the
# permutation index (seed-free and reproducible everywhere)
def _perm_params(n: int) -> List[Tuple[int, int]]:
    out = []
    for i in range(n):
        a = _h64("minhash-a-%d" % i) % (_MERSENNE - 1) + 1
        b = _h64("minhash-b-%d" % i) % _MERSENNE
        out.append((a, b))
    return out


_N_PERM_DEFAULT = 64
_PERMS = _perm_params(_N_PERM_DEFAULT)


import numpy as _np

_PERM_A = _np.array([a for a, _b in _PERMS], dtype=_np.uint64)
_PERM_B = _np.array([b for _a, b in _PERMS], dtype=_np.uint64)


def minhash_signature(shingles: Set[str], n_perm: int = _N_PERM_DEFAULT) -> List[int]:
    """n_perm-wide MinHash signature; empty input -> all _MERSENNE.

    Vectorized: (a*x+b) mod M over a (n_perm, n_shingles) uint64 grid —
    exact (values stay < 2^62) and identical to the scalar loop."""
    if not shingles:
        return [_MERSENNE] * n_perm
    base = _np.fromiter(
        ((_h64(s) % _MERSENNE) for s in shingles), dtype=_np.uint64,
        count=len(shingles),
    )
    if n_perm == _N_PERM_DEFAULT:
        a, b = _PERM_A, _PERM_B
    else:
        perms = _perm_params(n_perm)
        a = _np.array([p[0] for p in perms], dtype=_np.uint64)
        b = _np.array([p[1] for p in perms], dtype=_np.uint64)
    vals = (a[:, None] * base[None, :] + b[:, None]) % _np.uint64(_MERSENNE)
    return [int(v) for v in vals.min(axis=1)]


def lsh_band_keys(sig: Sequence[int], bands: int = 16) -> List[str]:
    """Band the signature: docs sharing any band key are candidates.
    rows-per-band = len(sig) // bands."""
    r = len(sig) // bands
    keys = []
    for bi in range(bands):
        chunk = ",".join(str(x) for x in sig[bi * r : (bi + 1) * r])
        keys.append("%d:%016x" % (bi, _h64(chunk)))
    return keys


def simhash64(text: str) -> int:
    """64-bit SimHash over word features of normalized text."""
    counts = [0] * 64
    words = normalize(text).split(" ")
    for w in words:
        if not w:
            continue
        h = _h64(w)
        for bit in range(64):
            counts[bit] += 1 if (h >> bit) & 1 else -1
    out = 0
    for bit in range(64):
        if counts[bit] > 0:
            out |= 1 << bit
    return out


def hamming64(a: int, b: int) -> int:
    return bin((a ^ b) & _MAXU64).count("1")


def simhash_band_keys(sim: int, bands: int = 4) -> List[str]:
    """Split the 64-bit simhash into ``bands`` chunks; by pigeonhole,
    two hashes within hamming distance < bands share at least one
    chunk."""
    width = 64 // bands
    mask = (1 << width) - 1
    return [
        "%d:%x" % (bi, (sim >> (bi * width)) & mask) for bi in range(bands)
    ]
