"""Per-document MinHash spec: token and shingle hashes of one text.

The batch kernel (``doppel_spark.functions.minhash._batch_sig_matrix``)
hashes a whole Arrow batch at once; these functions define the same
values one document at a time, and the tests assert the kernel against
them. They share the kernel's constants (token byte-polynomial base,
shingle polynomial base, whitespace byte class), which define the hash
family; the arithmetic is written out independently here.
"""

from __future__ import annotations

import numpy as np

from doppel_spark.functions.minhash import (
    _POLY_BASE,
    _TOK_LUT,
    _TOKEN_BASE,
    _TOKEN_BASE_INV,
    splitmix64,
)


def token_hashes(text: str) -> np.ndarray:
    """64-bit hashes of the whitespace tokens of ``text`` — zero Python
    string objects.

    The UTF-8 bytes are hashed once with a prefix polynomial
    P[i] = Σ_{j<i} (b[j]+1)·B^j (mod 2⁶⁴); a token spanning [s, e) then
    hashes to (P[e] − P[s]) · B⁻ˢ — equal byte spans ⇒ equal hashes —
    and a splitmix64 avalanche spreads the result over the full 64-bit
    space.
    """
    data = np.frombuffer((text or "").encode("utf-8"), dtype=np.uint8)
    n = data.size
    if n == 0:
        return np.zeros(0, dtype=np.uint64)
    is_tok = _TOK_LUT[data]
    prev = np.empty(n, dtype=bool)
    prev[0] = False
    prev[1:] = is_tok[:-1]
    nxt = np.empty(n, dtype=bool)
    nxt[-1] = False
    nxt[:-1] = is_tok[1:]
    starts = np.nonzero(is_tok & ~prev)[0]
    if starts.size == 0:
        return np.zeros(0, dtype=np.uint64)
    ends = np.nonzero(is_tok & ~nxt)[0] + 1
    with np.errstate(over="ignore"):
        pw = np.empty(n + 1, dtype=np.uint64)
        pw[0] = 1
        np.cumprod(np.full(n, _TOKEN_BASE, dtype=np.uint64), out=pw[1:])
        ipw = np.empty(n + 1, dtype=np.uint64)
        ipw[0] = 1
        np.cumprod(np.full(n, _TOKEN_BASE_INV, dtype=np.uint64), out=ipw[1:])
        pre = np.empty(n + 1, dtype=np.uint64)
        pre[0] = 0
        np.cumsum((data.astype(np.uint64) + np.uint64(1)) * pw[:n], out=pre[1:])
        return splitmix64((pre[ends] - pre[starts]) * ipw[starts])


def shingle_hashes(text: str, k: int) -> np.ndarray:
    """Unique 64-bit shingle hashes of a document, string-free.

    Each k-gram combines its token hashes with a rolling polynomial
    (sliding-window dot product in uint64). Equal shingles ⇒ equal
    hashes by construction. Fewer than ``k`` tokens shingle as the token
    set; an empty document is the single 0 hash.
    """
    th = token_hashes(text)
    if th.size == 0:
        return np.zeros(1, dtype=np.uint64)
    if th.size < k:
        return np.unique(th)
    with np.errstate(over="ignore"):
        weights = _POLY_BASE ** np.arange(k, dtype=np.uint64)
        windows = np.lib.stride_tricks.sliding_window_view(th, k)
        return np.unique((windows * weights[None, :]).sum(axis=1, dtype=np.uint64))
