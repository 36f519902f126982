"""Ground truth, computed in the harness with plain Python ``re``, numpy and
collections -- never with tetrex_spark.

The text rules mirrored here are the ones the library documents for every
build/query path: take ``text``; when it is NULL, strip the tags of
``html`` (each tag becomes a space) and decode it; then lowercase, collapse
whitespace runs to one space and strip. Tokens are the space-separated
words of that text; shingles are windows of ``k`` consecutive tokens.
"""

from __future__ import annotations

import math
import re
from collections import Counter, defaultdict

import numpy as np

_TAG = re.compile(rb"<[^>]*>")
_WS = re.compile(r"\s+")


def normalize(s: str | None) -> str:
    return _WS.sub(" ", (s or "").lower()).strip()


def page_text(text: str | None, html: bytes | None) -> str:
    if text is None and html is not None:
        text = _TAG.sub(b" ", html).decode("utf-8", errors="replace")
    return normalize(text)


def tokens(norm: str) -> list[str]:
    return norm.split(" ") if norm else []


def shingles(toks: list[str], k: int = 3) -> set[str]:
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


# -- motif hits ---------------------------------------------------------------


def motif_hits(urls: list[str], texts: list[str], pattern: str) -> set[tuple]:
    """Every (url, match, start, end) of `pattern`, case-insensitive, over
    normalized page texts."""
    rx = re.compile(normalize(pattern), re.IGNORECASE)
    return {(u, m.group(0), m.start(), m.end())
            for u, t in zip(urls, texts) for m in rx.finditer(t)}


def docs_matching_all(urls: list[str], texts: list[str], patterns: list[str]) -> set[str]:
    rxs = [re.compile(normalize(p), re.IGNORECASE) for p in patterns]
    return {u for u, t in zip(urls, texts) if all(rx.search(t) for rx in rxs)}


# -- sketch answers -----------------------------------------------------------


def rank_interval(sorted_vals: np.ndarray, x: float) -> tuple[float, float]:
    """[lowest, highest] normalized rank `x` can take in the data (ties)."""
    n = len(sorted_vals)
    return (np.searchsorted(sorted_vals, x, "left") / n,
            np.searchsorted(sorted_vals, x, "right") / n)


def quantile_ok(sorted_vals: np.ndarray, q: float, est: float, eps: float) -> bool:
    lo, hi = rank_interval(sorted_vals, est)
    return lo - eps <= q <= hi + eps


def heavy_hitters(token_counts: Counter, phi_num: int, phi_den: int) -> set[tuple[str, int]]:
    n = sum(token_counts.values())
    return {(t, c) for t, c in token_counts.items() if c * phi_den >= n * phi_num}


# -- near-duplicates ----------------------------------------------------------


def _ordered(sets: list[set[str]], freq: Counter) -> list[list[str]]:
    return [sorted(s, key=lambda x: (freq[x], x)) for s in sets]


def _prefix_len(size: int, t_num: int, t_den: int) -> int:
    return size - math.ceil(size * t_num / t_den) + 1


def jaccard_ok(a: set, b: set, t_num: int, t_den: int) -> bool:
    inter = len(a & b)
    return inter * t_den >= (len(a) + len(b) - inter) * t_num


def similar_pairs(left: list[set[str]], right: list[set[str]] | None = None,
                  t_num: int = 4, t_den: int = 5) -> set[tuple[int, int]]:
    """Exact all-pairs Jaccard >= t_num/t_den by prefix filtering: two sets
    that reach the threshold share a shingle within the first
    |x| - ceil(t|x|) + 1 shingles of each, under one global order (rarest
    first). Empty sets never match. With `right`, pairs are (left index,
    right index); without it, (i, j) with i < j inside `left`."""
    self_join = right is None
    right = left if self_join else right
    freq = Counter(x for s in left for x in s)
    if not self_join:
        freq.update(x for s in right for x in s)
    lo = _ordered(left, freq)
    ro = lo if self_join else _ordered(right, freq)
    index: dict[str, list[int]] = defaultdict(list)
    for j, s in enumerate(ro):
        for x in s[:_prefix_len(len(s), t_num, t_den)]:
            index[x].append(j)
    out: set[tuple[int, int]] = set()
    for i, s in enumerate(lo):
        cands = {j for x in s[:_prefix_len(len(s), t_num, t_den)] for j in index.get(x, ())}
        for j in cands:
            if self_join and j <= i:
                continue
            if jaccard_ok(left[i], right[j], t_num, t_den):
                out.add((i, j))
    return out


def components(n: int, edges) -> list[int]:
    """Union-find: each node's component label (the smallest member)."""
    parent = list(range(n))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return [find(i) for i in range(n)]


def same_partition(labels_a: dict, labels_b: dict) -> bool:
    """True when both id -> label maps group the ids identically."""
    if labels_a.keys() != labels_b.keys():
        return False
    fwd: dict = {}
    back: dict = {}
    for k, la in labels_a.items():
        lb = labels_b[k]
        if fwd.setdefault(la, lb) != lb or back.setdefault(lb, la) != la:
            return False
    return True


def hamming_pairs(ids: np.ndarray, fps: np.ndarray, max_hamming: int) -> set[tuple[int, int]]:
    """Exact (id_a < id_b) pairs whose 64-bit fingerprints differ in at most
    `max_hamming` bits (brute force over all pairs)."""
    order = np.argsort(ids)
    ids, fps = ids[order], fps[order].view(np.uint64)
    lut = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)
    out: set[tuple[int, int]] = set()
    for i in range(len(ids) - 1):
        x = np.bitwise_xor(fps[i + 1:], fps[i])
        d = lut[x.view(np.uint8).reshape(-1, 8)].sum(axis=1)
        for j in np.nonzero(d <= max_hamming)[0]:
            out.add((int(ids[i]), int(ids[i + 1 + j])))
    return out
