"""Merge-associativity property tests (explicit north-rule requirement).

Each fixture is split into 16 chunks; partial sketches are merged under
>= 20 seeded random permutations and random binary tree shapes.
Bloom/HLL/CMS must produce byte-identical payloads; KLL/t-digest must
keep every tested quantile within the published rank-error bound.
"""

import numpy as np
import pytest

from tetrex_spark.kernel import (
    KLL,
    BloomFilter,
    CharSet,
    CountMinSketch,
    HyperLogLog,
    TDigest,
    from_bytes,
)
from tetrex_spark.kernel.hashing import splitmix64

N_CHUNKS = 16
N_PERMS = 20


@pytest.fixture(scope="module")
def key_chunks():
    keys = splitmix64(np.arange(80_000, dtype=np.uint64))
    return np.array_split(keys, N_CHUNKS)


@pytest.fixture(scope="module")
def value_chunks():
    rng = np.random.default_rng(42)
    vals = np.concatenate([rng.normal(100, 10, 40_000), rng.normal(1000, 200, 40_000)])
    return np.array_split(vals, N_CHUNKS)


def _merge_tree(partials, perm, rng):
    """Merge a permuted list of partials under a random binary tree shape."""
    nodes = [partials[i] for i in perm]
    while len(nodes) > 1:
        i = int(rng.integers(0, len(nodes) - 1))
        left = nodes.pop(i)
        right = nodes.pop(i)
        left.merge(right)
        nodes.insert(i, left)
    return nodes[0]


def _partials(cls_factory, chunks, from_blob):
    out = []
    for c in chunks:
        out.append(cls_factory().update(c))
    return out


@pytest.mark.parametrize(
    "factory",
    [
        lambda: BloomFilter(m_bits=1 << 16, n_hashes=3),
        lambda: HyperLogLog(p=11),
        lambda: CountMinSketch(width=1024, depth=4),
    ],
    ids=["bloom", "hll", "cms"],
)
def test_lattice_sketches_byte_identical_any_merge_order(factory, key_chunks):
    reference = None
    for seed in range(N_PERMS):
        rng = np.random.default_rng(seed)
        perm = rng.permutation(N_CHUNKS)
        partials = [factory().update(c) for c in key_chunks]
        merged = _merge_tree(partials, perm, rng)
        body = merged._body()
        if reference is None:
            reference = body
        else:
            assert body == reference, f"payload differs under permutation seed {seed}"


def test_charset_byte_identical_any_batching_and_merge_order():
    """The alphabet sketch is exact: whatever the update batching, payload
    round trips and merge tree, the payload is the same bytes and the set
    is exactly the text's characters."""
    rng = np.random.default_rng(7)
    pool = list("abcdefghij ,.-") + ["\u00e9", "\u00df", "\u4e2d", "\U0001f600", "\u01c5"]
    text = "".join(rng.choice(pool, size=20_000))
    cps = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32)
    reference = CharSet().update(cps).to_bytes()
    assert from_bytes(reference).chars() == "".join(sorted(set(text)))
    for seed in range(N_PERMS):
        rng = np.random.default_rng(seed)
        cuts = np.sort(rng.choice(cps.size, size=N_CHUNKS - 1, replace=False))
        partials = []
        for chunk in np.split(cps, cuts):
            sk = CharSet()
            for part in np.array_split(chunk, int(rng.integers(1, 4))):
                sk.update(part.astype(np.uint64))
            partials.append(from_bytes(sk.to_bytes()))
        merged = _merge_tree(partials, rng.permutation(N_CHUNKS), rng)
        assert merged.to_bytes() == reference, f"payload differs under seed {seed}"


@pytest.mark.parametrize("q", [0.05, 0.25, 0.5, 0.75, 0.95])
def test_kll_bound_holds_under_any_merge_order(value_chunks, q):
    all_vals = np.sort(np.concatenate(value_chunks))
    n = len(all_vals)
    k = 200
    for seed in range(N_PERMS):
        rng = np.random.default_rng(seed)
        perm = rng.permutation(N_CHUNKS)
        partials = [KLL(k=k).update(c) for c in value_chunks]
        merged = _merge_tree(partials, perm, rng)
        est = merged.quantile(q)
        true_rank = np.searchsorted(all_vals, est, side="right") / n
        assert abs(true_rank - q) <= 3.0 / k, f"seed={seed} q={q}"


@pytest.mark.parametrize("q", [0.05, 0.25, 0.5, 0.75, 0.95])
def test_tdigest_bound_holds_under_any_merge_order(value_chunks, q):
    all_vals = np.sort(np.concatenate(value_chunks))
    n = len(all_vals)
    for seed in range(N_PERMS):
        rng = np.random.default_rng(seed)
        perm = rng.permutation(N_CHUNKS)
        partials = [TDigest(delta=100).update(c) for c in value_chunks]
        merged = _merge_tree(partials, perm, rng)
        est = merged.quantile(q)
        true_rank = np.searchsorted(all_vals, est, side="right") / n
        assert abs(true_rank - q) <= max(0.015, 4 * q * (1 - q) / 100), f"seed={seed} q={q}"


def test_merge_rejects_mismatched_params():
    with pytest.raises(ValueError):
        BloomFilter(1 << 10).merge(BloomFilter(1 << 11))
    with pytest.raises(ValueError):
        HyperLogLog(p=10).merge(HyperLogLog(p=12))
    with pytest.raises(ValueError):
        CharSet().merge(BloomFilter(1 << 10))
