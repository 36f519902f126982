"""Per-kernel error-bound tests against exact answers on fixtures from
FIXTURES.md §5 (ints_1e5, zipf_tokens, lengths_mix)."""

import numpy as np
import pytest

from tetrex_spark.kernel import (
    KLL,
    BloomFilter,
    CharSet,
    CountMinSketch,
    HyperLogLog,
    TDigest,
    bloom_m_bits,
    from_bytes,
)
from tetrex_spark.kernel.hashing import splitmix64


@pytest.fixture(scope="module")
def ints_1e5():
    return splitmix64(np.arange(100_000, dtype=np.uint64))


@pytest.fixture(scope="module")
def zipf_tokens():
    # 50k draws from a fixed Zipf(1.2)-ish table over 1000 tokens, seeded
    rng = np.random.default_rng(42)
    ranks = np.arange(1, 1001)
    p = ranks**-1.2
    p /= p.sum()
    draws = rng.choice(1000, size=50_000, p=p)
    keys = splitmix64(draws.astype(np.uint64))
    return draws, keys


@pytest.fixture(scope="module")
def lengths_mix():
    rng = np.random.default_rng(42)
    a = rng.normal(200, 30, 40_000)
    b = rng.normal(2000, 400, 9_000)
    c = np.full(1_000, 512.0)
    return np.concatenate([a, b, c])


# ---------------------------------------------------------------- bloom


def test_bloom_sizing_formula():
    # m = ceil(-n ln p / ln^2 2): n=1000, p=0.05 -> 6236 bits -> pad to 64
    assert bloom_m_bits(1000, 0.05) == ((6236 + 63) // 64) * 64


def test_bloom_no_false_negatives_and_fpr(ints_1e5):
    n = 20_000
    bf = BloomFilter.sized(n, fpr=0.05)
    inserted = ints_1e5[:n]
    bf.update(inserted)
    assert bf.contains(inserted).all(), "Bloom filters must never false-negative"
    absent = ints_1e5[n : n + 50_000]
    fpr = bf.contains(absent).mean()
    assert fpr <= 0.05 * 1.5, f"observed FPR {fpr} above configured 0.05 (+50% slack)"


def test_bloom_estimate(ints_1e5):
    bf = BloomFilter.sized(10_000, fpr=0.01)
    bf.update(ints_1e5[:10_000])
    assert abs(bf.estimate() - 10_000) / 10_000 < 0.05


def test_bloom_roundtrip(ints_1e5):
    bf = BloomFilter.sized(1000, 0.05).update(ints_1e5[:1000])
    bf2 = from_bytes(bf.to_bytes())
    assert np.array_equal(bf.bits, bf2.bits)
    assert bf2.contains(ints_1e5[:1000]).all()


# ---------------------------------------------------------------- charset


def test_charset_roundtrip_and_rejects_non_code_points():
    cs = CharSet().update(np.array([104, 105, 0x1F600, 104], dtype=np.uint32))
    assert cs.chars() == "hi\U0001f600" and cs.estimate() == 3.0
    assert cs.contains(np.array([105, 106])).tolist() == [True, False]
    assert from_bytes(cs.to_bytes()).to_bytes() == cs.to_bytes()
    assert CharSet().update(np.zeros(0, dtype=np.uint64)).chars() == ""
    with pytest.raises(ValueError, match="code points"):
        CharSet().update(np.array([0x110000], dtype=np.uint64))
    with pytest.raises(ValueError, match="code points"):
        CharSet().update(np.array([-1], dtype=np.int64))
    with pytest.raises(ValueError, match="code-point set"):
        from_bytes(CharSet(codes=np.array([5, 3], dtype=np.uint32)).to_bytes())


# ---------------------------------------------------------------- hll


@pytest.mark.parametrize("p", [10, 12, 14])
def test_hll_bound_1e5(ints_1e5, p):
    h = HyperLogLog(p=p)
    h.update(ints_1e5)
    err = abs(h.estimate() - 100_000) / 100_000
    assert err < 3 * 1.04 / (2**p) ** 0.5, f"p={p} err={err}"


def test_hll_small_range_linear_counting():
    h = HyperLogLog(p=12)
    h.update(splitmix64(np.arange(50, dtype=np.uint64)))
    assert abs(h.estimate() - 50) <= 2


def test_hll_roundtrip(ints_1e5):
    h = HyperLogLog(p=10).update(ints_1e5[:5000])
    h2 = from_bytes(h.to_bytes())
    assert np.array_equal(h.registers, h2.registers)


# ---------------------------------------------------------------- cms


def test_cms_point_queries_within_eps(zipf_tokens):
    draws, keys = zipf_tokens
    cms = CountMinSketch(width=2048, depth=5)
    cms.update(keys)
    exact = np.bincount(draws, minlength=1000)
    uniq_keys = splitmix64(np.arange(1000, dtype=np.uint64))
    est = cms.estimate(uniq_keys)
    # one-sided: never underestimates
    assert (est >= exact).all()
    # eps*N bound with delta slack
    n = len(draws)
    eps = cms.eps
    frac_over = ((est - exact) > eps * n).mean()
    assert frac_over <= cms.delta + 0.01


def test_cms_heavy_hitter_ordering(zipf_tokens):
    draws, keys = zipf_tokens
    cms = CountMinSketch(width=4096, depth=5).update(keys)
    uniq_keys = splitmix64(np.arange(1000, dtype=np.uint64))
    est = cms.estimate(uniq_keys)
    exact = np.bincount(draws, minlength=1000)
    # the true top-5 must be the estimated top-5 (wide sketch, heavy skew)
    assert set(np.argsort(est)[-5:]) == set(np.argsort(exact)[-5:])


def test_cms_roundtrip(zipf_tokens):
    _, keys = zipf_tokens
    cms = CountMinSketch(width=512, depth=3).update(keys[:1000])
    cms2 = from_bytes(cms.to_bytes())
    assert np.array_equal(cms.table, cms2.table)


# ---------------------------------------------------------------- kll


def test_kll_rank_error(lengths_mix):
    k = 200
    sk = KLL(k=k)
    sk.update(lengths_mix)
    n = len(lengths_mix)
    sorted_vals = np.sort(lengths_mix)
    for q in [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]:
        est = sk.quantile(q)
        true_rank = np.searchsorted(sorted_vals, est, side="right") / n
        assert abs(true_rank - q) <= 3.0 / k, f"q={q} rank err {abs(true_rank - q)}"


def test_kll_roundtrip(lengths_mix):
    sk = KLL(k=100).update(lengths_mix[:10_000])
    sk2 = from_bytes(sk.to_bytes())
    assert sk2.n == sk.n
    for q in [0.1, 0.5, 0.9]:
        assert sk.quantile(q) == sk2.quantile(q)


# ---------------------------------------------------------------- tdigest


def test_tdigest_quantile_error(lengths_mix):
    td = TDigest(delta=100)
    td.update(lengths_mix)
    n = len(lengths_mix)
    sorted_vals = np.sort(lengths_mix)
    for q in [0.01, 0.1, 0.5, 0.9, 0.99]:
        est = td.quantile(q)
        true_rank = np.searchsorted(sorted_vals, est, side="right") / n
        # k1 scale: rank error bounded ~ q(1-q); generous envelope
        assert abs(true_rank - q) <= max(0.01, 4 * q * (1 - q) / 100), f"q={q}"


def test_tdigest_point_mass(lengths_mix):
    td = TDigest(delta=200).update(lengths_mix)
    # the 512.0 point mass spans ranks [0.8, 0.82]; q=0.81 should be close
    assert abs(td.quantile(0.81) - 512.0) < 60


def test_tdigest_roundtrip(lengths_mix):
    td = TDigest(delta=100).update(lengths_mix[:5000])
    td2 = from_bytes(td.to_bytes())
    for q in [0.1, 0.5, 0.9]:
        assert td.quantile(q) == td2.quantile(q)
