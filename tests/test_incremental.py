"""Incremental exact dedup (operators/incremental.py): build a frozen
membership index, gate an increment against it, and check the verdict
is EXACT (Bloom FPs confirmed away, FNs impossible) under default and
adversarially small filters."""

import json

import pytest
from pyspark.sql import functions as F

from tetrex_spark.operators.incremental import (
    build_membership_index,
    incremental_exact_dedup,
)


def _corpus(spark, texts, start_id=0):
    return spark.createDataFrame(
        [(start_id + i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


REF_TEXTS = [f"reference document number {i} about topic {i % 7}" for i in range(200)]


@pytest.fixture()
def index_dir(spark, tmp_path):
    d = str(tmp_path / "memb_idx")
    stats = build_membership_index(
        _corpus(spark, REF_TEXTS), d, n_buckets=16, fpr=0.01
    )
    assert stats["n_keys"] == 200
    return d


def _gate(spark, index_dir, texts):
    inc = _corpus(spark, texts, start_id=1000)
    got = incremental_exact_dedup(inc, index_dir).collect()
    return {r["doc_id"]: r["is_new"] for r in got}


def test_exact_verdict(spark, index_dir):
    """Known copies flagged dup, fresh texts flagged new, one row per
    increment doc."""
    texts = ["brand new text alpha", REF_TEXTS[3], "another new one", REF_TEXTS[150]]
    got = _gate(spark, index_dir, texts)
    assert got == {1000: True, 1001: False, 1002: True, 1003: False}


def test_normalization_applies(spark, index_dir):
    """Whitespace/case variants of a reference doc are duplicates (the
    gate hashes the same normalization as exact_dedup)."""
    got = _gate(spark, index_dir, ["  " + REF_TEXTS[0].upper() + "  "])
    assert got == {1000: False}


def test_no_false_negatives_tiny_filter(spark, tmp_path):
    """fpr=0.5 makes the filters tiny and FP-riddled; every true dup
    must STILL be flagged (no FN) and every fresh text must survive the
    confirm step (FPs die against the stored hashes)."""
    d = str(tmp_path / "idx_small")
    build_membership_index(
        _corpus(spark, REF_TEXTS), d, n_buckets=4, fpr=0.5
    )
    texts = [f"fresh text {i}" for i in range(100)] + REF_TEXTS[::10]
    got = _gate(spark, d, texts)
    for i in range(100):
        assert got[1000 + i] is True
    for j in range(len(REF_TEXTS[::10])):
        assert got[1100 + j] is False


def test_empty_bucket_is_new(spark, tmp_path):
    """A 1-doc reference fills one bucket; increment rows routed to the
    other buckets meet no filter and are new without any confirm scan."""
    d = str(tmp_path / "idx_one")
    build_membership_index(_corpus(spark, ["only doc"]), d, n_buckets=32)
    got = _gate(spark, d, [f"spread {i}" for i in range(50)] + ["only doc"])
    assert sum(not v for v in got.values()) == 1
    assert got[1050] is False


def test_partitioning_independent(spark, index_dir):
    texts = [REF_TEXTS[i] if i % 3 == 0 else f"inc {i}" for i in range(60)]
    inc1 = _corpus(spark, texts).repartition(1)
    inc16 = _corpus(spark, texts).repartition(16)
    a = {r["doc_id"]: r["is_new"] for r in incremental_exact_dedup(inc1, index_dir).collect()}
    b = {r["doc_id"]: r["is_new"] for r in incremental_exact_dedup(inc16, index_dir).collect()}
    assert a == b
    assert sum(not v for v in a.values()) == 20


def test_params_guard(spark, index_dir):
    """A layout / normalization version mismatch refuses loudly instead
    of silently missing every probe."""
    p = json.load(open(f"{index_dir}/params.json"))
    json.dump({**p, "norm_version": 99}, open(f"{index_dir}/params.json", "w"))
    with pytest.raises(ValueError, match="normalization"):
        incremental_exact_dedup(_corpus(spark, ["x"]), index_dir)
    json.dump({**p, "_layout": 99}, open(f"{index_dir}/params.json", "w"))
    with pytest.raises(ValueError, match="layout"):
        incremental_exact_dedup(_corpus(spark, ["x"]), index_dir)


def _long_text(seed, n=50, edits=()):
    """50 tokens unique to `seed` (multiplicative-hash token ids), so
    distinct seeds share no shingles; `edits` plant near-dups."""
    toks = [
        f"w{(seed * 1315423911 + i * 2654435761) % (1 << 31)}" for i in range(n)
    ]
    for pos, w in edits:
        toks[pos] = w
    return " ".join(toks)


NEARDUP_REF = [_long_text(i) for i in range(40)]


@pytest.fixture()
def neardup_index(spark, tmp_path):
    from tetrex_spark.operators.incremental import build_neardup_index

    d = str(tmp_path / "nd_idx")
    stats = build_neardup_index(
        _corpus(spark, NEARDUP_REF), d, threshold=0.8, n_shards=8
    )
    assert stats["n_reps"] == 40
    assert stats["n_dropped_buckets"] == 0
    return d


def test_neardup_gate_verdicts(spark, neardup_index):
    """Exact copy and a 2-token edit (jaccard ~0.85) are dups; a fresh
    text and a sub-k-token doc are new."""
    from tetrex_spark.operators.incremental import (
        incremental_neardup_gate,
        incremental_neardup_pairs,
    )

    inc_texts = [
        NEARDUP_REF[7],                            # exact
        _long_text(12, edits=[(10, "zq1")]),       # near-dup of ref 12 (~0.88)
        _long_text(999),                           # fresh
        "tiny doc",                                # < k tokens
    ]
    inc = _corpus(spark, inc_texts, start_id=1000)
    got = {
        r["doc_id"]: r["is_new"]
        for r in incremental_neardup_gate(inc, neardup_index).collect()
    }
    assert got == {1000: False, 1001: False, 1002: True, 1003: True}
    pairs = incremental_neardup_pairs(inc, neardup_index).collect()
    by_inc = {(r["doc_id"], r["ref_id"]): r["jaccard"] for r in pairs}
    assert by_inc[(1000, 7)] == 1.0
    assert 0.8 <= by_inc[(1001, 12)] < 1.0


def test_neardup_precollapse(spark, tmp_path):
    """10k exact copies of one text collapse to ONE representative
    before signing (no bucket blowup), and a copy still gates as dup."""
    from tetrex_spark.operators.incremental import (
        build_neardup_index,
        incremental_neardup_gate,
    )

    d = str(tmp_path / "nd_dupheavy")
    ref = _corpus(spark, [NEARDUP_REF[0]] * 200 + NEARDUP_REF[1:5])
    stats = build_neardup_index(ref, d, n_shards=8)
    assert stats["n_reps"] == 5
    got = incremental_neardup_gate(
        _corpus(spark, [NEARDUP_REF[0]], start_id=1000), d
    ).collect()
    assert got[0]["is_new"] is False


def test_neardup_partitioning_independent(spark, neardup_index):
    from tetrex_spark.operators.incremental import incremental_neardup_gate

    texts = [NEARDUP_REF[i % 40] if i % 3 == 0 else _long_text(100 + i) for i in range(30)]
    a = {
        r["doc_id"]: r["is_new"]
        for r in incremental_neardup_gate(
            _corpus(spark, texts).repartition(1), neardup_index
        ).collect()
    }
    b = {
        r["doc_id"]: r["is_new"]
        for r in incremental_neardup_gate(
            _corpus(spark, texts).repartition(16), neardup_index
        ).collect()
    }
    assert a == b
    assert sum(not v for v in a.values()) == 10


def test_kind_guard(spark, index_dir, neardup_index):
    """A membership index refuses to serve the near-dup gate and vice
    versa."""
    from tetrex_spark.operators.incremental import (
        incremental_exact_dedup,
        incremental_neardup_gate,
    )

    inc = _corpus(spark, ["x y z w"])
    with pytest.raises(ValueError, match="neardup"):
        incremental_neardup_gate(inc, index_dir)
    with pytest.raises(ValueError, match="membership"):
        incremental_exact_dedup(inc, neardup_index)


def test_index_is_text_free_and_pruned(spark, index_dir):
    """The index stores 16 B/doc (no text column), and the confirm scan
    carries a literal bucket partition filter."""
    hashes = spark.read.parquet(f"{index_dir}/hashes")
    assert set(hashes.columns) == {"bucket", "h", "h2"}
    inc = _corpus(spark, [REF_TEXTS[5]])
    out = incremental_exact_dedup(inc, index_dir)
    assert out.collect()[0]["is_new"] is False


def test_cli_ndindex_ndgate_end_to_end(spark, tmp_path, capsys):
    """ndindex freezes a parquet corpus; ndgate verdicts a mixed
    increment and --new-only keeps only the fresh rows."""
    from tetrex_spark.cli import main

    corpus_path = str(tmp_path / "corpus.parquet")
    _corpus(spark, NEARDUP_REF).write.parquet(corpus_path)
    idx = str(tmp_path / "nd_idx")
    rc = main(["ndindex", "--corpus", corpus_path, "--output", idx,
               "--n-shards", "8"])
    assert rc == 0
    assert "40 representatives" in capsys.readouterr().out

    inc_path = str(tmp_path / "inc.parquet")
    _corpus(
        spark, [NEARDUP_REF[3], _long_text(7, edits=[(4, "zq9")]),
                _long_text(500)],
        start_id=1000,
    ).write.parquet(inc_path)
    out = str(tmp_path / "verdicts")
    rc = main(["ndgate", "--increment", inc_path, "--index", idx,
               "--output", out])
    assert rc == 0
    assert "1/3 increment docs are new" in capsys.readouterr().out
    got = {r["doc_id"]: r["is_new"] for r in spark.read.parquet(out).collect()}
    assert got == {1000: False, 1001: False, 1002: True}

    out2 = str(tmp_path / "survivors")
    rc = main(["ndgate", "--increment", inc_path, "--index", idx,
               "--output", out2, "--new-only"])
    assert rc == 0
    kept = spark.read.parquet(out2)
    assert [r["doc_id"] for r in kept.collect()] == [1002]
    assert set(kept.columns) == {"doc_id", "text"}


@pytest.mark.parametrize("builder", ["membership", "neardup"])
def test_failed_index_write_propagates_and_releases(spark, tmp_path, builder):
    """An index write that fails (out_dir under a regular file) raises to
    the caller and leaves no persisted or checkpointed frame behind."""
    from tetrex_spark.operators.incremental import build_neardup_index

    blocker = tmp_path / "not_a_dir"
    blocker.write_text("x")
    out_dir = str(blocker / "idx")
    build = {
        "membership": lambda: build_membership_index(
            _corpus(spark, REF_TEXTS), out_dir, n_buckets=16),
        "neardup": lambda: build_neardup_index(
            _corpus(spark, REF_TEXTS), out_dir, threshold=0.5),
    }[builder]
    sc = spark.sparkContext
    before = sc._jsc.getPersistentRDDs().size()
    with pytest.raises(Exception, match="not_a_dir"):
        build()
    assert sc._jsc.getPersistentRDDs().size() == before
