"""Checkpoint/resume: interrupted builds resume from lineage and produce
byte-identical lattice payloads to a single-shot build."""

import numpy as np
import pytest

from tetrex_spark.lineage import CheckpointedBuild
from tetrex_spark.operators.sketch_build import SketchSpec, build_sketches
from tetrex_spark.sources.corpus import webtext_small, with_bin_id


def specs():
    return [
        SketchSpec("bloom", "bloom", "token_shingle", k=2,
                   params={"m_bits": 1 << 14, "n_hashes": 3}),
        SketchSpec("hll", "hll", "token_shingle", k=2, params={"p": 11}),
    ]


@pytest.fixture(scope="module")
def corpus(spark):
    return with_bin_id(webtext_small(spark), 8).cache()


def _payloads(rows):
    return {(r["bin_id"], r["name"]): bytes(r["payload"]) for r in rows}


def test_checkpointed_equals_single_shot(spark, corpus, tmp_path):
    single = _payloads(build_sketches(corpus, specs()).collect())
    cb = CheckpointedBuild(str(tmp_path / "ck"), specs(), n_chunks=4)
    chunked = _payloads(cb.run(corpus).collect())
    assert chunked == single


def test_resume_skips_committed_chunks(spark, corpus, tmp_path):
    ck = str(tmp_path / "ck2")
    cb = CheckpointedBuild(ck, specs(), n_chunks=4)
    # simulate a partial run: build only chunks 0 and 1, then "crash"
    for chunk in [0, 1]:
        part = build_sketches(cb._chunk_filter(corpus, chunk), specs())
        part.write.mode("overwrite").parquet(f"{ck}/chunks/chunk={chunk}")
        cb._commit({"build_id": cb.build_id, "chunk": chunk,
                    "status": "committed", "duration_sec": 0.0, "metrics": {}})
    assert cb.committed_chunks() == {0, 1}
    # resume completes the rest; result identical to single shot
    out = _payloads(cb.run(corpus).collect())
    single = _payloads(build_sketches(corpus, specs()).collect())
    assert out == single
    assert cb.committed_chunks() == {0, 1, 2, 3}


def test_finalize_refuses_incomplete(spark, corpus, tmp_path):
    cb = CheckpointedBuild(str(tmp_path / "ck3"), specs(), n_chunks=4)
    with pytest.raises(RuntimeError, match="not committed"):
        cb.finalize(spark)


def test_finalize_ignores_stale_chunk_dirs(spark, corpus, tmp_path):
    """A chunk=<i> dir left by a previous build with a larger n_chunks must
    NOT be merged in (it would double-count documents)."""
    ck = str(tmp_path / "ck5")
    # previous build with 8 chunks leaves dirs chunk=0..7
    old = CheckpointedBuild(ck, specs(), n_chunks=8, build_id="old")
    old.run(corpus)
    # new 4-chunk build in the same dir: chunks 4..7 are stale for it
    cb = CheckpointedBuild(ck, specs(), n_chunks=4, build_id="new")
    out = _payloads(cb.run(corpus).collect())
    single = _payloads(build_sketches(corpus, specs()).collect())
    assert out == single


def test_skew_report(spark, corpus, tmp_path):
    cb = CheckpointedBuild(str(tmp_path / "ck4"), specs(), n_chunks=2)
    cb.run(corpus)
    rep = cb.skew_report()
    assert "bloom" in rep and rep["bloom"]["items"] > 0
    # webtext_small is host-skewed by construction: h0 owns half the docs
    assert rep["bloom"]["max_to_mean_ratio"] > 1.0


# -- dedup pipeline resume ---------------------------------------------------


@pytest.fixture(scope="module")
def dedup_docs(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = []
    for i in range(40):
        words = base.split()
        words[i % len(words)] = f"tok{i}"
        rows.append((i, " ".join(words)))
    rows.append((100, rows[0][1]))  # exact dups
    rows.append((101, rows[0][1]))
    near = rows[5][1].split()
    near[-1] = "tonight"
    rows.append((102, " ".join(near)))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _pairs_set(df):
    return {(r["id_a"], r["id_b"], r["jaccard"]) for r in df.collect()}


def test_checkpointed_dedup_kill_after_banding_resumes_identical(
    spark, dedup_docs, tmp_path
):
    """Kill the pipeline after a sigset chunk AND after the banding/verify
    stage; each resumed run must land on byte-identical pairs to the
    single-shot operator."""
    from tetrex_spark.lineage import CheckpointedDedup
    from tetrex_spark.operators.dedup import minhash_lsh_pairs

    want = _pairs_set(minhash_lsh_pairs(dedup_docs, k=3, threshold=0.7))
    d = str(tmp_path / "dedup_ckpt")
    # kill #1: mid sigset stage (only chunks 0..2 committed)
    cd = CheckpointedDedup(d, threshold=0.7, n_chunks=8)
    assert cd.run(dedup_docs, stop_after="sigsets:2") is None
    committed = cd.committed()
    assert committed == {"sigsets:0", "sigsets:1", "sigsets:2"}
    # kill #2: right after the banding+verify (pairs) stage
    cd2 = CheckpointedDedup(d, threshold=0.7, n_chunks=8)
    assert cd2.run(dedup_docs, stop_after="pairs") is None
    assert "pairs" in cd2.committed()
    # resume to completion: byte-identical to the single-shot operator
    cd3 = CheckpointedDedup(d, threshold=0.7, n_chunks=8)
    out = cd3.run(dedup_docs)
    assert _pairs_set(out) == want
    # committed stages were never re-executed: exactly one commit each
    stages = [r["stage"] for r in cd3.lineage() if r["status"] == "committed"]
    assert len(stages) == len(set(stages)) == 9  # 8 sigset chunks + pairs


def test_checkpointed_dedup_rep_level_output(spark, dedup_docs, tmp_path):
    from tetrex_spark.lineage import CheckpointedDedup
    from tetrex_spark.operators.dedup import minhash_lsh_pairs

    d = str(tmp_path / "dedup_ckpt_rep")
    cd = CheckpointedDedup(d, threshold=0.7, n_chunks=4)
    got = _pairs_set(cd.run(dedup_docs, expand_exact_dups=False))
    want = _pairs_set(
        minhash_lsh_pairs(dedup_docs, k=3, threshold=0.7, expand_exact_dups=False)
    )
    assert got == want and got


def test_checkpointed_dedup_refuses_param_mismatch(spark, dedup_docs, tmp_path):
    """Resuming a dedup checkpoint with changed parameters must refuse
    loudly instead of returning stale results."""
    from tetrex_spark.lineage import CheckpointedDedup

    d = str(tmp_path / "dedup_params")
    CheckpointedDedup(d, threshold=0.7, n_chunks=4)
    with pytest.raises(ValueError, match="stale"):
        CheckpointedDedup(d, threshold=0.9, n_chunks=4)
    with pytest.raises(ValueError, match="stale"):
        CheckpointedDedup(d, threshold=0.7, n_chunks=8)
    # same params or a new build_id are fine
    CheckpointedDedup(d, threshold=0.7, n_chunks=4)
    CheckpointedDedup(d, threshold=0.9, n_chunks=4, build_id="dedup-1")


def test_checkpointed_simhash_kill_resume_identical(spark, dedup_docs, tmp_path):
    """SimHash pipeline lineage: kill after a fingerprint chunk AND after
    the pairs stage; each resumed run lands on pairs identical to the
    single-shot operator (same n_blocks pinned)."""
    from tetrex_spark.lineage import CheckpointedSimhashDedup
    from tetrex_spark.operators.dedup import simhash_pairs

    want = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_pairs(dedup_docs, max_hamming=3, n_blocks=4).collect()
    }
    d = str(tmp_path / "sh_ckpt")
    cd = CheckpointedSimhashDedup(d, n_blocks=4, n_chunks=6)
    assert cd.run(dedup_docs, stop_after="fps:1") is None
    assert cd.committed() == {"fps:0", "fps:1"}
    cd2 = CheckpointedSimhashDedup(d, n_blocks=4, n_chunks=6)
    assert cd2.run(dedup_docs, stop_after="pairs") is None
    assert "pairs" in cd2.committed()
    cd3 = CheckpointedSimhashDedup(d, n_blocks=4, n_chunks=6)
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in cd3.run(dedup_docs).collect()
    }
    assert got == want
    stages = [r["stage"] for r in cd3.lineage() if r["status"] == "committed"]
    assert len(stages) == len(set(stages)) == 7  # 6 fp chunks + pairs
    # param mismatch refuses loudly
    with pytest.raises(ValueError, match="stale"):
        CheckpointedSimhashDedup(d, n_blocks=6, n_chunks=6)


def test_checkpointed_cosine_kill_resume_identical(spark, tmp_path):
    """Embedding near-dup lineage: kill after a bucket chunk AND after the
    verify stage; resumed pairs byte-identical to the single-shot
    hyperplane_lsh_pairs call with the same parameters."""
    import numpy as np

    from tetrex_spark.lineage import CheckpointedCosineDedup
    from tetrex_spark.operators.similarity import hyperplane_lsh_pairs

    rng = np.random.default_rng(11)
    base = rng.standard_normal((30, 16))
    rows = [(i, base[i].tolist()) for i in range(30)]
    # planted near-dups: tiny perturbations of vectors 0..4
    for i in range(5):
        rows.append((100 + i, (base[i] + 0.01).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    want = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in hyperplane_lsh_pairs(df, dim=16, threshold=0.9).collect()
    }
    assert want  # fixture must produce survivors
    d = str(tmp_path / "cos_ckpt")
    cd = CheckpointedCosineDedup(d, dim=16, threshold=0.9, n_chunks=4)
    assert cd.run(df, stop_after="buckets:0") is None
    assert cd.committed() == {"buckets:0"}
    cd2 = CheckpointedCosineDedup(d, dim=16, threshold=0.9, n_chunks=4)
    assert cd2.run(df, stop_after="pairs") is None
    cd3 = CheckpointedCosineDedup(d, dim=16, threshold=0.9, n_chunks=4)
    got = {
        (r["id_a"], r["id_b"], r["cosine"]) for r in cd3.run(df).collect()
    }
    assert got == want
    stages = [r["stage"] for r in cd3.lineage() if r["status"] == "committed"]
    assert len(stages) == len(set(stages)) == 5  # 4 bucket chunks + pairs
    with pytest.raises(ValueError, match="stale"):
        CheckpointedCosineDedup(d, dim=16, threshold=0.95, n_chunks=4)
    # a threshold the hyperplane planner cannot serve surfaces ITS
    # message (blocking cannot prune there), not an opaque params error
    with pytest.raises(ValueError, match="cosine_pairs_blocked"):
        CheckpointedCosineDedup(d, dim=16, threshold=0.8, n_chunks=4)


def test_shared_checkpoint_dir_pipelines_do_not_collide(
    spark, dedup_docs, tmp_path
):
    """MinHash and SimHash pipelines sharing one checkpoint dir (and two
    build_ids of one pipeline) write build_id-namespaced artifacts — one
    pipeline's pairs stage must never overwrite the other's committed
    artifact (review finding: both used <dir>/rep_pairs)."""
    from tetrex_spark.lineage import CheckpointedDedup, CheckpointedSimhashDedup
    from tetrex_spark.operators.dedup import minhash_lsh_pairs, simhash_pairs

    d = str(tmp_path / "shared_ckpt")
    mh = CheckpointedDedup(d, threshold=0.7, n_chunks=2)
    want_mh = _pairs_set(mh.run(dedup_docs))
    sh = CheckpointedSimhashDedup(d, n_blocks=4, n_chunks=2)
    want_sh = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in sh.run(dedup_docs).collect()
    }
    # re-running the MinHash pipeline (all stages committed) must still
    # read ITS OWN pairs artifact, not the simhash one
    got_mh = _pairs_set(CheckpointedDedup(d, threshold=0.7, n_chunks=2).run(dedup_docs))
    assert got_mh == want_mh == _pairs_set(
        minhash_lsh_pairs(dedup_docs, k=3, threshold=0.7)
    )
    got_sh = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in CheckpointedSimhashDedup(d, n_blocks=4, n_chunks=2)
        .run(dedup_docs).collect()
    }
    assert got_sh == want_sh == {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_pairs(dedup_docs, n_blocks=4).collect()
    }


def test_checkpointed_simhash_invalid_plan_refuses_before_any_work(tmp_path):
    """max_hamming >= n_blocks must refuse at CONSTRUCTION — not as an
    uncaught error at the pairs stage after the whole fingerprint pass."""
    from tetrex_spark.lineage import CheckpointedSimhashDedup

    with pytest.raises(ValueError, match="max_hamming"):
        CheckpointedSimhashDedup(
            str(tmp_path / "bad"), max_hamming=6, n_blocks=6
        )


def test_checkpoint_layout_guard(spark, tmp_path):
    """A checkpoint written under a pre-namespacing artifact layout (its
    params file has no _layout marker) must refuse at OPEN time with a
    clear message — its params fingerprint would otherwise match and
    resume would die later with an opaque parquet path-not-found
    (round-4 advice item)."""
    import json

    import pytest

    from tetrex_spark.lineage import CheckpointedDedup, _StagedCheckpoint

    d = str(tmp_path / "legacy")
    import os

    os.makedirs(d)
    legacy = {"k": 3, "num_perm": 128, "bands": 32, "threshold": 0.8,
              "max_bucket": 512, "n_chunks": 4}
    # no marker (bare artifact paths), then layout 2 (namespaced paths,
    # but sigsets without grp/csize/bhs and rep pairs without grp_a/b)
    for stored_params in (legacy, {**legacy, "_layout": 2}):
        with open(f"{d}/params_dedup-0.json", "w") as f:
            f.write(json.dumps(stored_params, sort_keys=True))
        with pytest.raises(ValueError, match="layout"):
            CheckpointedDedup(d, n_chunks=4)
    # a checkpoint created by THIS version reopens cleanly
    d2 = str(tmp_path / "fresh")
    CheckpointedDedup(d2, n_chunks=4)
    CheckpointedDedup(d2, n_chunks=4)
    stored = json.loads(open(f"{d2}/params_dedup-0.json").read())
    assert stored["_layout"] == _StagedCheckpoint.LAYOUT_VERSION


@pytest.mark.parametrize("entry,value", [
    ("minhash_lsh_pairs", "jaccard"),
    ("simhash_pairs", "hamming"),
    ("CheckpointedDedup", "jaccard"),
    ("CheckpointedSimhashDedup", "hamming"),
])
def test_rep_level_output_schema(spark, dedup_docs, tmp_path, entry, value):
    """Rep-level outputs (expand_exact_dups=False) carry exactly the
    documented pair columns; the rep-group keys stay internal."""
    from tetrex_spark.lineage import CheckpointedDedup, CheckpointedSimhashDedup
    from tetrex_spark.operators.dedup import minhash_lsh_pairs, simhash_pairs

    d = str(tmp_path / "ckpt")
    run = {
        "minhash_lsh_pairs": lambda: minhash_lsh_pairs(
            dedup_docs, k=3, threshold=0.7, expand_exact_dups=False),
        "simhash_pairs": lambda: simhash_pairs(
            dedup_docs, n_blocks=4, expand_exact_dups=False),
        "CheckpointedDedup": lambda: CheckpointedDedup(
            d, threshold=0.7, n_chunks=2).run(dedup_docs, expand_exact_dups=False),
        "CheckpointedSimhashDedup": lambda: CheckpointedSimhashDedup(
            d, n_blocks=4, n_chunks=2).run(dedup_docs, expand_exact_dups=False),
    }[entry]
    out = run()
    assert out.columns == ["id_a", "id_b", value]
    assert out.count() > 0
