"""D-gram (track) index: gap probes tighten candidates without losing
recall; CLI surface goldens."""

import re

import numpy as np
from pyspark.sql import functions as F
import pytest

from tetrex_spark.functions.text import corpus_text_series
from tetrex_spark.plans.planner import MotifIndex
from tetrex_spark.sources.corpus import webtext_small


@pytest.fixture(scope="module")
def tracked(spark, tmp_path_factory):
    corpus = webtext_small(spark)
    path = str(tmp_path_factory.mktemp("idx_dg"))
    idx = MotifIndex.build(corpus, path, n_bins=16, k=3)
    idx = idx.track(corpus, path, min_gap=1, max_gap=12)
    pdf = corpus.toPandas()
    pdf["norm"] = corpus_text_series(pdf["text"], pdf["html"])
    return corpus, idx, pdf


def test_dgram_loaded(tracked):
    _, idx, _ = tracked
    assert idx.dgram is not None
    assert idx.dgram.min_gap == 1 and idx.dgram.max_gap == 12
    assert len(idx.dgram.matrices) == 12


GAP_PATTERNS = ["w.{2}ld", "data.{2,6}merge", "merge.{1,4}index", "z.{3}yva"]


@pytest.mark.parametrize("pattern", GAP_PATTERNS)
def test_gap_queries_hit_set_equality(tracked, pattern):
    corpus, idx, pdf = tracked
    rx = re.compile(pattern, re.IGNORECASE)
    truth = set()
    for url, doc in zip(pdf["url"], pdf["norm"]):
        for m in rx.finditer(doc):
            truth.add((url, m.group(0), m.start(), m.end()))
    got = {
        (r["url"], r["match"], r["start"], r["end"])
        for r in idx.query(corpus, pattern).collect()
    }
    assert got == truth


def test_dgram_tightens_candidates(tracked, spark, tmp_path_factory):
    """The same query without the d-gram index must give a candidate set
    that is a superset of the tracked one (gap probes only remove bins)."""
    corpus, idx, pdf = tracked
    untracked = MotifIndex(idx.bloom, idx.manifest, idx.k, idx.alphabet, dgram=None)
    for pattern in GAP_PATTERNS:
        with_dg = set(idx.candidate_bins(pattern).bin_ids())
        without = set(untracked.candidate_bins(pattern).bin_ids())
        assert with_dg <= without
    # and for at least one pattern it strictly prunes on this corpus
    strict = any(
        set(idx.candidate_bins(p).bin_ids()) < set(untracked.candidate_bins(p).bin_ids())
        for p in GAP_PATTERNS
    )
    assert strict, "d-gram index never pruned anything"


def test_track_rejects_mismatched_bins(spark, tmp_path):
    """A d-gram build with a different modulus than the index manifest
    would AND mis-mapped bin vectors into query paths (silent recall
    loss) — it must raise instead."""
    from tetrex_spark.plans.dgram import build_dgram_index
    from tetrex_spark.sources.corpus import motif_mini

    corpus = motif_mini(spark)
    path = str(tmp_path / "idx_mm")
    MotifIndex.build(corpus, path, n_bins=2, k=3)
    with pytest.raises(ValueError, match="n_bins"):
        build_dgram_index(corpus, path, n_bins=4)


def test_gap0_tracked_min_gap_zero(spark, tmp_path):
    """min_gap=0 support: a '.{0,2}' gap (gap set {0,1,2}) only prunes when
    gap-0 d-grams are tracked; hit-set equality must hold either way."""
    corpus = webtext_small(spark)
    path = str(tmp_path / "idx_g0")
    idx = MotifIndex.build(corpus, path, n_bins=16, k=3)
    idx = idx.track(corpus, path, min_gap=0, max_gap=4)
    assert 0 in idx.dgram.matrices
    pattern = "w.{0,2}ld"
    rx = re.compile(pattern, re.IGNORECASE)
    pdf = corpus.toPandas()
    pdf["norm"] = corpus_text_series(pdf["text"], pdf["html"])
    truth = set()
    for url, doc in zip(pdf["url"], pdf["norm"]):
        for m in rx.finditer(doc):
            truth.add((url, m.group(0)))
    got = {(r["url"], r["match"]) for r in idx.query(corpus, pattern).collect()}
    assert got == truth
    # the probe is constrained (not all-ones) now that gap 0 is in range
    untracked = MotifIndex(idx.bloom, idx.manifest, idx.k, idx.alphabet, dgram=None)
    assert set(idx.candidate_bins(pattern).bin_ids()) <= set(
        untracked.candidate_bins(pattern).bin_ids()
    )


def _assert_same_index(got, loaded):
    """Same manifest, alphabet, char Bloom matrix and d-gram matrices."""
    assert got.manifest == loaded.manifest
    assert (got.k, got.alphabet) == (loaded.k, loaded.alphabet)

    def matrix(bm):
        return bm.n_bins, bm.m_bits, bm.n_hashes, bm.matrix.tobytes()

    assert matrix(got.bloom) == matrix(loaded.bloom)
    if loaded.dgram is None:
        assert got.dgram is None
        return
    assert (got.dgram.min_gap, got.dgram.max_gap, got.dgram.seed) == (
        loaded.dgram.min_gap, loaded.dgram.max_gap, loaded.dgram.seed)
    assert sorted(got.dgram.matrices) == sorted(loaded.dgram.matrices)
    for gap, bm in loaded.dgram.matrices.items():
        assert matrix(got.dgram.matrices[gap]) == matrix(bm), gap


@pytest.mark.parametrize("mode", ["plain", "salted", "prebinned"])
def test_built_and_tracked_index_equal_loaded(spark, tmp_path, mode):
    """build() and track() return the index they wrote without reading it
    back: it equals MotifIndex.load of the same directory, and both Bloom
    families are sized by the JVM sizing bound (k=4 keeps the char-kgram
    and PAD-gram bounds apart)."""
    from tetrex_spark.kernel.bloom import bloom_m_bits
    from tetrex_spark.operators.sketch_build import max_bin_cardinality
    from tetrex_spark.plans.dgram import PAD
    from tetrex_spark.sources.corpus import with_bin_id

    corpus = webtext_small(spark)
    kw = {}
    if mode == "salted":
        kw = {"salt_hot_hosts": "auto", "hot_factor": 2.0}
    elif mode == "prebinned":
        corpus = with_bin_id(corpus, 16)
    path = str(tmp_path / mode)
    built = MotifIndex.build(corpus, path, n_bins=16, k=4, **kw)
    assert bool(built.manifest["salted_hosts"]) == (mode == "salted")
    _assert_same_index(built, MotifIndex.load(spark, path))
    tracked = built.track(corpus, path, min_gap=1, max_gap=3, fpr=0.1)
    assert tracked.bloom is built.bloom
    _assert_same_index(tracked, MotifIndex.load(spark, path))

    binned = built._binned(corpus, 16)
    assert built.bloom.m_bits == bloom_m_bits(
        max_bin_cardinality(binned, "char_kgram", 4), 0.05)
    assert {bm.m_bits for bm in tracked.dgram.matrices.values()} == {
        bloom_m_bits(max_bin_cardinality(binned, "char_kgram", PAD), 0.1)}


def test_track_refuses_index_without_pad_gram_bound(spark, tmp_path):
    """An index whose manifest predates the recorded PAD-gram bound must
    be rebuilt: track() raises instead of sizing the d-grams itself, and
    appends nothing."""
    import json

    from tetrex_spark.sources.corpus import motif_mini

    corpus = motif_mini(spark)
    path = str(tmp_path / "idx_old")
    MotifIndex.build(corpus, path, n_bins=2, k=3)
    with open(f"{path}/manifest.json") as f:
        manifest = json.load(f)
    del manifest["max_bin_pad_grams"]
    with open(f"{path}/manifest.json", "w") as f:
        json.dump(manifest, f)
    old = MotifIndex.load(spark, path)
    with pytest.raises(ValueError, match="rebuild"):
        old.track(corpus, path, min_gap=1, max_gap=2)
    assert MotifIndex.load(spark, path).dgram is None


# -- CLI ---------------------------------------------------------------------


def test_cli_index_query_inspect(spark, tmp_path, capsys):
    from tetrex_spark.cli import main
    from tetrex_spark.sources.corpus import motif_mini

    corpus_path = str(tmp_path / "corpus")
    motif_mini(spark).write.parquet(corpus_path)
    idx_path = str(tmp_path / "idx")

    rc = main(["index", "--corpus", corpus_path, "--output", idx_path,
               "--bins", "2", "--k", "3"])
    out = capsys.readouterr().out
    assert rc == 0
    # reference golden shape: 'Indexed 4 sequences across 2 bins.'
    assert "Indexed 4 documents across 2 bins." in out

    rc = main(["query", "--index", idx_path, "--corpus", corpus_path,
               "--regex", "AC+G"])
    out = capsys.readouterr().out
    assert rc == 0
    lines = sorted(l for l in out.splitlines() if "\t" in l)
    assert lines == [
        "http://bin1.example/snippet1.1\taccg\t1,5",
        "http://bin1.example/snippet1.2\tacg\t1,4",
    ]

    rc = main(["inspect", "--index", idx_path])
    out = capsys.readouterr().out
    assert rc == 0
    assert "char_bloom" in out and '"n_bins": 2' in out


def test_cli_regex_file(spark, tmp_path, capsys):
    from tetrex_spark.cli import main
    from tetrex_spark.sources.corpus import motif_mini

    corpus_path = str(tmp_path / "corpus2")
    motif_mini(spark).write.parquet(corpus_path)
    idx_path = str(tmp_path / "idx2")
    main(["index", "--corpus", corpus_path, "--output", idx_path, "--bins", "2"])
    capsys.readouterr()
    qfile = tmp_path / "queries.tsv"
    qfile.write_text("q1\tAC+G\nq2\tTTCC\n")
    rc = main(["query", "--index", idx_path, "--corpus", corpus_path,
               "--regex-file", str(qfile)])
    out = capsys.readouterr().out
    assert rc == 0
    assert "accg" in out and "ttcc" in out


def test_cli_analyze_writes_gate_tables(spark, tmp_path, capsys):
    from tetrex_spark.cli import main
    from tetrex_spark.sources.corpus import webtext_small

    corpus_path = str(tmp_path / "corpus")
    webtext_small(spark).write.parquet(corpus_path)
    out_dir = str(tmp_path / "gates")
    rc = main(["analyze", "--corpus", corpus_path, "--output", out_dir,
               "--gates", "quality,hosts"])
    assert rc == 0
    n_docs = webtext_small(spark).count()
    q = spark.read.parquet(f"{out_dir}/quality")
    assert q.count() == n_docs and "keep" in q.columns
    h = spark.read.parquet(f"{out_dir}/hosts")
    assert h.count() == 8  # webtext_small has 8 hosts
    import pytest as _pt
    with _pt.raises(SystemExit):
        main(["analyze", "--corpus", corpus_path, "--output", out_dir,
              "--gates", "nope"])


def test_cli_dedup_resumable_keep_list(spark, tmp_path, capsys):
    """`tetrex_spark dedup`: checkpointed pairs + CC keep-list; a second
    invocation resumes (no stage re-execution) and rewrites identical
    outputs."""
    import json

    from tetrex_spark.cli import main
    from tetrex_spark.sources.corpus import webtext_small

    corpus_path = str(tmp_path / "corpus")
    corpus = webtext_small(spark)
    # plant an exact duplicate pair so the keep-list has a decision to make
    dup = corpus.limit(1).withColumn(
        "url", F.concat(F.col("url"), F.lit("-copy"))
    )
    corpus.unionByName(dup).write.parquet(corpus_path)
    out_dir = str(tmp_path / "dedup_out")
    rc = main(["dedup", "--corpus", corpus_path, "--output", out_dir,
               "--threshold", "0.7", "--chunks", "4"])
    assert rc == 0
    keep = spark.read.parquet(f"{out_dir}/keep")
    n = keep.count()
    assert n == 65  # 64 docs + the planted copy
    assert keep.filter("keep = 1").count() < n  # the copy was dropped
    pairs1 = {
        tuple(r) for r in spark.read.parquet(f"{out_dir}/pairs").collect()
    }
    # second run resumes: same outputs, no new stage commits
    lineage_path = f"{out_dir}/_checkpoint/lineage.jsonl"
    n_commits = sum(1 for _ in open(lineage_path))
    rc = main(["dedup", "--corpus", corpus_path, "--output", out_dir,
               "--threshold", "0.7", "--chunks", "4"])
    assert rc == 0
    assert sum(1 for _ in open(lineage_path)) == n_commits
    pairs2 = {
        tuple(r) for r in spark.read.parquet(f"{out_dir}/pairs").collect()
    }
    assert pairs1 == pairs2


def test_cli_regex_file_duplicate_qids_not_dropped(spark, tmp_path, capsys):
    """Repeated query ids in a TSV file must not silently drop earlier
    lines (they are disambiguated, every line queried)."""
    from tetrex_spark.cli import main
    from tetrex_spark.sources.corpus import motif_mini

    corpus_path = str(tmp_path / "corpus3")
    motif_mini(spark).write.parquet(corpus_path)
    idx_path = str(tmp_path / "idx3")
    main(["index", "--corpus", corpus_path, "--output", idx_path, "--bins", "2"])
    capsys.readouterr()
    qfile = tmp_path / "dup_queries.tsv"
    qfile.write_text("q1\tAC+G\nq1\tTTCC\n")
    rc = main(["query", "--index", idx_path, "--corpus", corpus_path,
               "--regex-file", str(qfile)])
    out = capsys.readouterr().out
    assert rc == 0
    qids = {l.split("\t")[0] for l in out.splitlines() if "\t" in l}
    assert qids == {"q1", "q1#2"}
    assert "accg" in out and "ttcc" in out


def test_cli_dedup_simhash_method(spark, tmp_path):
    """`dedup --method simhash` routes through CheckpointedSimhashDedup:
    pairs carry hamming, the keep-list drops the planted exact copy, and
    a re-run resumes without new stage commits."""
    from tetrex_spark.cli import main
    from tetrex_spark.sources.corpus import webtext_small

    corpus_path = str(tmp_path / "corpus_sh")
    corpus = webtext_small(spark)
    dup = corpus.limit(1).withColumn(
        "url", F.concat(F.col("url"), F.lit("-copy"))
    )
    corpus.unionByName(dup).write.parquet(corpus_path)
    out_dir = str(tmp_path / "dedup_sh_out")
    rc = main(["dedup", "--corpus", corpus_path, "--output", out_dir,
               "--method", "simhash", "--chunks", "4"])
    assert rc == 0
    pairs = spark.read.parquet(f"{out_dir}/pairs")
    assert "hamming" in pairs.columns and pairs.count() >= 1
    keep = spark.read.parquet(f"{out_dir}/keep")
    assert keep.count() == 65 and keep.filter("keep = 1").count() < 65
    lineage_path = f"{out_dir}/_checkpoint/lineage.jsonl"
    n_commits = sum(1 for _ in open(lineage_path))
    assert main(["dedup", "--corpus", corpus_path, "--output", out_dir,
                 "--method", "simhash", "--chunks", "4"]) == 0
    assert sum(1 for _ in open(lineage_path)) == n_commits


def test_cli_embdedup_keep_list(spark, tmp_path):
    """`embdedup`: hyperplane-LSH + packed-BLAS verify over an embeddings
    table through CheckpointedCosineDedup; planted near-dup twins are
    clustered and dropped; resume adds no stage commits."""
    import numpy as np

    from tetrex_spark.cli import main

    rng = np.random.default_rng(5)
    base = rng.standard_normal((40, 16))
    rows = [(i, base[i].tolist()) for i in range(40)]
    for i in range(6):  # near-dup twins of vectors 0..5
        rows.append((100 + i, (base[i] + 0.01).tolist()))
    emb_path = str(tmp_path / "emb")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).write.parquet(emb_path)
    out_dir = str(tmp_path / "embdedup_out")
    rc = main(["embdedup", "--corpus", emb_path, "--output", out_dir,
               "--threshold", "0.9", "--chunks", "4"])
    assert rc == 0
    pairs = spark.read.parquet(f"{out_dir}/pairs")
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert {(i, 100 + i) for i in range(6)} <= got
    keep = spark.read.parquet(f"{out_dir}/keep")
    assert keep.count() == 46
    # each twin pair keeps exactly one member
    assert keep.filter("keep = 1").count() == 40
    lineage_path = f"{out_dir}/_checkpoint/lineage.jsonl"
    n_commits = sum(1 for _ in open(lineage_path))
    assert main(["embdedup", "--corpus", emb_path, "--output", out_dir,
                 "--threshold", "0.9", "--chunks", "4"]) == 0
    assert sum(1 for _ in open(lineage_path)) == n_commits


def test_cli_track_without_motif_index_sizes_itself(spark, tmp_path, capsys):
    """CLI `track` into a directory with no motif manifest builds a
    stand-alone d-gram index and sizes it with its own aggregate."""
    from tetrex_spark.cli import main
    from tetrex_spark.kernel.bloom import bloom_m_bits
    from tetrex_spark.operators.sketch_build import max_bin_cardinality
    from tetrex_spark.plans.dgram import PAD
    from tetrex_spark.sources.corpus import with_bin_id
    from tetrex_spark.sources.sketch_store import read_manifest

    corpus = webtext_small(spark)
    corpus_path = str(tmp_path / "corpus")
    corpus.write.parquet(corpus_path)
    out = str(tmp_path / "dg_only")
    rc = main(["track", "--corpus", corpus_path, "--output", out,
               "--bins", "4", "--min-gap", "1", "--max-gap", "2"])
    assert rc == 0
    assert "across 4 bins" in capsys.readouterr().out
    cfg = read_manifest(out)["dgram"]
    assert (cfg["min_gap"], cfg["max_gap"]) == (1, 2)
    stored = spark.read.parquet(corpus_path)
    assert cfg["m_bits"] == bloom_m_bits(
        max_bin_cardinality(with_bin_id(stored, 4), "char_kgram", PAD), 0.05)
