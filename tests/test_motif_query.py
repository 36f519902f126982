"""End-to-end motif queries on Spark: index build -> candidate bins ->
pruned verify, checked for hit-set EQUALITY against a full-scan Python
`re` oracle (FIXTURES.md §6) — the reference's correctness bar
(test/cli/kbioreg_test.cpp golden hit-sets), exceeded with properties."""

import re

import pytest

from tetrex_spark.functions.text import corpus_text_series
from tetrex_spark.plans.planner import MotifIndex
from tetrex_spark.sources.corpus import motif_mini, motif_split5, webtext_small


def oracle_hits(pdf, pattern):
    """(url, match, start, end) via plain re over every normalized doc."""
    rx = re.compile(pattern, re.IGNORECASE)
    out = set()
    for url, doc in zip(pdf["url"], pdf["norm"]):
        for m in rx.finditer(doc):
            out.add((url, m.group(0), m.start(), m.end()))
    return out


def spark_hits(df):
    return {(r["url"], r["match"], r["start"], r["end"]) for r in df.collect()}


@pytest.fixture(scope="module")
def mini(spark, tmp_path_factory):
    corpus = motif_mini(spark)
    path = str(tmp_path_factory.mktemp("idx_mini"))
    idx = MotifIndex.build(corpus, path, n_bins=2, k=3)
    pdf = corpus.toPandas()
    pdf["norm"] = corpus_text_series(pdf["text"], pdf["html"])
    return corpus, idx, pdf


@pytest.fixture(scope="module")
def split5(spark, tmp_path_factory):
    corpus = motif_split5(spark)
    path = str(tmp_path_factory.mktemp("idx_split5"))
    idx = MotifIndex.build(corpus, path, n_bins=5, k=3)
    pdf = corpus.toPandas()
    pdf["norm"] = corpus_text_series(pdf["text"], pdf["html"])
    return corpus, idx, pdf


@pytest.fixture(scope="module")
def webtext(spark, tmp_path_factory):
    corpus = webtext_small(spark)
    path = str(tmp_path_factory.mktemp("idx_web"))
    idx = MotifIndex.build(corpus, path, n_bins=16, k=3)
    pdf = corpus.toPandas()
    pdf["norm"] = corpus_text_series(pdf["text"], pdf["html"])
    return corpus, idx, pdf


def test_reference_golden_acg(mini):
    """kbioreg_test.cpp:71-79: 'AC+G' -> Snippet1.1 ACCG, Snippet1.2 ACG."""
    corpus, idx, pdf = mini
    hits = spark_hits(idx.query(corpus, "AC+G"))
    assert hits == {
        ("http://bin1.example/snippet1.1", "accg", 1, 5),
        ("http://bin1.example/snippet1.2", "acg", 1, 4),
    }
    # candidate pruning really happened: bin2 excluded
    cand = idx.candidate_bins("AC+G")
    assert len(cand.bin_ids()) < 2 or not cand.full_scan


def test_reference_golden_split5(split5):
    """README.md:44-51: 'A(C+|G+)T' hits s1, s2, s4."""
    corpus, idx, pdf = split5
    hits = spark_hits(idx.query(corpus, "A(C+|G+)T"))
    assert hits == oracle_hits(pdf, "a(c+|g+)t")
    assert {u for (u, _, _, _) in hits} == {
        "http://s1.example/",
        "http://s2.example/",
        "http://s4.example/",
    }


WEB_PATTERNS = [
    "zyzzyva",
    "wor",
    "w.{2}ld",
    "approximate membership query",
    "filter (window|merge)",
    "qu+ery",
    "sp?ark",
    "data .{0,5}stream",
]


@pytest.mark.parametrize("pattern", WEB_PATTERNS)
def test_webtext_hit_set_equality(webtext, pattern):
    corpus, idx, pdf = webtext
    assert spark_hits(idx.query(corpus, pattern)) == oracle_hits(pdf, pattern)


def test_webtext_candidate_superset_and_pruning(webtext):
    corpus, idx, pdf = webtext
    res = idx.candidate_bins("approximate membership query")
    # superset of true bins
    from tetrex_spark.sources.corpus import with_bin_id

    binned = with_bin_id(corpus, 16).toPandas()
    pdf2 = pdf.merge(binned[["url"]].assign(bin_id=binned["bin_id"]), on="url")
    truth = set(pdf2[pdf2["norm"].str.contains("approximate membership query")]["bin_id"])
    assert truth <= set(res.bin_ids())
    # and it actually prunes (planted in 5 docs across <= 5 hosts of 16 bins)
    assert len(res.bin_ids()) < 16


def test_conjunctive_multi_motif(webtext):
    corpus, idx, pdf = webtext
    pats = ["zyzzyva", "filter"]
    urls = {r["url"] for r in idx.query_all(corpus, pats).collect()}
    truth = {
        u
        for u, d in zip(pdf["url"], pdf["norm"])
        if all(re.search(p, d) for p in pats)
    }
    assert urls == truth


def test_html_extraction_docs_are_searchable(webtext):
    """Docs with text=NULL must be found via the html extraction path."""
    corpus, idx, pdf = webtext
    null_urls = set(pdf[pdf["text"].isna()]["url"])
    assert null_urls
    # pick a token present in one of the html docs
    doc = pdf[pdf["text"].isna()].iloc[0]
    token = doc["norm"].split()[1]
    hits = {u for (u, _, _, _) in spark_hits(idx.query(corpus, token))}
    assert doc["url"] in hits


def test_salted_build_identical_hits_and_spread(spark, tmp_path, webtext):
    """MotifIndex.build(salt_hot_hosts='auto') on the skewed webtext
    corpus (h0 owns half the docs): the hot host is detected, recorded in
    the manifest, spread over multiple bins — and every query's hit set
    is byte-identical to the unsalted index (salted shards are ordinary
    bins; queries need zero caller involvement)."""
    from tetrex_spark.sources.corpus import with_bin_id

    corpus, idx_plain, pdf = webtext
    path = str(tmp_path / "idx_salted")
    idx = MotifIndex.build(
        corpus, path, n_bins=16, k=3, salt_hot_hosts="auto", hot_factor=2.0
    )
    assert idx.manifest["salted_hosts"] == ["h0.example"]
    # the hot host's docs really spread over > 1 bin now
    binned = with_bin_id(
        corpus, 16, salt_hot_hosts=idx.manifest["salted_hosts"],
        n_salt=idx.manifest["n_salt"],
    ).toPandas()
    h0_bins = set(binned[binned["url"].str.contains("//h0.example")]["bin_id"])
    assert len(h0_bins) > 1
    unsalted = with_bin_id(corpus, 16).toPandas()
    h0_before = set(unsalted[unsalted["url"].str.contains("//h0.example")]["bin_id"])
    assert len(h0_before) == 1
    # identical hit sets across patterns, salted index loaded fresh
    idx2 = MotifIndex.load(spark, path)
    for pattern in WEB_PATTERNS[:4]:
        assert spark_hits(idx2.query(corpus, pattern)) == oracle_hits(pdf, pattern)


def test_manifest_alphabet_is_exactly_the_indexed_chars(webtext):
    """The manifest alphabet comes from the build's own kernel pass: it is
    exactly the set of characters of the extracted, normalized text the
    Bloom indexed — html-only docs included — so dot-expansion ranges
    over a sound closed alphabet with no spurious probes."""
    corpus, idx, pdf = webtext
    want = set("".join(corpus_text_series(pdf["text"], pdf["html"])))
    assert idx.manifest["alphabet"] == "".join(sorted(want))
    assert idx.alphabet == idx.manifest["alphabet"]
    html_only = set("".join(pdf[pdf["text"].isna()]["norm"]))
    assert html_only and html_only <= set(idx.alphabet)


def test_query_many_equals_sequential(webtext):
    """Batched multi-pattern query (one pruned scan, per-pattern bin
    gating) returns exactly the per-pattern sequential hit sets."""
    corpus, idx, pdf = webtext
    pats = {f"q{i}": p for i, p in enumerate(WEB_PATTERNS[:5])}
    got = {}
    for r in idx.query_many(corpus, pats).collect():
        got.setdefault(r["query_id"], set()).add(
            (r["url"], r["match"], r["start"], r["end"])
        )
    for qid, p in pats.items():
        assert got.get(qid, set()) == oracle_hits(pdf, p.lower()), (qid, p)


def test_salt_refused_on_prebinned_corpus(spark, tmp_path):
    """Recording a salt that was never applied to a pre-binned corpus
    would silently re-bin hot hosts at query time (false negatives) —
    build must refuse instead."""
    from tetrex_spark.sources.corpus import with_bin_id

    corpus = with_bin_id(webtext_small(spark), 16)
    with pytest.raises(ValueError, match="salt_hot_hosts"):
        MotifIndex.build(
            corpus, str(tmp_path / "idx"), n_bins=16, k=3,
            salt_hot_hosts="auto",
        )


def test_query_many_is_single_scan(webtext):
    """The batched plan reads the corpus ONCE: exactly one scan node for
    N patterns (the whole point vs N sequential query() jobs)."""
    import contextlib
    import io

    corpus, idx, pdf = webtext
    out = idx.query_many(corpus, {p: p for p in WEB_PATTERNS[:4]})
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    import re as _re

    # the formatted plan prints each node in the tree AND the detail
    # section; count unique "(N) Scan" detail headers
    scans = _re.findall(r"^\(\d+\) Scan", plan, flags=_re.M)
    assert len(scans) == 1, plan


def test_salted_index_gap_query_consistent(spark, tmp_path, webtext):
    """track() on a salted index bins d-grams with the manifest's salted
    assignment — gap queries prune the same bins the grams were indexed
    under (hit sets equal the full-scan oracle)."""
    corpus, _, pdf = webtext
    path = str(tmp_path / "idx_salted_gap")
    idx = MotifIndex.build(
        corpus, path, n_bins=16, k=3, salt_hot_hosts="auto", hot_factor=2.0
    )
    assert idx.manifest["salted_hosts"]
    idx = idx.track(corpus, path, min_gap=0, max_gap=6)
    pattern = "data .{0,5}stream"
    assert spark_hits(idx.query(corpus, pattern)) == oracle_hits(pdf, pattern)


def test_bin_filter_and_projection_reach_parquet_scan(spark, tmp_path, webtext):
    """Scan-level evidence for the two scale claims the pruned verify
    makes: (1) the candidate-bin `isin` predicate is PUSHED into the
    parquet scan (PushedFilters: In(bin_id, ...)), (2) a projection that
    needs only (url, text) prunes the ReadSchema to those columns — the
    scan never decodes the rest of a wide corpus row."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from tetrex_spark.operators.verify import prune_to_bins
    from tetrex_spark.sources.corpus import with_bin_id

    corpus, _, _ = webtext
    p = str(tmp_path / "binned_corpus")
    with_bin_id(corpus, 16).write.mode("overwrite").parquet(p)
    stored = spark.read.parquet(p)
    pruned = prune_to_bins(stored, [1, 3, 5], 16).select("url", "text")

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pruned.explain("formatted")
    plan = buf.getvalue()
    import re as _re

    m = _re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "In(bin_id" in m.group(1), plan
    rs = _re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert rs is not None, plan
    read_cols = {c.split(":")[0] for c in rs.group(1).split(",") if c}
    assert read_cols == {"url", "text", "bin_id"}, read_cols
    # and the full-scan fallback (every bin a candidate) skips the filter
    assert prune_to_bins(stored, list(range(16)), 16) is stored


def test_grouped_pattern_prefilter_emits_no_warning():
    """A pattern with a group (e.g. 'qu(e|a)ry') must not make the verify
    prefilter emit pandas' match-groups UserWarning once per Arrow batch;
    the matches are unchanged."""
    import warnings

    import pandas as pd

    from tetrex_spark.operators.verify import _verify_batches

    batch = pd.DataFrame({"url": ["u1", "u2"], "text": ["A Quary here", "nothing"]})
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = pd.concat(list(_verify_batches("qu(e|a)ry", "url", False)(iter([batch]))))
    assert not [w for w in caught if issubclass(w.category, UserWarning)]
    assert out.values.tolist() == [["u1", "quary", 2, 7]]
