"""Eager-job budgets for the LSH dedup family and the motif index
build/track (the fixed per-call job count dominates toy-scale cost —
count it, budget it, and fail on regression).

Spark jobs are counted per job group via the status tracker. With AQE on
every materialized exchange is its own job, so the counts are
plan-shaped and deterministic for a fixed Spark version: a regression
(an extra eager checkpoint, a lost cache causing a second kernel pass, a
new uncached scan) shows up as a count jump well past the slack.
"""

import pytest
from pyspark.sql import functions as F  # noqa: F401


@pytest.fixture(scope="module")
def corpus(spark):
    rows = []
    for i in range(60):
        rows.append((i, f"shared boilerplate text block number {i % 7} "
                        "with cookies notice and more filler words here"))
    for i in range(60, 200):
        rows.append((i, f"unique document {i} about engine internals "
                        f"{i * 17} partition shuffle topic {i % 13}"))
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup(group, group)
    out = fn()
    sc.setJobGroup(None, None)
    return out, len(tracker.getJobIdsForGroup(group) or [])


def test_minhash_lsh_pairs_job_budget(spark, corpus):
    from tetrex_spark.operators.dedup import minhash_lsh_pairs

    corpus.count()
    df, n_construct = _jobs(
        spark, "mh-construct", lambda: minhash_lsh_pairs(corpus, threshold=0.8)
    )
    # r5 plan: ONE kernel checkpoint + ONE fused rep_pairs/elig/members
    # checkpoint + the cap-stats finisher ( + AQE stage jobs inside each)
    assert n_construct <= 18, f"minhash construction ran {n_construct} jobs"
    # the member-level expansion must be cache-only: no text re-scan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FileScan" not in plan and "Scan parquet" not in plan
    _, n_count = _jobs(spark, "mh-count", lambda: df.count())
    assert n_count <= 16, f"minhash count ran {n_count} jobs"


def test_simhash_pairs_job_budget(spark, corpus):
    from tetrex_spark.operators.dedup import simhash_pairs

    corpus.count()
    df, n_construct = _jobs(
        spark, "sh-construct", lambda: simhash_pairs(corpus, max_hamming=3)
    )
    # r5 plan: fingerprint checkpoint whose materializing count IS the
    # adaptive-width probe (one job where r4 paid two) + rep-pair
    # checkpoint with the fingerprint riding the bucket rows (NO verify
    # joins, no broadcast) + cap-stats finisher
    assert n_construct <= 17, f"simhash construction ran {n_construct} jobs"
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FileScan" not in plan and "Scan parquet" not in plan
    _, n_count = _jobs(spark, "sh-count", lambda: df.count())
    assert n_count <= 13, f"simhash count ran {n_count} jobs"


def test_minhash_lsh_edges_job_budget(spark, corpus):
    """The in-session keep-list input: rep-level pairs plus star edges,
    read from the same two checkpoints as the pair list."""
    from tetrex_spark.operators.dedup import minhash_lsh_edges

    corpus.count()
    df, n_construct = _jobs(
        spark, "mhe-construct", lambda: minhash_lsh_edges(corpus, threshold=0.8)
    )
    # kernel checkpoint + fused rep_pairs/members checkpoint + cap-stats
    # finisher (+ AQE stage jobs inside each); 15 at 4 cores
    assert n_construct <= 18, f"minhash edges construction ran {n_construct} jobs"
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FileScan" not in plan and "Scan parquet" not in plan
    _, n_count = _jobs(spark, "mhe-count", lambda: df.count())
    assert n_count <= 6, f"minhash edges count ran {n_count} jobs"


@pytest.fixture(scope="module")
def web(spark):
    from tetrex_spark.sources.corpus import webtext_small

    return webtext_small(spark).cache()


def test_motif_index_build_job_budget(spark, web, tmp_path):
    """Hot-host detection + ONE sizing aggregate + ONE kernel pass whose
    persisted output is collected and written once (no read-back)."""
    from tetrex_spark.plans.planner import MotifIndex

    web.count()
    _, n_build = _jobs(spark, "motif-build", lambda: MotifIndex.build(
        web, str(tmp_path / "idx"), n_bins=16, k=3,
        salt_hot_hosts="auto", hot_factor=2.0))
    # 11 at 4 cores
    assert n_build <= 14, f"motif index build ran {n_build} jobs"


def test_motif_track_job_budget(spark, web, tmp_path):
    """No sizing aggregate (the bound is in the manifest) + ONE kernel
    pass over every gap, appended from its persisted output."""
    from tetrex_spark.plans.planner import MotifIndex

    path = str(tmp_path / "idx")
    idx = MotifIndex.build(web, path, n_bins=16, k=3,
                           salt_hot_hosts="auto", hot_factor=2.0)
    _, n_track = _jobs(spark, "motif-track", lambda: idx.track(
        web, path, min_gap=1, max_gap=3))
    # 4 at 4 cores
    assert n_track <= 7, f"motif track ran {n_track} jobs"
