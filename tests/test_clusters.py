"""connected_components (large-star/small-star) vs brute-force
union-find on random graphs, chains (multi-round convergence), and the
dedup_keep_list join semantics."""

import random

import pytest
from pyspark.sql import functions as F

from tetrex_spark.operators.clusters import (
    connected_components,
    dedup_keep_list,
)


def _union_find(nodes, edges):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # component = min reachable id
    return {n: find(n) for n in nodes}


def _check(spark, edges):
    nodes = sorted({x for e in edges for x in e})
    truth = _union_find(nodes, edges)
    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges], "id_a long, id_b long"
    )
    got = {
        r.id: r.component
        for r in connected_components(pairs).collect()
    }
    assert got == truth


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_random_graphs_match_union_find(spark, seed):
    rng = random.Random(seed)
    nodes = list(range(40))
    edges = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(35)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    _check(spark, edges)


def test_long_chain_converges(spark):
    # a 120-node path: worst-case diameter, exercises the O(log n) rounds
    edges = [(i, i + 1) for i in range(120)]
    _check(spark, edges)


def test_two_components_and_duplicate_edges(spark):
    edges = [(5, 3), (3, 9), (9, 5), (20, 21), (21, 20), (20, 21)]
    _check(spark, edges)


def test_keep_list_covers_unpaired_docs(spark):
    docs = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 4), (4, 6), (2, 7)], "id_a long, id_b long"
    )
    out = {r.id: (r.component, r.keep) for r in dedup_keep_list(docs, pairs).collect()}
    assert out == {
        0: (0, 1), 1: (1, 1), 2: (2, 1), 3: (3, 1),
        4: (1, 0), 5: (5, 1), 6: (1, 0), 7: (2, 0),
    }
    # exactly one keeper per component
    keep = dedup_keep_list(docs, pairs)
    per = keep.groupBy("component").agg(F.sum("keep").alias("k")).collect()
    assert all(r.k == 1 for r in per)


def test_minhash_edges_components_equal_pair_components(spark):
    """minhash_lsh_edges (rep pairs + member->rep stars, LINEAR) must
    yield the same connected components as the full member-level pair
    list (quadratic in dup-cluster sizes) — including on the skewed
    boilerplate shape, and excluding shingle-ineligible groups."""
    from tetrex_spark.operators.clusters import connected_components
    from tetrex_spark.operators.dedup import minhash_lsh_edges, minhash_lsh_pairs

    boiler = ("this site uses cookies to improve your experience accept "
              "all cookies to continue reading the page")
    rows = [(i, boiler) for i in range(300)]
    near = boiler.split(); near[-1] = "content"
    rows.append((5000, " ".join(near)))
    for j in range(7):
        rows.append((6000 + j,
                     f"unrelated document {j} about columnar engines {j}"))
    # a shingle-INELIGIBLE exact-dup group (< 3 tokens): no pairs at all
    rows.append((7000, "too short"))
    rows.append((7001, "too short"))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def comps(pairs):
        c = connected_components(pairs).collect()
        return {r["id"]: r["component"] for r in c}

    got = comps(minhash_lsh_edges(df, k=3, threshold=0.7))
    want = comps(minhash_lsh_pairs(df, k=3, threshold=0.7))
    assert got == want
    # the boilerplate cluster + near-dup all collapse to component 0
    assert want and all(want[i] == 0 for i in list(range(300)) + [5000])
    assert 7000 not in want and 7001 not in want  # ineligible: no edges
    # and the edge list is linear, not quadratic: 300-copy cluster
    # contributes 299 star edges, not C(300,2) pairs
    n_edges = minhash_lsh_edges(df, k=3, threshold=0.7).count()
    assert n_edges <= 310


def test_simhash_edges_components_equal_pair_components(spark):
    """simhash_edges_from_fingerprints (rep pairs + stars) yields the
    same components as the member-level simhash pair list, with a linear
    edge count on a skewed identical-fingerprint cluster."""
    from tetrex_spark.operators.clusters import connected_components
    from tetrex_spark.operators.dedup import (
        simhash_edges_from_fingerprints,
        simhash_pairs_from_fingerprints,
    )

    base = 0x0123456789ABCDEF
    rows = [(i, base) for i in range(400)]          # 400-copy cluster
    rows.append((5000, base ^ 0b101))               # hamming-2 neighbor
    rows.append((6000, -1))                         # isolated
    rows.append((7000, 0x7EDCBA9876543210))
    rows.append((7001, 0x7EDCBA9876543210 ^ 0b1))   # small pair
    sh = spark.createDataFrame(rows, "id long, simhash long")

    def comps(pairs):
        return {
            r["id"]: r["component"]
            for r in connected_components(pairs).collect()
        }

    got = comps(simhash_edges_from_fingerprints(sh, n_blocks=4))
    want = comps(simhash_pairs_from_fingerprints(sh, n_blocks=4))
    assert got == want
    assert all(want[i] == 0 for i in list(range(400)) + [5000])
    assert want[7001] == 7000 and 6000 not in want
    n_edges = simhash_edges_from_fingerprints(sh, n_blocks=4).count()
    assert n_edges <= 402  # 399 stars + cross pair + small pair


def test_cc_rewrap_fallback_on_poisoned_checkpoint_input(spark):
    """connected_components must survive the Spark 4.1 AQE quirk where a
    union whose attribute-defining branch is a checkpointed frame makes
    derived localCheckpoints fail to re-plan (NoSuchElementException):
    the round loop's re-wrap fallback mints fresh attributes and
    completes. Constructed here with the checkpointed branch FIRST (the
    shape minhash_lsh_edges deliberately avoids)."""
    from pyspark.sql import functions as F

    from tetrex_spark.operators.clusters import connected_components
    from tetrex_spark.operators.dedup import _minhash_rep_level

    boiler = ("this site uses cookies to improve your experience accept "
              "all cookies to continue reading the page")
    rows = [(i, boiler) for i in range(50)]
    rows += [(6000 + j, f"unrelated doc {j} about columnar engines {j}")
             for j in range(7)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    docs, rep_pairs, elig_rg = _minhash_rep_level(
        df, 3, 128, 32, 0.7, "text", "doc_id", 512, with_groups=True,
    )
    members = docs.select("grp", "id")
    rg = members.groupBy("grp").agg(
        F.min("id").alias("rid"), F.count(F.lit(1)).alias("csize")
    )
    eg = rg.filter(F.col("csize") > 1).join(elig_rg.select("rid"), "rid")
    star = (
        members.join(eg.select("grp", "rid"), "grp")
        .where(F.col("id") != F.col("rid"))
        .select(F.col("rid").alias("id_a"), F.col("id").alias("id_b"))
    )
    poisoned = rep_pairs.select("id_a", "id_b").unionByName(star)
    comp = {
        r["id"]: r["component"]
        for r in connected_components(poisoned).collect()
    }
    assert comp and all(comp[i] == 0 for i in range(50))
