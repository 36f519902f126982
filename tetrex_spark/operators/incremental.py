"""Incremental (cross-corpus) exact dedup: gate a NEW crawl increment
against a FROZEN reference corpus without rescanning the reference.

The reference's core architecture — approximate-membership prefilter,
then exact verification of the survivors (IBF probe → bin re-scan,
/root/reference/include/index_ibf.h:88-99 + query verification) —
applied to the training-data problem it fits best: at 10^12 reference
docs you cannot afford an anti-join of every new crawl against the full
corpus, but a one-time membership index makes the recurring gate cost
proportional to the INCREMENT, not the corpus:

  build (once per corpus freeze):
    hash every doc's normalized text to (h, h2) = two independent
    xxhash64s, route to `n_buckets` by pmod(h), and write
      <dir>/hashes   (bucket, h, h2) distinct, PARTITIONED BY bucket
                     (16 B/doc — the corpus text is never stored)
      <dir>/blooms   one kernel BloomFilter per bucket, sized to the
                     bucket's own key count at `fpr`
                     (kernel/bloom.py — same sizing rule as the
                     reference's per-bin filters)
      <dir>/params.json  normalization + layout guard

  gate (per increment):
    1. hash + route the increment the same way: ONE shuffle of the
       increment only; the reference is untouched.
    2. cogrouped Bloom probe: each bucket's filter is deserialized once
       per task and probed vectorized against that bucket's increment
       rows. "Definitely new" rows (no Bloom hit — no false negatives)
       exit here, which at realistic dup rates is almost everything.
    3. confirm the survivors: semi-join on (bucket, h, h2) against the
       hashes table, read with an explicit bucket IN (...) partition
       filter so only candidate buckets' files are scanned. Bloom false
       positives die here, making the gate EXACT (up to the 2^-128
       double-hash collision, documented below).

  Scale knobs: `n_buckets` bounds per-task memory (a bucket's filter +
  its increment rows are held by one cogroup task — size n_buckets so a
  bucket's hashes ≈ tens of MB; 10^12 docs at fpr 1e-2 ≈ 1.2 TB of
  filter total, fine across 10k buckets / 1000 executors, never on one
  node). The only driver-side data is the candidate bucket-id list
  (bounded by n_buckets, a config — same justification as
  lsh_bucket_stats).

Equality is hash equality on (h, h2): 128 independent bits per
normalized text, so a false "duplicate" verdict needs a double xxhash64
collision (~2^-128) — the price of never storing corpus text in the
index. Within-increment duplicates are NOT collapsed here (both copies
are "new" if absent from the reference); compose with exact_dedup for
intra-increment dedup.
"""

from __future__ import annotations

import json
import os
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..kernel.bloom import BloomFilter, bloom_m_bits
from .dedup import band_buckets, dup_groups, minhash_sig_table, norm_col

LAYOUT_VERSION = 1
NORM_VERSION = 1  # the norm_col / normalize_series convention

_BLOOM_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType()),
        T.StructField("m_bits", T.LongType()),
        T.StructField("n_hashes", T.IntegerType()),
        T.StructField("n_keys", T.LongType()),
        T.StructField("payload", T.BinaryType()),
    ]
)


def _hashed(df: DataFrame, n_buckets: int, text_col: str, id_col: str) -> DataFrame:
    """(id, h, h2, bucket): two independent xxhash64s of the normalized
    text (the second seeded by a literal tag column), bucket routed by
    pmod(h). Pure JVM; stays inside the scan's codegen stage."""
    norm = norm_col(text_col)
    return df.select(
        F.col(id_col),
        F.xxhash64(norm).alias("h"),
        F.xxhash64(norm, F.lit("memb2")).alias("h2"),
        F.pmod(F.xxhash64(norm), F.lit(n_buckets)).cast("int").alias("bucket"),
    )


def _drop_checkpoint(df: DataFrame) -> None:
    """Free a localCheckpoint's blocks now rather than when the frame is
    garbage-collected (its plan is a LogicalRDD over the persisted RDD).
    Only for frames no returned plan reads."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(False)


def _write_concurrently(sc, *writes) -> None:
    """Run independent index writes as concurrent Spark jobs: the second
    write's tasks back-fill executors freed by the first's tail instead
    of waiting for it. When one write fails, the jobs its siblings are
    running are cancelled (every write tags its jobs) and the first
    error re-raises once every write has stopped."""
    import uuid
    from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait

    tag = f"tetrex-index-write-{uuid.uuid4().hex}"

    def run(write) -> None:
        sc.addJobTag(tag)
        try:
            write()
        finally:
            sc.removeJobTag(tag)

    with ThreadPoolExecutor(max_workers=len(writes)) as pool:
        futs = [pool.submit(run, w) for w in writes]
        done, _ = wait(futs, return_when=FIRST_EXCEPTION)
        err = next((f.exception() for f in done if f.exception()), None)
        if err is not None:
            sc.cancelJobsWithTag(tag)
    if err is not None:
        raise err


def build_membership_index(
    df: DataFrame,
    out_dir: str,
    *,
    n_buckets: int = 64,
    fpr: float = 0.01,
    n_hashes: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict:
    """Freeze `df` into a membership index at `out_dir` (see module
    doc). Returns {n_buckets, n_keys, mean_fill} stats. One shuffle of
    the 16 B/doc hash projection; the text column never leaves the
    scan stage."""
    # ONE materialized pass: distinct + repartition ON bucket (so each
    # bucket dir is one file, not one-per-upstream-task — the rows are
    # 16 B, the extra shuffle is cheap; the gate's pruned confirm reads
    # open few). The hashes write, the Bloom build and the stats all
    # read this checkpoint; nothing re-reads the files just written.
    hashes = (
        _hashed(df, n_buckets, text_col, id_col)
        .select("bucket", "h", "h2")
        .distinct()
        .repartition(F.col("bucket"))
        .localCheckpoint(eager=True)
    )

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        keys = pdf["h"].to_numpy(dtype="int64").view(np.uint64)
        bf = BloomFilter(bloom_m_bits(len(keys), fpr), n_hashes)
        bf.update(keys)
        return pd.DataFrame(
            {
                "bucket": [int(pdf["bucket"].iat[0])],
                "m_bits": [bf.m_bits],
                "n_hashes": [n_hashes],
                "n_keys": [len(keys)],
                "payload": [bf.bits.tobytes()],
            }
        )

    blooms = hashes.groupBy("bucket").applyInPandas(build, _BLOOM_SCHEMA).persist()
    # the checkpoint and the persisted bloom rows are released on every
    # exit, a failed write included
    try:
        _write_concurrently(
            df.sparkSession.sparkContext,
            lambda: hashes.write.mode("overwrite").partitionBy("bucket")
            .parquet(f"{out_dir}/hashes"),
            lambda: blooms.write.mode("overwrite").parquet(f"{out_dir}/blooms"),
        )
        stats = blooms.agg(
            F.sum("n_keys").alias("n_keys"),
            F.count(F.lit(1)).alias("n_filled_buckets"),
        ).collect()[0]
    finally:
        blooms.unpersist()
        _drop_checkpoint(hashes)
    params = {
        "_layout": LAYOUT_VERSION,
        "kind": "membership",
        "norm_version": NORM_VERSION,
        "n_buckets": n_buckets,
        "fpr": fpr,
        "n_hashes": n_hashes,
        "n_keys": int(stats["n_keys"] or 0),
    }
    with open(os.path.join(out_dir, "params.json"), "w") as f:
        json.dump(params, f, indent=2, sort_keys=True)
    return {
        "n_buckets": n_buckets,
        "n_keys": params["n_keys"],
        "n_filled_buckets": int(stats["n_filled_buckets"]),
    }


def _read_params(index_dir: str, kind: str = "membership") -> dict:
    with open(os.path.join(index_dir, "params.json")) as f:
        params = json.load(f)
    if params.get("kind", "membership") != kind:
        raise ValueError(
            f"index at {index_dir} is a {params.get('kind')!r} index, "
            f"this operator needs a {kind!r} index"
        )
    if params.get("_layout") != LAYOUT_VERSION:
        raise ValueError(
            f"membership index at {index_dir} has layout "
            f"{params.get('_layout')}, this version reads layout "
            f"{LAYOUT_VERSION} — rebuild the index"
        )
    if params.get("norm_version") != NORM_VERSION:
        raise ValueError(
            f"membership index at {index_dir} was built with text "
            f"normalization v{params.get('norm_version')}, this version "
            f"hashes v{NORM_VERSION} — probes would silently miss; "
            "rebuild the index"
        )
    return params


def incremental_exact_dedup(
    increment: DataFrame,
    index_dir: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id_col, is_new): for every increment row, whether its normalized
    text is ABSENT from the frozen reference corpus behind `index_dir`
    (see module doc for the probe → confirm plan). Exact: Bloom false
    positives are confirmed away against the stored hashes; false
    negatives are impossible."""
    spark = increment.sparkSession
    params = _read_params(index_dir)
    n_buckets = int(params["n_buckets"])

    inc = _hashed(increment, n_buckets, text_col, id_col)
    blooms = spark.read.parquet(f"{index_dir}/blooms")

    out_schema = T.StructType(
        [
            increment.schema[id_col],
            T.StructField("h", T.LongType()),
            T.StructField("h2", T.LongType()),
            T.StructField("bucket", T.IntegerType()),
            T.StructField("maybe_dup", T.BooleanType()),
        ]
    )

    def probe(inc_pdf: pd.DataFrame, bloom_pdf: pd.DataFrame) -> pd.DataFrame:
        if inc_pdf.empty:
            return pd.DataFrame(
                {
                    id_col: pd.Series(dtype=inc_pdf[id_col].dtype),
                    "h": pd.Series(dtype="int64"),
                    "h2": pd.Series(dtype="int64"),
                    "bucket": pd.Series(dtype="int32"),
                    "maybe_dup": pd.Series(dtype=bool),
                }
            )
        if bloom_pdf.empty:
            # reference has no keys in this bucket: definitely new
            hit = np.zeros(len(inc_pdf), dtype=bool)
        else:
            row = bloom_pdf.iloc[0]
            bf = BloomFilter(
                int(row["m_bits"]),
                int(row["n_hashes"]),
                bits=np.frombuffer(row["payload"], dtype=np.uint8),
            )
            hit = bf.contains(
                inc_pdf["h"].to_numpy(dtype="int64").view(np.uint64)
            )
        return pd.DataFrame(
            {
                id_col: inc_pdf[id_col],
                "h": inc_pdf["h"],
                "h2": inc_pdf["h2"],
                "bucket": inc_pdf["bucket"],
                "maybe_dup": hit,
            }
        )

    probed = (
        inc.groupBy("bucket")
        .cogroup(blooms.groupBy("bucket"))
        .applyInPandas(probe, out_schema)
        .localCheckpoint(eager=True)  # one pass; reused by 3 consumers
    )

    cand = probed.filter("maybe_dup")
    # candidate bucket list: bounded by n_buckets (a config), so the
    # collect is driver-tiny by construction — it buys a LITERAL
    # partition filter on the hashes read (real file pruning, which a
    # join key alone would only get via best-effort DPP).
    cand_buckets = [int(r["bucket"]) for r in cand.select("bucket").distinct().collect()]
    if cand_buckets:
        hashes = spark.read.parquet(f"{index_dir}/hashes").filter(
            F.col("bucket").isin(cand_buckets)
        )
        confirmed = cand.join(hashes, ["bucket", "h", "h2"], "left_semi")
    else:
        confirmed = cand.limit(0)
    dup_ids = confirmed.select(id_col)
    return (
        probed.select(id_col)
        .join(dup_ids.withColumn("__dup", F.lit(True)), id_col, "left")
        .select(F.col(id_col), F.coalesce(F.col("__dup"), F.lit(False)).alias("is_dup"))
        .select(F.col(id_col), (~F.col("is_dup")).alias("is_new"))
    )


# -- near-dup gate (MinHash LSH against a frozen corpus) -----------------
#
# Same freeze-once / gate-per-increment shape as the exact gate, one
# level up the similarity ladder: the frozen side is the corpus's
# MinHash band-bucket table plus its shingle sets (both sharded for
# partition pruning), and the gate blocks increment docs against the
# stored buckets, then exact-Jaccard-verifies candidates only. Gate
# cost is proportional to the increment + its candidates; the reference
# corpus text is never read at gate time (sets live in the index).


def _sshard(id_expr, n_shards: int):
    return F.pmod(F.xxhash64(id_expr), F.lit(n_shards)).cast("int")


def build_neardup_index(
    df: DataFrame,
    out_dir: str,
    *,
    threshold: float = 0.8,
    k: int = 3,
    num_perm: int = 128,
    bands: int = 32,
    n_shards: int | None = None,
    max_bucket: int | None = 512,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict:
    """Freeze `df`'s MinHash LSH state at `out_dir`:

      <dir>/buckets  (shard, band, bh, id) partitioned by shard —
                     the band-bucket membership of every representative
      <dir>/sets     (sshard, id, s) partitioned by sshard — the sorted
                     shingle-hash set the verify step needs
      <dir>/params.json  banding + normalization + layout guard

    Exact-duplicate texts are pre-collapsed to one representative (min
    id) before signing — the boilerplate-cluster killer from the batch
    path (minhash_lsh_pairs step 1); a dup of ANY copy is a dup of the
    representative, so the gate verdict is unchanged. Buckets larger
    than `max_bucket` representatives are dropped with their count
    recorded in params (same trade, and the same visibility, as the
    batch capped_candidate_pairs). num_perm/bands (default 32x4) give
    recall ~1-5e-8 at jaccard >= 0.8."""
    # ONE kernel pass over the exact-dup representatives: the buckets
    # write (and its over-cap anti-join branch), the sets write and the
    # counts all read this checkpoint
    _, reps = dup_groups(df, text_col, id_col)
    ss = minhash_sig_table(reps, k, num_perm, bands, "txt", "id").localCheckpoint(
        eager=True
    )
    over = None
    try:
        n_reps = ss.count()
        if n_shards is None:
            # scale-adaptive sharding: ~100k representatives per shard
            # (sets dominate at ~1-2 KB/rep -> shard files land in the
            # 100-300 MB range), so a toy corpus does not pay many-tiny-
            # file overhead on every pruned gate read and a 10^9-rep
            # corpus still gets real pruning granularity. Recorded in
            # params, so gates never depend on the default.
            n_shards = max(4, min(4096, -(-n_reps // 100_000)))
        buckets = band_buckets(ss, bands, None)
        if max_bucket:
            # persisted: the anti-join AND the n_dropped stat read the
            # (tiny, <= n*bands/max_bucket rows) over-cap list
            over = (
                buckets.groupBy("band", "bh").count()
                .filter(F.col("count") > max_bucket).persist()
            )
            buckets = buckets.join(
                over.select("band", "bh"), ["band", "bh"], "left_anti"
            )
        # repartition ON the partition column before each partitioned
        # write, so every shard is one file (not tasks x shards tiny
        # files) and the gate's pruned reads open few
        _write_concurrently(
            df.sparkSession.sparkContext,
            lambda: buckets.withColumn("shard", _sshard(F.col("bh"), n_shards))
            .repartition(F.col("shard")).write.mode("overwrite")
            .partitionBy("shard").parquet(f"{out_dir}/buckets"),
            lambda: ss.select(
                _sshard(F.col("id"), n_shards).alias("sshard"), "id", "s"
            ).repartition(F.col("sshard")).write.mode("overwrite")
            .partitionBy("sshard").parquet(f"{out_dir}/sets"),
        )
        n_dropped = int(over.count()) if over is not None else 0
    finally:
        if over is not None:
            over.unpersist()
        _drop_checkpoint(ss)
    params = {
        "_layout": LAYOUT_VERSION,
        "kind": "neardup",
        "norm_version": NORM_VERSION,
        "threshold": threshold,
        "k": k,
        "num_perm": num_perm,
        "bands": bands,
        "n_shards": n_shards,
        "max_bucket": max_bucket,
        "n_reps": n_reps,
        "n_dropped_buckets": n_dropped,
    }
    with open(os.path.join(out_dir, "params.json"), "w") as f:
        json.dump(params, f, indent=2, sort_keys=True)
    return {"n_reps": n_reps, "n_dropped_buckets": n_dropped}


def incremental_neardup_pairs(
    increment: DataFrame,
    index_dir: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id_col, ref_id, jaccard): every frozen-corpus representative
    within the index's Jaccard threshold of an increment doc. The
    increment is signed in one Arrow pass; its band keys join the
    stored buckets (read under a literal shard IN (...) partition
    filter — a small delta touches few shards); candidate (inc, ref)
    pairs are exact-verified against the stored sets, read pruned the
    same way. Only the bounded shard-id lists (≤ n_shards, a config)
    ever reach the driver."""
    spark = increment.sparkSession
    params = _read_params(index_dir, kind="neardup")
    bands = int(params["bands"])
    n_shards, threshold = int(params["n_shards"]), float(params["threshold"])
    # one kernel pass; blocking and verify both read the checkpoint
    inc_ss = minhash_sig_table(
        increment, int(params["k"]), int(params["num_perm"]), bands,
        text_col, id_col,
    ).localCheckpoint(eager=True)
    inc_b = band_buckets(inc_ss, bands, None).withColumn(
        "shard", _sshard(F.col("bh"), n_shards)
    )
    shards = [int(x["shard"]) for x in inc_b.select("shard").distinct().collect()]
    if not shards:
        return spark.createDataFrame(
            [], f"{id_col} long, ref_id long, jaccard double"
        )
    ref_b = (
        spark.read.parquet(f"{index_dir}/buckets")
        .filter(F.col("shard").isin(shards))
        .select("band", "bh", F.col("id").alias("ref_id"))
    )
    cand = (
        inc_b.select("band", "bh", F.col("id").alias("__iid"))
        .join(ref_b, ["band", "bh"])
        .select("__iid", "ref_id")
        .distinct()
        .localCheckpoint(eager=True)  # reused: shard collect + verify join
    )
    sshards = [
        int(x["s"]) for x in
        cand.select(_sshard(F.col("ref_id"), n_shards).alias("s")).distinct().collect()
    ]
    if not sshards:
        return spark.createDataFrame(
            [], f"{id_col} long, ref_id long, jaccard double"
        )
    ref_sets = (
        spark.read.parquet(f"{index_dir}/sets")
        .filter(F.col("sshard").isin(sshards))
        .select(F.col("id").alias("ref_id"), F.col("s").alias("s_b"))
    )
    inc_sets = inc_ss.select(F.col("id").alias("__iid"), F.col("s").alias("s_a"))
    inter = F.size(F.array_intersect("s_a", "s_b"))
    # cand is checkpointed (exact size stats), so AQE broadcasts it when
    # the delta is small — a FORCED broadcast would be an executor-memory
    # ceiling when a corpus-sized increment is gated (many candidates)
    return (
        cand.join(inc_sets, "__iid").join(ref_sets, "ref_id")
        .withColumn("jaccard", inter / (F.size("s_a") + F.size("s_b") - inter))
        .filter(F.col("jaccard") >= threshold)
        .select(
            F.col("__iid").alias(id_col),
            "ref_id",
            F.round("jaccard", 6).alias("jaccard"),
        )
    )


def incremental_neardup_gate(
    increment: DataFrame,
    index_dir: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id_col, is_new): whether each increment doc has NO frozen-corpus
    doc within the index's Jaccard threshold. Docs with fewer than k
    tokens have no signature and cannot match — they are new (same
    convention as the batch LSH path, which emits no row for them)."""
    pairs = incremental_neardup_pairs(
        increment, index_dir, text_col=text_col, id_col=id_col
    )
    matched = pairs.select(F.col(id_col)).distinct()
    return (
        increment.select(id_col)
        .join(matched.withColumn("__m", F.lit(True)), id_col, "left")
        .select(F.col(id_col), F.col("__m").isNull().alias("is_new"))
    )
