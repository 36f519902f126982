"""Deduplication operators for training-data pipelines — exact, MinHash
LSH, SimHash, and exact n-gram Jaccard.

Not present in the reference (TetRex answers membership, not similarity)
but required by the graft: the same shingle machinery that feeds the
Bloom index feeds these. Scale design:

  - candidate generation is 100% JVM expressions (split / transform /
    xxhash64 / min-agg): whole-stage-codegen, no Python in the hot path;
  - the only O(corpus) shuffles are groupBy(doc) over shingle hashes
    (map-side combined) and the band-bucket self-join, whose build side
    is (doc, band_hash) rows — tiny next to the corpus;
  - exact Jaccard verification touches only LSH candidate pairs, which
    is the filter-then-verify architecture of the reference
    (include/query.h:265-281) transplanted to similarity.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

NORM = "lower(trim(regexp_replace({c}, '\\\\s+', ' ')))"


def norm_col(c: str):
    """JVM-side normalization, equal to functions.text.normalize_series
    for already-single-spaced input (tested for agreement)."""
    return F.expr(NORM.format(c=c))


def tokens_col(c: str):
    return F.split(norm_col(c), " ")


def _spread(df: DataFrame, per_core_bytes: int = 8 << 20) -> DataFrame:
    """Give a SMALL input enough partitions to use every core for a
    Python-kernel mapInPandas pass. A toy/sf corpus often arrives as one
    parquet file (one input split), and AQE coalesces small shuffle
    outputs to one partition — either way the kernel serializes on a
    single core. Gate on Catalyst's size estimate, not partition count:
    the estimate is known without running anything, while an AQE plan's
    runtime partition count is not. Inputs estimated above
    per_core_bytes * defaultParallelism (≈256 MB at 32 cores) already
    have enough splits — at production scale this is a no-op, and when
    it does fire the round-robin shuffle moves only the small frame it
    measured."""
    sc = df.sparkSession.sparkContext
    try:
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # stats unavailable — leave the plan alone
        return df
    if est < per_core_bytes * sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df


def _compact(
    df: DataFrame, sizer: DataFrame | None = None,
    bytes_per_part: int = 64 << 20,
) -> DataFrame:
    """Right-size a frame about to be checkpointed and re-read by many
    downstream stages: a union of several 32-partition branches carries
    ~100 near-empty partitions at toy scale, and every consuming stage
    then schedules ~100 near-empty tasks — pure job-floor overhead. Uses
    Catalyst's size estimate to coalesce (never shuffle) toward
    `bytes_per_part` partitions with a floor of defaultParallelism/4, so
    a genuinely large frame keeps its partition count at scale. `sizer`
    supplies the frame to ESTIMATE when df's own plan contains joins
    (whose multiplicative row estimates make sizeInBytes useless) — pick
    the scan-derived branch that dominates the real output size."""
    sc = df.sparkSession.sparkContext
    try:
        est = int(
            (sizer if sizer is not None else df)
            ._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return df
    floor = max(1, sc.defaultParallelism // 4)
    # cap keeps the value a valid Java int; a huge (or unknown =
    # Long.Max) estimate lands at the cap, where coalesce() is a no-op
    # because the plan has fewer partitions than that anyway
    target = int(max(floor, min(-(-est // bytes_per_part), 1 << 20)))
    return df.coalesce(target)


def shingles_col(c: str, k: int):
    """Array of token k-shingle strings (JVM transform over slice).

    The token array is bound ONCE via a single-element-array transform
    (a Catalyst 'let'): a higher-order-function lambda body re-evaluates
    any captured OUTER expression per element, so referencing the
    tokenizer (split+regexp_replace) inside the window lambda re-ran it
    for every shingle — O(tokens^2) normalize work per doc (measured
    8.7x wall on the distinct-shingles scan). A lambda variable is an
    already-evaluated value, so every reference to `ts` below is free."""
    return F.get(
        F.transform(
            F.array(tokens_col(c)),
            lambda ts: F.when(
                F.size(ts) < k, F.array().cast("array<string>")
            ).otherwise(
                F.transform(
                    F.sequence(F.lit(1), F.size(ts) - F.lit(k - 1)),
                    lambda i: F.concat_ws(" ", F.slice(ts, i, k)),
                )
            ),
        ),
        0,
    )


# -- exact ---------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct normalized text with
    the kept (minimum) id and the duplicate count."""
    return (
        df.select(F.col(id_col), norm_col(text_col).alias("norm_text"))
        .groupBy("norm_text")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


# -- exact n-gram jaccard (the oracle-able base) ---------------------------


def jaccard_pairs_exact(
    df: DataFrame, k: int = 3, threshold: float = 0.8,
    text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """All-pairs exact k-shingle Jaccard >= threshold via a shingle
    equi-join (scales as sum of shingle-bucket squares — use the LSH
    variant for big corpora; this one is the correctness oracle)."""
    ds = (
        df.select(F.col(id_col).alias("id"), F.explode(shingles_col(text_col, k)).alias("g"))
        .distinct()
    )
    sizes = ds.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    a, b = ds.alias("a"), ds.alias("b")
    inter = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n").alias("nb"))
    return (
        inter.join(sa, "id_a").join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


# -- minhash + LSH ----------------------------------------------------------


_MH_GOLDEN = np.uint64(0x9E3779B97F4A7C15)

_SIGSET_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("sig", T.ArrayType(T.LongType(), False), False),
        T.StructField("s", T.ArrayType(T.LongType(), False), False),
    ]
)


def minhash_sigs_and_sets(
    df: DataFrame, k: int = 3, num_perm: int = 128,
    text_col: str = "text", id_col: str = "doc_id",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """(id, sig, s): MinHash signature AND sorted distinct shingle-hash set
    from ONE tokenize+hash pass (the LSH blocking and its exact verify used
    to be two full corpus scans; `_BatchDerived`-style fusion halves the
    scan cost). Docs with fewer than k tokens emit no row.

    Each doc's row is computed where the doc lives — the shingle stream
    never shuffles (an earlier 64-column groupBy-min formulation also paid
    seconds of Janino codegen for the 64-aggregate plan). Each permutation
    is an independent splitmix64 re-mix of the kernel shingle hash:
    g_i(x) = splitmix64(x ^ seed_i). (A cheaper h1 + i*h2 double-hash is
    NOT sound here: minima across i track the lower envelope of lines, so
    the permutations are strongly correlated and band-match counts get fat
    tails — observed as whole near-dup pairs missed at jaccard 0.71.)

    `passthrough` names extra input columns copied verbatim onto each
    output row: a caller whose downstream plan needs per-rep metadata
    (the rep-group key and member count) reads it from the ONE
    materialized kernel table instead of re-scanning/re-aggregating the
    corpus in a separate plan branch."""
    from ..functions.text import normalize_series, token_shingle_hashes_series
    from ..kernel.hashing import splitmix64

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            text = normalize_series(pdf[text_col])
            sh, counts = token_shingle_hashes_series(text, k)
            valid = counts > 0
            if sh.size == 0 or not valid.any():
                continue
            seeds = splitmix64(
                np.arange(1, num_perm + 1, dtype=np.uint64) * _MH_GOLDEN
            )
            starts = np.zeros(len(counts), dtype=np.int64)
            np.cumsum(counts[:-1], out=starts[1:])
            vstarts = starts[valid]
            sig = np.empty((int(valid.sum()), num_perm), dtype=np.uint64)
            # in-place splitmix64 over two preallocated scratch buffers:
            # the expression form allocated ~2 stream-sized temporaries
            # per permutation (256 large mmaps per batch) — allocator +
            # DRAM traffic, not math, dominated this loop
            # (bit-identical; ~18% measured on the full-corpus stream)
            z = np.empty_like(sh)
            t = np.empty_like(sh)
            _G = np.uint64(0x9E3779B97F4A7C15)
            _C1 = np.uint64(0xBF58476D1CE4E5B9)
            _C2 = np.uint64(0x94D049BB133111EB)
            with np.errstate(over="ignore"):
                for i in range(num_perm):
                    np.bitwise_xor(sh, seeds[i], out=z)
                    z += _G
                    np.right_shift(z, np.uint64(30), out=t)
                    z ^= t
                    z *= _C1
                    np.right_shift(z, np.uint64(27), out=t)
                    z ^= t
                    z *= _C2
                    np.right_shift(z, np.uint64(31), out=t)
                    z ^= t
                    sig[:, i] = np.minimum.reduceat(z, vstarts)
            sets = [
                np.unique(sh[st : st + c]).view(np.int64)
                for st, c in zip(vstarts, counts[valid])
            ]
            out = {
                "id": pdf[id_col].to_numpy()[valid],
                "sig": list(sig.view(np.int64)),
                "s": sets,
            }
            for c in passthrough:
                out[c] = pdf[c].to_numpy()[valid]
            yield pd.DataFrame(out)

    schema = T.StructType(
        list(_SIGSET_SCHEMA)
        + [df.schema[c] for c in passthrough]
    )
    cols = [id_col, text_col, *passthrough]
    return _spread(df.select(*cols)).mapInPandas(fn, schema)


def band_hashes_col(bands: int, r: int, sig_col: str = "sig"):
    """array<long> of the `bands` band-bucket keys of a signature column
    — element b = xxhash64 of the band's signature slice."""
    return F.array(
        *[F.xxhash64(F.slice(sig_col, b * r + 1, r)) for b in range(bands)]
    )


def _rows_per_band(num_perm: int, bands: int) -> int:
    if num_perm % bands:
        raise ValueError(f"bands={bands} must divide num_perm={num_perm}")
    return num_perm // bands


def minhash_sig_table(
    df: DataFrame, k: int, num_perm: int, bands: int,
    text_col: str = "text", id_col: str = "doc_id",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """The one MinHash sig-table layout that every near-dup mode
    (in-session, staged, frozen-index) materializes and reads:
    (id, s, *passthrough, bhs) — the sorted shingle-hash set `s` for the
    exact verify and the `bands` band-bucket keys `bhs` for blocking,
    from ONE kernel pass. The num_perm-long signature is not kept:
    blocking is its only consumer, and the band keys are num_perm/bands
    times smaller. Raises ValueError unless bands divides num_perm. Lazy:
    the caller checkpoints or writes it."""
    r = _rows_per_band(num_perm, bands)
    return minhash_sigs_and_sets(
        df, k, num_perm, text_col, id_col, passthrough
    ).select("id", "s", *passthrough, band_hashes_col(bands, r).alias("bhs"))


def band_buckets(sig_df: DataFrame, bands: int, r: int) -> DataFrame:
    """(id, band, bh) rows from a signature table — one row per (doc, band),
    bucket key = xxhash64 of the band's signature slice (JVM-side). A
    table with stored band keys (`bhs`, see minhash_sig_table) is
    exploded directly, and every row must carry exactly `bands` keys:
    keys stored under another banding raise at read time (checked inside
    the explode projection — no extra job) instead of bucketing under the
    wrong plan. `r` is read only for a `sig` table."""
    if "bhs" in sig_df.columns:
        bhs = F.when(F.size("bhs") == bands, F.col("bhs")).otherwise(
            F.raise_error(F.format_string(
                f"stored bhs has %d band keys per row, expected bands={bands}",
                F.size("bhs"),
            ))
        )
    else:
        bhs = band_hashes_col(bands, r)
    return sig_df.select("id", F.posexplode(bhs).alias("band", "bh"))


def capped_candidate_pairs(
    buckets: DataFrame, max_bucket: int | None, *, log_drops: bool = True,
    release: list | None = None, payload_col: str | None = None,
    distinct: bool = True, persist_buckets: bool = True,
) -> DataFrame:
    """Distinct (id_a < id_b) candidate pairs from a (id, band, bh) bucket
    table, skipping buckets with more than `max_bucket` members.

    `payload_col` names an extra bucket column to carry through the
    self-join as `<payload>_a` / `<payload>_b` — for a FIXED-WIDTH
    verify key (the 8-byte simhash fingerprint) this removes the two
    verify joins entirely: the pair row arrives with both fingerprints
    attached, paying `bands * 8` extra bytes of bucket shuffle instead
    of a broadcast plus two join stages. (Do NOT use it for wide
    payloads — the MinHash shingle sets would multiply the shuffle by
    the band count; that family keeps the broadcast-join verify.)
    `distinct=False` skips the candidate dedup so a caller with a
    highly selective verify filter can dedup AFTER it, shuffling only
    surviving pairs. REQUIREMENT when payload_col is combined with
    distinct=True: the payload must be a FUNCTION OF THE IDS (one value
    per id, like the simhash fingerprint) — dropDuplicates keeps one
    arbitrary row per (id_a, id_b), so a many-valued payload (e.g. the
    substring family's per-anchor positions) would silently lose rows;
    such callers must pass distinct=False (as the substring family
    does).

    The cap bounds the self-join at B buckets x max_bucket^2 pairs instead
    of the unbounded sum of bucket-size squares (one pathological bucket of
    10^6 members is 5*10^11 pairs). Over-cap buckets are *whole-bucket*
    drops — a pair can still surface via its other bands — and are NEVER
    silent: with a cap active, the over-cap bucket list is computed as a
    size aggregate over the persisted bucket table and stays a
    DISTRIBUTED, persisted DataFrame end to end — the anti-join against
    it is part of the candidate plan (hinted, not forced, broadcast;
    tiny by construction, <= n*bands/max_bucket rows), and the warn-log
    scalars (count / member rows / largest) are read from its cache in a
    release finisher AFTER the caller materializes the pairs, so no
    eager job precedes the plan and nothing bucket-shaped ever reaches
    the driver. (An in-plan DataFrame.observe variant was tried first —
    zero extra jobs — but observed metrics do not propagate when the
    subtree executes inside the verify's BroadcastExchange, so the drops
    would go unreported on exactly the main path; and an earlier
    collect-and-reship-literal variant was a driver-memory hazard on
    pathological corpora.) With exact-dup pre-collapse
    upstream (see minhash_lsh_pairs) an over-cap bucket requires
    > max_bucket *distinct* texts colliding in one band — a genuine giant
    near-dup cluster, which the cap converts from a quadratic join into a
    bounded one.

    Cache-release contract: the bucket table is persisted for its plan
    branches; the unpersist finisher runs either through the caller's
    `release` list (callables invoked right after the caller materializes
    its result) or, with release=None, here after an eager
    localCheckpoint of the (bounded) candidate list."""
    capped = max_bucket is not None
    finishers: list = []
    if capped:
        import logging

        # persist_buckets=False: the caller's bucket table derives from
        # an already-materialized checkpoint by cheap JVM expressions
        # (explode + xxhash) — its plan branches (over-cap aggregate,
        # both self-join sides) re-derive it from cache faster than a
        # second cache tier's write+read, and ReuseExchange dedups the
        # self-join sides anyway. Keep the default for Python-derived
        # buckets (signature passes), where recomputation is a real
        # kernel re-run.
        if persist_buckets and not (
            buckets.storageLevel.useMemory or buckets.storageLevel.useDisk
        ):
            buckets = buckets.persist()
            finishers.append(buckets.unpersist)
        # The over-cap bucket list stays a DISTRIBUTED DataFrame end to end
        # (an earlier revision collected it to the driver to warn-log and
        # re-ship as a literal — O(n*bands/max_bucket) rows, a driver-memory
        # hazard on a pathological corpus at 1e10+ reps). The anti-join is
        # UNCONDITIONAL — with no over-cap buckets it is an anti-join
        # against an empty broadcast, a no-op — so no eager aggregate job
        # has to run before the candidate plan exists; the warn-log scalars
        # are read from the cached over-cap frame in a finisher AFTER the
        # caller materializes the pair plan (which is what populates the
        # cache), costing one tiny cached-aggregate job instead of a full
        # upstream execution. Hinted, not forced, broadcast: Spark may fall
        # back to a shuffled anti-join if the over list is ever large.
        over = (
            buckets.groupBy("band", "bh")
            .agg(F.count(F.lit(1)).alias("bc"))
            .filter(F.col("bc") > max_bucket)
            .persist()
        )
        buckets = buckets.join(
            over.select("band", "bh").hint("broadcast"),
            ["band", "bh"],
            "left_anti",
        )

        def _log_and_release(_over=over, _cap=max_bucket, _log=log_drops):
            if _log:
                stats = _over.agg(
                    F.count(F.lit(1)).alias("n_over"),
                    F.sum("bc").alias("rows_over"),
                    F.max("bc").alias("max_bc"),
                ).collect()[0]
                if stats["n_over"]:
                    logging.getLogger(__name__).warning(
                        "LSH bucket cap %d drops %d buckets (%d member rows;"
                        " largest %d); pairs in them surface only via other"
                        " bands",
                        _cap, int(stats["n_over"]), int(stats["rows_over"]),
                        int(stats["max_bc"]),
                    )
            _over.unpersist()

        finishers.append(_log_and_release)
    x, y = buckets.alias("x"), buckets.alias("y")
    cols = [F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b")]
    if payload_col:
        cols += [
            F.col(f"x.{payload_col}").alias(f"{payload_col}_a"),
            F.col(f"y.{payload_col}").alias(f"{payload_col}_b"),
        ]
    cand = x.join(
        y,
        (F.col("x.band") == F.col("y.band"))
        & (F.col("x.bh") == F.col("y.bh"))
        & (F.col("x.id") < F.col("y.id")),
    ).select(*cols)
    if distinct:
        # payload columns must be functions of the ids here (see the
        # docstring REQUIREMENT) — dedup on ids only
        cand = (
            cand.dropDuplicates(["id_a", "id_b"]) if payload_col
            else cand.distinct()
        )
    if finishers:
        if release is not None:
            release.extend(finishers)
        else:
            cand = cand.localCheckpoint(eager=True)
            for fin in finishers:
                fin()
    return cand


def lsh_bucket_stats(buckets: DataFrame, max_bucket: int) -> dict:
    """Eager bucket-skew report for the no-silent-caps rule: how many
    buckets (and member rows) exceed the cap. Run alongside (not inside)
    the pairs plan; logs and returns the counts."""
    import logging

    row = (
        buckets.groupBy("band", "bh")
        .agg(F.count(F.lit(1)).alias("bc"))
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum(F.when(F.col("bc") > max_bucket, 1).otherwise(0)).alias("n_over"),
            F.sum(F.when(F.col("bc") > max_bucket, F.col("bc")).otherwise(0)).alias("rows_over"),
            F.max("bc").alias("max_bucket_size"),
        )
        .collect()[0]
    )
    stats = {k: int(row[k] or 0) for k in
             ("n_buckets", "n_over", "rows_over", "max_bucket_size")}
    if stats["n_over"]:
        logging.getLogger(__name__).warning(
            "LSH bucket cap %d drops %d/%d buckets (%d member rows; largest %d)",
            max_bucket, stats["n_over"], stats["n_buckets"],
            stats["rows_over"], stats["max_bucket_size"],
        )
    return stats


def minhash_lsh_pairs(
    df: DataFrame, k: int = 3, num_perm: int = 128, bands: int = 32,
    threshold: float = 0.8, text_col: str = "text", id_col: str = "doc_id",
    max_bucket: int | None = 512, expand_exact_dups: bool = True,
) -> DataFrame:
    """Near-duplicate pairs via banded MinHash LSH + exact-Jaccard verify.

    bands x rows = num_perm; a pair collides in some band w.p.
    1-(1-j^r)^b — at the default (32x4) recall is ~0.99985 for j>=0.7
    and ~1-5e-8 for j>=0.8, and the exact verify removes all false
    positives, so the output equals the exact all-pairs result with
    overwhelming (deterministic-given-seed) probability.

    Scale shape (the boilerplate-cluster killer): web corpora carry
    exact-duplicate clusters of ~10^6 copies, which would put c copies in
    the SAME bucket of EVERY band (O(c^2) candidates x bands). So:

      1. exact-dup pre-collapse: group by md5(normalized text) — partial
         aggregation collapses copies map-side, so the shuffle carries one
         row per distinct text; LSH runs on group representatives only.
      2. ONE fused mapInPandas pass computes signature + shingle set per
         representative (persisted: blocking and verify both read it
         without recomputing the tokenize/hash kernel).
      3. band buckets are size-capped (see capped_candidate_pairs).
      4. verified representative pairs (tiny, broadcast) are expanded back
         to member pairs: cross-group pairs inherit the representatives'
         jaccard (identical normalized text => identical shingle set);
         intra-group pairs are exact duplicates => jaccard 1.0. With
         expand_exact_dups=False the expansion is skipped and the output
         is representative-level (at 10^12 docs you want the dup *groups*
         table plus rep-level near-dup pairs, not the quadratic pair list).

    md5 collision risk for the pre-collapse is ~n^2/2^128 — far below the
    shingle-hash collision tolerance minhash itself assumes. Output
    columns are exactly (id_a, id_b, jaccard) in both modes."""
    members, rep_pairs, rg = _minhash_rep_level(
        df, k, num_perm, bands, threshold, text_col, id_col, max_bucket,
        with_groups=expand_exact_dups,
    )
    if not expand_exact_dups:
        return rep_pairs.select("id_a", "id_b", "jaccard")
    # 5. expand representative pairs to member pairs (cache-only plan)
    return expand_rep_pairs(members, rep_pairs, rg)


def _minhash_rep_level(
    df, k, num_perm, bands, threshold, text_col, id_col, max_bucket,
    *, with_groups: bool,
):
    """Steps 1-4 of minhash_lsh_pairs (pre-collapse, fused sig+set pass,
    capped blocking, exact verify), shared with minhash_lsh_edges.
    Returns (members, rep_pairs, rg):

      rep_pairs  checkpointed (id_a, id_b, jaccard, grp_a, grp_b);
      members    (grp, id) for every document, checkpointed together
                 with rep_pairs, when with_groups, else None;
      rg         (grp, rid, csize), one row per shingle-eligible rep
                 group — a projection of the sig-table checkpoint (the
                 rep-group key and member count ride the kernel pass as
                 passthrough columns) when with_groups, else None.

    Job contract (budgeted in tests/test_job_budget.py): the kernel runs
    exactly once, in its own localCheckpoint that every branch reads;
    one more eager job materializes rep_pairs (+ members) in a single
    checkpoint; the cap-stats finisher adds one tiny cached-aggregate
    read. Anything built on the returned frames is a cache-only plan —
    the raw text is never re-scanned.

    Release contract: the sig-table checkpoint lives as long as the
    returned `rg` does (it is a projection of it), and the rep_pairs /
    members checkpoint as long as those frames; Spark's ContextCleaner
    frees each once its frames are garbage. With with_groups=False
    nothing returned references the sig table."""
    # 1. exact-dup pre-collapse (map-side combine does the heavy lifting)
    docs, reps = dup_groups(df, text_col, id_col)
    # 2. one fused kernel pass, checkpointed so the tokenize/hash kernel
    # cannot run twice: buckets, both verify sides and rg all read it
    ss = minhash_sig_table(
        reps, k, num_perm, bands, "txt", "id", passthrough=("grp", "csize")
    ).localCheckpoint(eager=True)
    # 3+4. capped blocking + exact verify on candidates only
    handles: list = []
    rp = verify_rep_pairs(
        ss, bands=bands, threshold=threshold, max_bucket=max_bucket,
        release=handles,
    )
    if with_groups:
        # verified pairs and per-doc membership in ONE checkpoint
        # (part-tagged union); rg needs no materializing of its own
        combined = (
            rp.withColumn("part", F.lit(0))
            .unionByName(
                docs.select(F.lit(1).alias("part"), "grp",
                            F.col("id").alias("id_a")),
                allowMissingColumns=True,
            )
            .transform(lambda u: _compact(u, sizer=docs.select("grp", "id")))
            .localCheckpoint(eager=True)
        )
        rep_pairs = combined.filter("part = 0").drop("part", "grp")
        members = combined.filter("part = 1").select(
            "grp", F.col("id_a").alias("id")
        )
        rg = ss.select("grp", F.col("id").alias("rid"), "csize")
    else:
        rep_pairs, members, rg = rp.localCheckpoint(eager=True), None, None
    for fin in handles:
        fin()
    return members, rep_pairs, rg


def minhash_lsh_edges(
    df: DataFrame, k: int = 3, num_perm: int = 128, bands: int = 32,
    threshold: float = 0.8, text_col: str = "text", id_col: str = "doc_id",
    max_bucket: int | None = 512,
) -> DataFrame:
    """(id_a, id_b) edge list whose connected components EQUAL those of
    minhash_lsh_pairs(df, ...): the rep-level near-dup pairs plus one
    member->representative star edge per exact duplicate (shingle-
    eligible groups only — groups whose text has < k tokens produce no
    pairs at all, matching the pair list's semantics).

    This is the input a clustering/keep-list pipeline should consume at
    scale: the member-level pair list is QUADRATIC in exact-dup cluster
    sizes (a 10^6-copy boilerplate cluster is 5*10^11 intra pairs), but
    connected components only need connectivity, and a star reaches the
    same components with ONE edge per member. Use with
    clusters.connected_components / dedup_keep_list; keep
    minhash_lsh_pairs for consumers that need the actual pair list with
    jaccard values."""
    members, rep_pairs, rg = _minhash_rep_level(
        df, k, num_perm, bands, threshold, text_col, id_col, max_bucket,
        with_groups=True,
    )
    # star branch FIRST: a union whose attribute-defining branch is a
    # checkpointed frame makes this Spark's AQE fail to re-plan derived
    # localCheckpoints downstream (NoSuchElementException: key not found
    # <attr>, e.g. in connected_components' round checkpoints); the star
    # side mints fresh attributes
    return _star_edges(members, rg.filter(F.col("csize") > 1)).unionByName(
        rep_pairs.select("id_a", "id_b")
    )


def dup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> tuple[DataFrame, DataFrame]:
    """(docs, reps): exact-dup pre-collapse by md5(normalized text).
    docs = (id, txt, grp); reps = one representative row per distinct
    text (min id, the text, the member count). Deterministic — the same
    derivation at any parallelism, which is what lets the checkpointed
    dedup pipeline (lineage.CheckpointedDedup) recompute it on resume."""
    docs = df.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("txt"),
        F.md5(norm_col(text_col)).alias("grp"),
    )
    reps = docs.groupBy("grp").agg(
        F.min("id").alias("id"),
        F.first("txt").alias("txt"),
        F.count(F.lit(1)).alias("csize"),
    )
    return docs, reps


def verify_rep_pairs(
    ss: DataFrame, *, bands: int, threshold: float,
    max_bucket: int | None, release: list | None = None,
) -> DataFrame:
    """Rep-level near-dup pairs (id_a, id_b, jaccard, grp_a, grp_b) from
    a minhash_sig_table with the `grp` passthrough: banded blocking
    (size-capped) then exact-Jaccard verify on candidates only — the
    reference's filter-then-verify (query.h:265-281) transplanted to
    similarity. The (tiny) candidate-pair side is broadcast into two
    map-side joins; jaccard is array_intersect arithmetic on the sets.
    The rep-group keys ride the verify joins, so the member-level
    expansion needs no rep-id -> group join. `release` forwards to
    capped_candidate_pairs (cache-release contract)."""
    # persist stays ON for the bucket table (default): even though ss
    # is checkpointed, the over-cap branch and both self-join sides
    # otherwise re-derive the explode per consumer — A/B at 50k docs
    # measured ~1 s slower end-to-end without the cache
    cand = capped_candidate_pairs(
        band_buckets(ss, bands, None), max_bucket, release=release
    )

    def side(x: str) -> DataFrame:
        return ss.select(
            *[F.col(c).alias(f"{c}_{x}") for c in ("id", "s", "grp")]
        )

    inter = F.size(F.array_intersect("s_a", "s_b"))
    return (
        F.broadcast(cand).join(side("a"), "id_a").join(side("b"), "id_b")
        .withColumn(
            "jaccard",
            inter / (F.size("s_a") + F.size("s_b") - inter),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"),
                "grp_a", "grp_b")
    )


def _star_edges(members: DataFrame, elig_groups: DataFrame) -> DataFrame:
    """(id_a=rep, id_b=member) — one edge per non-representative member
    of each eligible group: the LINEAR connectivity equivalent of the
    quadratic intra-group pair expansion."""
    return (
        members.join(elig_groups.select("grp", "rid"), "grp")
        .where(F.col("id") != F.col("rid"))
        .select(F.col("rid").alias("id_a"), F.col("id").alias("id_b"))
    )


def _expand_pairs(
    members: DataFrame,
    rep_pairs: DataFrame,
    value_col: str,
    intra_value,
    elig: DataFrame | None,
) -> DataFrame:
    """Shared rep→member pair expansion (the join choreography behind
    both the MinHash and SimHash paths — one implementation so a fix in
    one reaches the other): cross-group pairs inherit the
    representatives' `value_col` (members of a group are exact dups of
    their rep, so rep-to-rep distance IS member-to-member distance);
    intra-group pairs get the exact-duplicate constant `intra_value`.

    members:   (grp, id) — every document and its exact-dup group key;
    rep_pairs: (id_a, id_b, value_col, grp_a, grp_b) — the internal
               rep-pair layout both families build and store;
    elig:      (grp) — groups eligible for intra pairs, or None when
               EVERY group is eligible (the SimHash family: any
               same-fingerprint group of size > 1 pairs, and singleton
               groups emit nothing from a self-join anyway — skipping
               the eligibility join saves a shuffle; MinHash keeps it
               for the shingle-eligibility semantics).

    Output: exactly (id_a, id_b, value_col)."""
    pairs_g = rep_pairs.select("grp_a", "grp_b", value_col)
    cross = (
        members.select(F.col("grp").alias("grp_a"), F.col("id").alias("ia"))
        .join(F.broadcast(pairs_g), "grp_a")
        .join(
            members.select(F.col("grp").alias("grp_b"), F.col("id").alias("ib")),
            "grp_b",
        )
        .select(
            F.least("ia", "ib").alias("id_a"),
            F.greatest("ia", "ib").alias("id_b"),
            value_col,
        )
    )
    mi = members if elig is None else members.join(elig, "grp")
    xi, yi = mi.alias("xi"), mi.alias("yi")
    intra = (
        xi.join(
            yi,
            (F.col("xi.grp") == F.col("yi.grp"))
            & (F.col("xi.id") < F.col("yi.id")),
        )
        .select(
            F.col("xi.id").alias("id_a"),
            F.col("yi.id").alias("id_b"),
            F.lit(intra_value).alias(value_col),
        )
    )
    return cross.unionByName(intra)


def expand_rep_pairs(
    docs: DataFrame, rep_pairs: DataFrame, rg: DataFrame,
) -> DataFrame:
    """Expand verified representative pairs (verify_rep_pairs' layout)
    to member pairs (id_a, id_b, jaccard): cross-group pairs inherit the
    representatives' jaccard (identical normalized text => identical
    shingle set); intra-group pairs are exact duplicates (jaccard 1.0).

    `rg` carries (grp, csize) with one row per shingle-eligible rep
    group — a projection of the sig table, whose rows are exactly the
    reps whose normalized text has >= k tokens. Groups without shingles
    have no jaccard to anything (matching the exact oracle), so only
    eligible groups of size > 1 emit intra pairs.

    Text is never re-shuffled here: every frame is an integer projection
    of docs' (grp, id) or of the sig table."""
    elig = rg.filter(F.col("csize") > 1).select("grp")
    return _expand_pairs(docs.select("grp", "id"), rep_pairs, "jaccard", 1.0, elig)


# -- simhash -----------------------------------------------------------------


_SIMHASH_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("simhash", T.LongType(), False),
    ]
)


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash of token hashes (Charikar 2002), vectorized numpy
    inside mapInPandas: unpack token-hash bits -> signed column sums ->
    sign -> fingerprint."""
    from ..functions.text import normalize_series, token_shingle_hashes_series

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            text = normalize_series(pdf[text_col])
            hashes, counts = token_shingle_hashes_series(text, 1)
            out = np.zeros(len(pdf), dtype=np.uint64)
            valid = counts > 0
            if valid.any() and hashes.size:
                bits = np.unpackbits(
                    hashes.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
                )  # (n_tokens, 64) uint8 — stays 1 B/lane: the earlier
                # int32 signed form moved 8x the bytes through the
                # reduceat; popcount > n/2 is the same majority test as
                # sign(sum of +/-1) > 0, bit-identical
                # (zero-count docs are excluded from the boundary list,
                # so segments stay exact)
                starts = np.zeros(len(counts), dtype=np.int64)
                np.cumsum(counts[:-1], out=starts[1:])
                sums = np.add.reduceat(bits, starts[valid], axis=0, dtype=np.int64)
                out[valid] = np.packbits(
                    2 * sums > counts[valid, None], axis=1, bitorder="little"
                ).view(np.uint64)[:, 0]
            yield pd.DataFrame(
                {"id": pdf[id_col].to_numpy(), "simhash": out.view(np.int64)}
            )

    return _spread(df.select(id_col, text_col)).mapInPandas(fn, _SIMHASH_SCHEMA)


def simhash_blocking_plan(n_blocks: int, max_hamming: int) -> list[tuple[int, ...]]:
    """Pigeonhole band plan (Manku/Jain/Das Sarma 2007): split 64 bits into
    n_blocks spans; any pair at hamming <= max_hamming differs in at most
    max_hamming blocks, so SOME combination of (n_blocks - max_hamming)
    blocks is untouched — index every such combination as one band key.
    Returns the block combinations; C(n_blocks, n_blocks - max_hamming)
    bands, key width = sum of the selected block widths.

    Capacity scales with n_blocks: the r01 scheme was the fixed n_blocks=4
    (4 bands x 16-bit keys = 65,536 buckets — quadratic at 10^12 docs);
    n_blocks=6 gives 20 bands x >=31-bit keys (>=2^31 buckets), n_blocks=8
    gives 56 bands x 40-bit keys, etc. Recall stays exactly 1.0 for
    hamming <= max_hamming at every width (deterministic pigeonhole, no
    probability involved)."""
    import itertools

    if not (max_hamming < n_blocks <= 64):
        raise ValueError("need max_hamming < n_blocks <= 64")
    return list(itertools.combinations(range(n_blocks), n_blocks - max_hamming))


def simhash_pairs(
    df: DataFrame, max_hamming: int = 3, *, n_blocks: int | None = None,
    max_bucket: int | None = 512, expand_exact_dups: bool = True,
    text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming: pigeonhole
    block-combination blocking (see simhash_blocking_plan) + bit_count
    verify, all JVM expressions after the simhash pass.

    Same scale shape as minhash_lsh_pairs: identical-simhash groups are
    pre-collapsed (map-side combine) so exact-dup clusters cost one
    representative; buckets are size-capped; verified representative pairs
    expand back to member pairs (cross pairs inherit the representatives'
    hamming — equal simhash => equal distance to everything; intra pairs
    are hamming 0).

    n_blocks=None picks the blocking width adaptively: 4 (4 bands x
    16-bit keys, 5x fewer bucket rows) below 2e5 docs, 6 (20 bands x
    >=31-bit keys) above. Pigeonhole recall is exactly 1.0 at every
    width ABSENT cap drops; narrow 16-bit keys make over-cap buckets
    likelier on bias-concentrated fingerprints, which is why the cutoff
    sits well under the 65536-buckets-per-band capacity — and any drop
    that does happen is warn-logged by capped_candidate_pairs, never
    silent. The count probe runs on the checkpointed 16-byte/doc
    fingerprint table inside simhash_pairs_from_fingerprints, never as a
    separate scan of the raw text."""
    return simhash_pairs_from_fingerprints(
        simhash(df, text_col, id_col), max_hamming,
        n_blocks=n_blocks, max_bucket=max_bucket,
        expand_exact_dups=expand_exact_dups,
    )


def simhash_band_struct(n_blocks: int, max_hamming: int, col: str = "simhash"):
    """The pigeonhole band-key expression array for a simhash column:
    one struct (band, bh) per block combination (see
    simhash_blocking_plan). Shared by the batch pair join and the
    streaming stateful gate so both block identically."""
    combos = simhash_blocking_plan(n_blocks, max_hamming)
    base, rem = divmod(64, n_blocks)
    widths = [base + (1 if i < rem else 0) for i in range(n_blocks)]
    offs = [sum(widths[:i]) for i in range(n_blocks)]

    def block(i: int):
        return F.shiftrightunsigned(F.col(col), offs[i]).bitwiseAND(
            F.lit((1 << widths[i]) - 1)
        )

    return F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                # xxhash64 of the selected block values: exact-match key
                # for the combination (hash collisions only ADD
                # candidates; the bit_count verify removes them)
                F.xxhash64(*[block(i) for i in combo]).alias("bh"),
            )
            for bi, combo in enumerate(combos)
        ]
    )


def simhash_pairs_from_fingerprints(
    sh: DataFrame, max_hamming: int = 3, *, n_blocks: int | None = 6,
    max_bucket: int | None = 512, expand_exact_dups: bool = True,
) -> DataFrame:
    """simhash_pairs over a precomputed (id, simhash) table — useful when
    fingerprints are stored (they are 8 bytes/doc; recomputing them is the
    expensive part) and for property-testing the blocking directly.

    The fingerprint table is checkpointed once (linear, ~16 B/doc); the
    collapsed rep table is cached only while the (tiny,
    candidate-bounded) rep-level pairs are computed and checkpointed,
    then released — no storage leak across repeated calls. The
    member-level expansion stays LAZY (it can be quadratic for giant dup
    clusters — never eagerly materialized here) and reads only the
    fingerprint checkpoint and the checkpointed rep pairs, which carry
    both fingerprints as their group keys; at 10^12-doc scale use
    expand_exact_dups=False (rep-level pairs + the dup-groups table) as
    documented on minhash_lsh_pairs. Output columns are exactly
    (id_a, id_b, hamming) in both modes."""
    sh, rep_pairs, _ = _simhash_rep_level(
        sh, max_hamming, n_blocks, max_bucket, with_groups=False,
    )
    if not expand_exact_dups:
        return rep_pairs.select("id_a", "id_b", "hamming")
    return expand_simhash_rep_pairs(sh, rep_pairs)


def _simhash_rep_level(
    sh: DataFrame, max_hamming: int, n_blocks: int | None,
    max_bucket: int | None, *, with_groups: bool,
):
    """Blocking + verify shared by simhash_pairs_from_fingerprints,
    simhash_edges_from_fingerprints and the staged
    lineage.CheckpointedSimhashDedup. Returns (checkpointed sh,
    rep_pairs, rg): rep_pairs is the checkpointed internal layout
    (id_a, id_b, hamming, grp_a, grp_b) — the group keys are the
    fingerprints — and rg the (grp, rid, csize) rep-group aggregate the
    edge list's star branch needs, fused into the SAME localCheckpoint
    as rep_pairs when with_groups (else None)."""
    # materialize the fingerprint table ONCE (localCheckpoint — linear,
    # ~16 B/doc, nothing like the quadratic member-pair list): every plan
    # branch (buckets, rep-group aggregate, member expansion) reads it
    # without re-running the simhash kernel; its blocks are freed when
    # the returned frame is garbage-collected. With adaptive width the
    # checkpoint is LAZY and the one count() both materializes it and
    # returns the size.
    if not (sh.storageLevel.useMemory or sh.storageLevel.useDisk):
        sh = sh.localCheckpoint(eager=n_blocks is not None)
    if n_blocks is None:
        # adaptive width (see simhash_pairs): this count is what
        # materializes the lazy checkpoint — never a second text scan
        n_blocks = 4 if sh.count() <= 200_000 else 6
    # one representative per distinct fingerprint; the 8-byte fingerprint
    # RIDES the bucket rows (payload_col) so the verify needs NO joins at
    # all — each candidate pair arrives with both fingerprints attached
    # (bands * 8 extra shuffle bytes instead of a broadcast + two join
    # stages), and the candidate dedup runs AFTER the bit_count filter,
    # shuffling only surviving pairs
    groups = sh.groupBy("simhash").agg(
        F.min("id").alias("id"), F.count(F.lit(1)).alias("csize")
    )
    buckets = groups.select(
        "id", "simhash",
        F.explode(simhash_band_struct(n_blocks, max_hamming)).alias("bb"),
    ).select(
        "id", "simhash", F.col("bb.band").alias("band"),
        F.col("bb.bh").alias("bh"),
    )
    handles: list = []
    cand = capped_candidate_pairs(
        buckets, max_bucket, release=handles,
        payload_col="simhash", distinct=False,
        # persist stays ON: the bucket table sits above the groups
        # aggregate, and without the cache the over-cap branch and the
        # self-join sides re-run that exchange (A/B measured 3.2 s vs
        # 2.2 s per rep-level pass at 50k docs)
    )
    rp = (
        cand.select(
            "id_a", "id_b",
            F.bit_count(
                F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))
            ).alias("hamming"),
            # the fingerprints ARE the group keys (functions of the
            # ids, so the dedup keeps a consistent value)
            F.col("simhash_a").alias("grp_a"),
            F.col("simhash_b").alias("grp_b"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )
    if with_groups:
        mem = sh.select(F.col("simhash").alias("grp"), "id")
        combined = (
            rp.select(F.lit(0).alias("part"),
                      F.lit(None).cast("long").alias("grp"),
                      "id_a", "id_b", "hamming", "grp_a", "grp_b")
            .unionByName(
                # the rep-group aggregate IS `groups` (min(id) = rid,
                # count = csize, keyed by the fingerprint): reusing the
                # same frame lets ReuseExchange serve this branch and
                # the bucket branch from ONE groupBy(simhash) shuffle
                groups.select(
                    F.lit(1).alias("part"),
                    F.col("simhash").alias("grp"),
                    F.col("id").alias("id_a"),
                    F.col("csize").alias("id_b"),
                    F.lit(None).cast("int").alias("hamming"),
                    F.lit(None).cast("long").alias("grp_a"),
                    F.lit(None).cast("long").alias("grp_b"))
            )
            .transform(lambda u: _compact(u, sizer=mem))
            .localCheckpoint(eager=True)  # rep_pairs candidate-bounded,
        )                                 # rg ~24 B/distinct fingerprint
        rep_pairs = combined.filter("part = 0").select(
            "id_a", "id_b", "hamming", "grp_a", "grp_b"
        )
        rg = combined.filter("part = 1").select(
            "grp", F.col("id_a").alias("rid"), F.col("id_b").alias("csize")
        )
    else:
        rep_pairs = rp.localCheckpoint(eager=True)  # tiny: cand-bounded
        rg = None
    for fin in handles:
        fin()
    return sh, rep_pairs, rg


def simhash_edges_from_fingerprints(
    sh: DataFrame, max_hamming: int = 3, *, n_blocks: int | None = 6,
    max_bucket: int | None = 512,
) -> DataFrame:
    """(id_a, id_b) edge list whose connected components EQUAL those of
    simhash_pairs_from_fingerprints(sh, ...): rep-level pairs plus one
    member->representative star edge per identical-fingerprint duplicate —
    the SimHash counterpart of minhash_lsh_edges (linear in corpus size
    where the member-level pair list is quadratic in dup-cluster sizes;
    connected components only need connectivity). Same fresh-attribute
    branch ordering as minhash_lsh_edges (Spark 4.1 AQE checkpoint
    quirk)."""
    # materialize the fingerprint table ONCE for BOTH branches — passing
    # raw simhash(df) output here must not run the text kernel twice
    # (the pairs path checkpoints only its local copy)
    sh, rep_pairs, rg = _simhash_rep_level(
        sh, max_hamming, n_blocks, max_bucket, with_groups=True,
    )
    members = sh.select(F.col("simhash").alias("grp"), "id")
    elig_groups = rg.filter(F.col("csize") > 1)
    return _star_edges(members, elig_groups).unionByName(
        rep_pairs.select("id_a", "id_b")
    )


def expand_simhash_rep_pairs(sh: DataFrame, rep_pairs: DataFrame) -> DataFrame:
    """Expand rep-level SimHash pairs (_simhash_rep_level's layout) to
    member pairs (id_a, id_b, hamming) from a fingerprint table
    (id, simhash): cross-group pairs inherit the representatives'
    hamming (equal simhash => equal distance to everything); intra-group
    pairs are hamming 0. Integer shuffles only; shared by the batch path
    and the checkpointed pipeline's resume leg (which reads `sh` and
    `rep_pairs` straight from stored chunks)."""
    members = sh.select(F.col("simhash").alias("grp"), "id")
    # elig=None: every same-fingerprint group is intra-eligible (see
    # _expand_pairs) — singleton groups emit nothing from the self-join
    return _expand_pairs(members, rep_pairs, "hamming", 0, None)


# -- snapshot collapse --------------------------------------------------------


def latest_snapshot(
    df: DataFrame, key_col: str = "url", ts_col: str = "warc_ts"
) -> DataFrame:
    """One row per key: the most recent snapshot — the recrawl collapse a
    Common-Crawl-style pipeline runs before any text-level dedup (the
    same url is fetched in many crawls; downstream operators want exactly
    one version).

    Implemented as ONE aggregation with max_by over a packed struct, not
    a window rank: the aggregate gets map-side partial combining (each
    task keeps one candidate row per key before the shuffle), where a
    row_number window must shuffle and SORT every version of every key.
    Ties on `ts_col` are broken DETERMINISTICALLY by a stable content
    digest (xxhash64 of the row's non-key columns, maps excluded — maps
    are unhashable and unorderable in Spark): equal-timestamp recrawls
    collapse to the same winner at any parallelism, which the resumable
    pipelines downstream (lineage.*) rely on. Rows whose hashable
    columns are fully identical tie harmlessly (any winner is the same
    row); distinct rows colliding in the 64-bit digest is ~2^-64. Rows
    with NULL `ts_col` lose to any timestamped version (the order key is
    (ts IS NOT NULL, ts, digest), never null itself — naked max_by would
    SKIP null-ordered rows and fabricate an all-NULL winner for keys
    whose versions are all untimestamped; here some real row always
    wins)."""
    if "n_versions" in df.columns:
        raise ValueError(
            "input already has an n_versions column — rename it before "
            "collapsing (the output's version count would be ambiguous)"
        )
    others = [c for c in df.columns if c != key_col]
    hashable = [
        f.name for f in df.schema.fields
        if f.name != key_col and not isinstance(f.dataType, T.MapType)
    ]
    order_key = F.struct(
        F.col(ts_col).isNotNull().alias("has_ts"),
        F.col(ts_col).alias("ts"),
        F.xxhash64(F.struct(*[F.col(c) for c in hashable])).alias("tie"),
    )
    return (
        df.groupBy(key_col)
        .agg(
            F.max_by(F.struct(*[F.col(c) for c in others]), order_key)
            .alias("_r"),
            F.count(F.lit(1)).alias("n_versions"),
        )
        .select(key_col, "_r.*", "n_versions")
    )
