"""Checkpointed per-partition lineage + metrics — resumable sketch builds
(explicit north-rule requirement; no analog in the reference, whose build
is a single-process all-or-nothing cereal dump, index_base.h:181-187).

Model: the corpus is sliced into `n_chunks` deterministic chunks
(pmod(xxhash64(url), n_chunks) — stable across runs and parallelism).
Each chunk's partial sketch rows are written to
`<dir>/chunks/chunk=<i>/` (parquet write is atomic via _SUCCESS), then a
lineage record (JSONL on the driver) commits the chunk with metrics.
Resume = skip committed chunks; finalize = merge all chunk partials with
the same associative merge the two-level tree uses, so a resumed build is
byte-identical (lattice sketches) to a single-shot one — property-tested.

At 100 TB: set n_chunks to the input's partition/file grain and store the
corpus partitioned by the chunk key — each chunk scan is then partition-
pruned instead of a filtered full pass; the lineage file lives on the
shared FS. Chunk commits are idempotent: a re-run of a committed chunk
overwrites the same path and re-commits the same content.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.sketch_build import SKETCH_ROW_SCHEMA, SketchSpec, _merger, build_sketches

LINEAGE_FILE = "lineage.jsonl"


class CheckpointedBuild:
    def __init__(
        self,
        checkpoint_dir: str,
        specs: list[SketchSpec],
        *,
        n_chunks: int = 16,
        build_id: str = "build-0",
    ):
        self.dir = checkpoint_dir
        self.specs = specs
        self.n_chunks = n_chunks
        self.build_id = build_id
        os.makedirs(f"{self.dir}/chunks", exist_ok=True)

    # -- lineage ----------------------------------------------------------

    def _lineage_path(self) -> str:
        return f"{self.dir}/{LINEAGE_FILE}"

    def lineage(self) -> list[dict]:
        if not os.path.exists(self._lineage_path()):
            return []
        with open(self._lineage_path()) as f:
            return [json.loads(line) for line in f if line.strip()]

    def committed_chunks(self) -> set[int]:
        return {
            r["chunk"]
            for r in self.lineage()
            if r["build_id"] == self.build_id and r["status"] == "committed"
        }

    def _commit(self, record: dict) -> None:
        with open(self._lineage_path(), "a") as f:
            f.write(json.dumps(record, sort_keys=True) + "\n")

    # -- build ------------------------------------------------------------

    def _chunk_filter(self, corpus: DataFrame, chunk: int):
        return corpus.filter(
            F.pmod(F.xxhash64(F.col("url")), F.lit(self.n_chunks)) == chunk
        )

    def run(self, corpus: DataFrame, *, resume: bool = True) -> DataFrame:
        """Build (or resume) all chunks, then return the merged sketch
        rows. Raises nothing on re-run of a finished build: all chunks
        are already committed and only the final merge executes."""
        if "bin_id" not in corpus.columns:
            raise ValueError("corpus needs bin_id (sources.corpus.with_bin_id)")
        done = self.committed_chunks() if resume else set()
        for chunk in range(self.n_chunks):
            if chunk in done:
                continue
            t0 = time.time()
            part = build_sketches(self._chunk_filter(corpus, chunk), self.specs)
            path = f"{self.dir}/chunks/chunk={chunk}"
            part.write.mode("overwrite").parquet(path)
            spark = corpus.sparkSession
            stats = (
                spark.read.parquet(path)
                .groupBy("name")
                .agg(
                    F.count(F.lit(1)).alias("bins"),
                    F.sum("n_items").alias("items"),
                    F.max("n_items").alias("max_bin_items"),
                )
                .collect()
            )
            self._commit(
                {
                    "build_id": self.build_id,
                    "chunk": chunk,
                    "status": "committed",
                    "duration_sec": round(time.time() - t0, 3),
                    "metrics": {
                        r["name"]: {
                            "bins": r["bins"],
                            "items": int(r["items"]),
                            "max_bin_items": int(r["max_bin_items"]),
                        }
                        for r in stats
                    },
                }
            )
        return self.finalize(corpus.sparkSession)

    def finalize(self, spark: SparkSession) -> DataFrame:
        """Merge every committed chunk's partials -> final sketch rows."""
        missing = set(range(self.n_chunks)) - self.committed_chunks()
        if missing:
            raise RuntimeError(f"cannot finalize: chunks {sorted(missing)} not committed")
        # read ONLY this build's chunk range — stale chunk=* dirs left by a
        # previous build with a larger n_chunks would otherwise be silently
        # merged in, double-counting documents
        all_parts = spark.read.parquet(
            *[f"{self.dir}/chunks/chunk={i}" for i in range(self.n_chunks)]
        )
        return all_parts.select("bin_id", "name", "payload", "n_items").groupBy(
            "bin_id", "name"
        ).applyInPandas(_merger, SKETCH_ROW_SCHEMA)

    def skew_report(self) -> dict:
        """Per-spec max/total item ratio across chunks — the 'document
        skew stats in lineage metrics' hook for salting decisions."""
        out: dict[str, dict] = {}
        for rec in self.lineage():
            if rec["build_id"] != self.build_id or rec["status"] != "committed":
                continue
            for name, m in rec["metrics"].items():
                agg = out.setdefault(
                    name, {"items": 0, "max_bin_items": 0, "max_to_mean_ratio": 0.0}
                )
                agg["items"] += m["items"]
                agg["max_bin_items"] = max(agg["max_bin_items"], m["max_bin_items"])
                # within-chunk skew: hottest bin vs mean bin
                ratio = m["max_bin_items"] * m["bins"] / max(m["items"], 1)
                agg["max_to_mean_ratio"] = max(agg["max_to_mean_ratio"], round(ratio, 3))
        return out


class _StagedCheckpoint:
    """Shared machinery for staged, resumable pipelines: a JSONL lineage
    log of committed stages plus a parameter fingerprint pinned per
    build_id — committed stages are only valid under the parameters that
    produced them, so resuming with a changed configuration against old
    artifacts refuses loudly instead of silently returning stale or
    incomplete results."""

    # Artifact-layout version, recorded in every params_<build_id>.json:
    # 3 = build_id-namespaced artifact paths (sigsets_<id>/ etc.), MinHash
    # sigsets in the minhash_sig_table layout (id, s, grp, csize, bhs) and
    # rep_pairs of both families carrying (grp_a, grp_b). A checkpoint
    # written under any other layout (no marker = the bare sigsets/,
    # rep_pairs/ paths) must refuse at open time with a clear message —
    # its params fingerprint would otherwise still match and resume would
    # skip the committed stages, then fail on paths or columns this code
    # no longer writes.
    LAYOUT_VERSION = 3

    def __init__(
        self, checkpoint_dir: str, *, params: dict, build_id: str,
        subdirs: tuple[str, ...] = (),
    ):
        self.dir = checkpoint_dir
        self.build_id = build_id
        os.makedirs(self.dir, exist_ok=True)
        for s in subdirs:
            os.makedirs(f"{self.dir}/{s}", exist_ok=True)
        params = {**params, "_layout": self.LAYOUT_VERSION}
        ppath = f"{self.dir}/params_{build_id}.json"
        if os.path.exists(ppath):
            stored = json.loads(open(ppath).read())
            if stored.get("_layout") != self.LAYOUT_VERSION:
                raise ValueError(
                    f"checkpoint {self.dir} (build_id={build_id}) uses "
                    f"artifact layout {stored.get('_layout', 1)}, this "
                    f"version reads layout {self.LAYOUT_VERSION} — its "
                    "committed stages point at paths this code no longer "
                    "reads; rebuild in a fresh dir (or with a new "
                    "build_id) instead of resuming"
                )
            if stored != params:
                raise ValueError(
                    f"checkpoint {self.dir} (build_id={build_id}) was "
                    f"created with {stored}; resuming with {params} would "
                    "return stale results — use a new build_id or dir"
                )
        else:
            with open(ppath, "w") as f:
                f.write(json.dumps(params, sort_keys=True))

    def _apath(self, name: str) -> str:
        """Artifact path namespaced by build_id: two pipelines (or two
        build_ids of one pipeline) sharing a checkpoint dir must never
        overwrite each other's committed artifacts — the params guard
        says 'use a new build_id or dir', and namespacing makes the
        build_id half of that advice actually safe."""
        return f"{self.dir}/{name}_{self.build_id}"

    def _lineage_path(self) -> str:
        return f"{self.dir}/{LINEAGE_FILE}"

    def lineage(self) -> list[dict]:
        if not os.path.exists(self._lineage_path()):
            return []
        with open(self._lineage_path()) as f:
            return [json.loads(line) for line in f if line.strip()]

    def committed(self) -> set[str]:
        return {
            r["stage"]
            for r in self.lineage()
            if r["build_id"] == self.build_id and r["status"] == "committed"
        }

    def _commit(self, stage: str, **metrics) -> None:
        with open(self._lineage_path(), "a") as f:
            f.write(
                json.dumps(
                    {"build_id": self.build_id, "stage": stage,
                     "status": "committed", **metrics},
                    sort_keys=True,
                )
                + "\n"
            )

    # -- shared stage drivers (one skeleton for every pipeline) -----------

    def _chunk_paths(self, name: str) -> list[str]:
        return [f"{self._apath(name)}/chunk={i}" for i in range(self.n_chunks)]

    def _run_chunk_stages(
        self, spark: SparkSession, prefix: str, name: str, make_chunk,
        done: set[str], stop_after: str | None,
    ) -> bool:
        """Write each uncommitted chunk stage (`<prefix>:<i>` →
        `<dir>/<name>_<build_id>/chunk=<i>`) atomically and commit it with
        row/duration metrics. Returns True when `stop_after` simulated a
        kill."""
        for chunk in range(self.n_chunks):
            stage = f"{prefix}:{chunk}"
            if stage in done:
                continue
            t0 = time.time()
            path = f"{self._apath(name)}/chunk={chunk}"
            make_chunk(chunk).write.mode("overwrite").parquet(path)
            n = spark.read.parquet(path).count()
            self._commit(stage, rows=n, duration_sec=round(time.time() - t0, 3))
            if stop_after == stage:
                return True
        return False

    def _run_write_stage(
        self, spark: SparkSession, stage: str, name: str, make_df,
        done: set[str], stop_after: str | None,
    ) -> bool:
        """Write a single whole-output stage (e.g. verified pairs) if not
        committed. Returns True when `stop_after` simulated a kill."""
        if stage not in done:
            t0 = time.time()
            make_df().write.mode("overwrite").parquet(self._apath(name))
            n = spark.read.parquet(self._apath(name)).count()
            self._commit(stage, rows=n, duration_sec=round(time.time() - t0, 3))
            if stop_after == stage:
                return True
        return False

    def _chunk_filter(self, df: DataFrame, id_col: str, chunk: int) -> DataFrame:
        """Deterministic id-space chunking — stable across runs and
        parallelism, which is what makes resumed stages reproducible."""
        return df.filter(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(self.n_chunks)) == chunk
        )


class CheckpointedDedup(_StagedCheckpoint):
    """Resumable MinHash-LSH near-dup pipeline (the dedup counterpart of
    CheckpointedBuild).

    Stage model, each committed to the JSONL lineage log:

      sigsets:<i>  the rep-level sig table, in `n_chunks`
                   deterministic chunks of the rep id space
                   (pmod(xxhash64(id), n_chunks) — stable across runs
                   and parallelism), each written atomically to
                   `<dir>/sigsets_<build_id>/chunk=<i>/`. Columns are the
                   in-session layout (operators.dedup.minhash_sig_table):
                   id (rep = min doc id of its exact-dup group), s (sorted
                   shingle-hash set), grp (md5 group key), csize (group
                   member count), bhs (the `bands` band-bucket keys).
                   Only reps with >= k tokens have a row.
      pairs        verified rep-level near-dup pairs computed FROM THE
                   STORED sigset chunks (banding + cap + exact-Jaccard
                   verify), written to `<dir>/rep_pairs_<build_id>/` as
                   (id_a, id_b, jaccard, grp_a, grp_b).

    A killed job resumes at the first uncommitted stage; the expanded
    member-level pair list (and any clustering on top — the CC rounds
    are a deterministic function of the stored pairs) is recomputed
    lazily from (docs, stored rep_pairs), so a resumed run is
    byte-identical to a single-shot one — tested by killing after the
    banding/sigset stage. `stop_after` ("sigsets:<i>" | "pairs")
    simulates the kill in tests."""

    def __init__(
        self,
        checkpoint_dir: str,
        *,
        k: int = 3,
        num_perm: int = 128,
        bands: int = 32,
        threshold: float = 0.8,
        max_bucket: int | None = 512,
        n_chunks: int = 8,
        build_id: str = "dedup-0",
    ):
        from .operators.dedup import _rows_per_band

        _rows_per_band(num_perm, bands)  # refuse before any stage runs
        self.k, self.num_perm, self.bands = k, num_perm, bands
        self.threshold, self.max_bucket = threshold, max_bucket
        self.n_chunks = n_chunks
        super().__init__(
            checkpoint_dir,
            params={
                "k": k, "num_perm": num_perm, "bands": bands,
                "threshold": threshold, "max_bucket": max_bucket,
                "n_chunks": n_chunks,
            },
            build_id=build_id,
            subdirs=(f"sigsets_{build_id}",),
        )

    # -- stages -----------------------------------------------------------

    def run(
        self,
        df: DataFrame,
        *,
        text_col: str = "text",
        id_col: str = "doc_id",
        resume: bool = True,
        stop_after: str | None = None,
        expand_exact_dups: bool = True,
    ) -> DataFrame | None:
        """Build (or resume) the pipeline; returns the member-level pair
        DataFrame (rep-level with expand_exact_dups=False) with exactly
        the columns (id_a, id_b, jaccard), or None when `stop_after`
        simulated a kill."""
        from .operators.dedup import (
            dup_groups,
            expand_rep_pairs,
            minhash_sig_table,
            verify_rep_pairs,
        )

        spark = df.sparkSession
        docs, reps = dup_groups(df, text_col, id_col)
        done = self.committed() if resume else set()
        if self._run_chunk_stages(
            spark, "sigsets", "sigsets",
            lambda chunk: minhash_sig_table(
                self._chunk_filter(reps, "id", chunk), self.k,
                self.num_perm, self.bands, "txt", "id",
                passthrough=("grp", "csize"),
            ),
            done, stop_after,
        ):
            return None
        ss = spark.read.parquet(*self._chunk_paths("sigsets"))
        handles: list = []

        def make_pairs():
            return verify_rep_pairs(
                ss, bands=self.bands,
                threshold=self.threshold, max_bucket=self.max_bucket,
                release=handles,
            )

        killed = self._run_write_stage(
            spark, "pairs", "rep_pairs", make_pairs,
            self.committed() if resume else set(), stop_after,
        )
        for fin in handles:
            fin()
        if killed:
            return None
        rep_pairs = spark.read.parquet(self._apath("rep_pairs"))
        if not expand_exact_dups:
            return rep_pairs.select("id_a", "id_b", "jaccard")
        # intra eligibility comes straight from the STORED sigset chunks
        # (one row per shingle-eligible rep group) — no text re-derivation
        # on resume; the (grp, id) membership frame is checkpointed once
        # (~40 B/doc) so the expansion's branches read a cache instead of
        # re-scanning the raw text per branch
        members = docs.select("grp", "id").localCheckpoint(eager=True)
        return expand_rep_pairs(members, rep_pairs, ss.select("grp", "csize"))


class CheckpointedSimhashDedup(_StagedCheckpoint):
    """Resumable SimHash near-dup pipeline — same stage model as
    CheckpointedDedup, with the 8-byte/doc fingerprint table as the
    natural chunk unit (computing fingerprints is the expensive text
    pass; everything downstream is integer shuffles):

      fps:<i>  (id, simhash) fingerprints for the i-th deterministic
               chunk of the id space (pmod(xxhash64(id), n_chunks)),
               written atomically to `<dir>/fps_<build_id>/chunk=<i>/`.
      pairs    rep-level pairs computed FROM THE STORED fingerprint
               chunks (identical-simhash collapse + pigeonhole blocking
               + bit_count verify), written to
               `<dir>/rep_pairs_<build_id>/` as
               (id_a, id_b, hamming, grp_a, grp_b).

    The member-level expansion is recomputed lazily from (stored fps,
    stored rep_pairs) — a resumed run is byte-identical to a single-shot
    one. n_blocks is pinned (no adaptive width here: the blocking plan
    is part of the parameter fingerprint a resume must reproduce)."""

    def __init__(
        self,
        checkpoint_dir: str,
        *,
        max_hamming: int = 3,
        n_blocks: int = 6,
        max_bucket: int | None = 512,
        n_chunks: int = 8,
        build_id: str = "simhash-0",
    ):
        # validate the blocking plan BEFORE any stage runs: an invalid
        # (max_hamming, n_blocks) combination would otherwise surface as
        # an uncaught ValueError only at the pairs stage — after the
        # whole (expensive) fingerprint pass was computed and committed
        from .operators.dedup import simhash_blocking_plan

        simhash_blocking_plan(n_blocks, max_hamming)
        self.max_hamming, self.n_blocks = max_hamming, n_blocks
        self.max_bucket, self.n_chunks = max_bucket, n_chunks
        super().__init__(
            checkpoint_dir,
            params={
                "max_hamming": max_hamming, "n_blocks": n_blocks,
                "max_bucket": max_bucket, "n_chunks": n_chunks,
            },
            build_id=build_id,
            subdirs=(f"fps_{build_id}",),
        )

    def run(
        self,
        df: DataFrame,
        *,
        text_col: str = "text",
        id_col: str = "doc_id",
        resume: bool = True,
        stop_after: str | None = None,
        expand_exact_dups: bool = True,
    ) -> DataFrame | None:
        """Build (or resume) the pipeline; returns the member-level pair
        DataFrame (rep-level with expand_exact_dups=False) with exactly
        the columns (id_a, id_b, hamming), or None when `stop_after`
        simulated a kill."""
        from .operators.dedup import (
            _simhash_rep_level,
            expand_simhash_rep_pairs,
            simhash,
        )

        spark = df.sparkSession
        done = self.committed() if resume else set()
        if self._run_chunk_stages(
            spark, "fps", "fps",
            lambda chunk: simhash(
                self._chunk_filter(df, id_col, chunk), text_col, id_col
            ),
            done, stop_after,
        ):
            return None
        sh = spark.read.parquet(*self._chunk_paths("fps"))

        def make_pairs():
            return _simhash_rep_level(
                sh.persist(), self.max_hamming, self.n_blocks,
                self.max_bucket, with_groups=False,
            )[1]

        killed = self._run_write_stage(
            spark, "pairs", "rep_pairs", make_pairs,
            self.committed() if resume else set(), stop_after,
        )
        sh.unpersist()
        if killed:
            return None
        rep_pairs = spark.read.parquet(self._apath("rep_pairs"))
        if not expand_exact_dups:
            return rep_pairs.select("id_a", "id_b", "hamming")
        return expand_simhash_rep_pairs(sh, rep_pairs)


class CheckpointedCosineDedup(_StagedCheckpoint):
    """Resumable embedding near-dup pipeline (the high-threshold
    hyperplane-LSH path of operators.similarity):

      buckets:<i>  (id, band, bh) hyperplane-signature rows for the i-th
                   deterministic chunk of the id space, written to
                   `<dir>/buckets_<build_id>/chunk=<i>/` — the signature matmul is
                   the per-vector work worth not repeating.
      pairs        exact-cosine-verified pairs from the stored buckets
                   (size-capped band join + packed-BLAS verify against
                   the corpus), written to `<dir>/pairs_<build_id>/`.

    The verify stage re-packs corpus blocks from `df` (one linear pass;
    storing the packed matrix would double corpus IO for no compute
    saved). Signatures are seed-deterministic, block membership is
    xxhash64 of ids, and packed ids are sorted — a resumed run emits
    byte-identical pairs."""

    def __init__(
        self,
        checkpoint_dir: str,
        *,
        dim: int,
        n_planes: int | None = None,
        n_bands: int | None = None,
        threshold: float = 0.9,
        recall: float = 0.999,
        max_bucket: int | None = 4096,
        block: int = 4096,
        n_chunks: int = 8,
        seed: int = 42,
        build_id: str = "cosdedup-0",
    ):
        # default blocking plan comes from the closed-form planner (the
        # user states threshold+recall; the RESOLVED plan is what the
        # params fingerprint pins, so a later planner change cannot
        # silently mix bucket chunks from two different plans)
        from .operators.similarity import resolve_hyperplane_plan

        n_planes, n_bands = resolve_hyperplane_plan(
            threshold, recall, n_planes, n_bands
        )
        self.dim, self.n_planes, self.n_bands = dim, n_planes, n_bands
        self.threshold, self.max_bucket = threshold, max_bucket
        self.block, self.n_chunks, self.seed = block, n_chunks, seed
        super().__init__(
            checkpoint_dir,
            params={
                "dim": dim, "n_planes": n_planes, "n_bands": n_bands,
                "threshold": threshold, "max_bucket": max_bucket,
                "block": block, "n_chunks": n_chunks, "seed": seed,
            },
            build_id=build_id,
            subdirs=(f"buckets_{build_id}",),
        )

    def run(
        self,
        df: DataFrame,
        *,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        resume: bool = True,
        stop_after: str | None = None,
    ) -> DataFrame | None:
        from .operators.dedup import capped_candidate_pairs
        from .operators.similarity import cosine_verify_pairs, lsh_buckets

        spark = df.sparkSession
        done = self.committed() if resume else set()
        if self._run_chunk_stages(
            spark, "buckets", "buckets",
            lambda chunk: lsh_buckets(
                self._chunk_filter(df, id_col, chunk),
                dim=self.dim, n_planes=self.n_planes, n_bands=self.n_bands,
                vec_col=vec_col, id_col=id_col, seed=self.seed,
            ),
            done, stop_after,
        ):
            return None
        handles: list = []

        def make_pairs():
            buckets = spark.read.parquet(*self._chunk_paths("buckets"))
            cand = capped_candidate_pairs(
                buckets, self.max_bucket, release=handles
            )
            return cosine_verify_pairs(
                df, cand, self.threshold,
                vec_col=vec_col, id_col=id_col, block=self.block,
            )

        killed = self._run_write_stage(
            spark, "pairs", "pairs", make_pairs,
            self.committed() if resume else set(), stop_after,
        )
        for fin in handles:
            fin()
        if killed:
            return None
        return spark.read.parquet(self._apath("pairs"))
