"""dedup_curation: shuffle-, self-join- and connected-components-heavy
curation in three LSH execution modes.

One op cycle:
  in-session  minhash_lsh_edges -> dedup_keep_list
  frozen      build_neardup_index on the reference half ->
              incremental_neardup_gate on an increment that mixes new docs
              with re-keyed verbatim copies of reference docs
  streaming   streaming_simhash_pairs over the increment's fingerprints as
              4 availableNow micro-batches

The stream's input files (the increment's SimHash fingerprints, one file
per micro-batch) are written once per run, after set-up and before the
first cycle; neither figure includes them.
"""

from __future__ import annotations

import datetime as dt
import json
import shutil
import time

import numpy as np
import pyarrow.dataset as pads

from . import gen, truth
from .common import du, median

THRESHOLD = (4, 5)  # Jaccard 0.8, the library default
MAX_HAMMING, N_BLOCKS = 3, 4
REKEYED_SHARE = 0.1


def _rows(path: str, columns: list[str]) -> list[tuple]:
    t = pads.dataset(path, format="parquet").to_table(columns=columns)
    return list(zip(*(t.column(c).to_pylist() for c in columns)))


class DedupCuration:
    name = "dedup_curation"
    shape = gen.Shape(n_docs=1000)

    def prepare(self, seed: int, work: str) -> dict:
        self.work = work
        cols, self.planted = gen.generate(seed, self.shape)
        n = len(cols["doc_id"])
        half = n // 2
        rng = np.random.default_rng(seed + 2)
        copies = sorted(int(r) for r in rng.choice(half, int(half * REKEYED_SHARE), replace=False))
        inc = gen.concat(gen.take(cols, range(half, n)), gen.rekeyed(cols, copies, n))
        for name, table in (("docs", cols), ("reference", gen.take(cols, range(half))),
                            ("increment", inc)):
            gen.write_table(table, f"{work}/{name}", self.shape.n_files)
        self.n_docs, self.n_inc = n, len(inc["doc_id"])

        # truth: the dedup family reads the text column only
        self.texts = [truth.normalize(t) for t in cols["text"] + inc["text"][n - half:]]
        sets = {d: truth.shingles(truth.tokens(t))
                for d, t in zip(cols["doc_id"] + inc["doc_id"][n - half:], self.texts)}
        self.sets = sets
        doc_ids = cols["doc_id"]
        pairs = truth.similar_pairs([sets[d] for d in doc_ids], None, *THRESHOLD)
        self.partition = dict(zip(doc_ids, truth.components(n, pairs)))
        ref_ids, inc_ids = doc_ids[:half], inc["doc_id"]
        matched = truth.similar_pairs([sets[d] for d in inc_ids],
                                      [sets[d] for d in ref_ids], *THRESHOLD)
        hit = {inc_ids[i] for i, _ in matched}
        self.gate_truth = {d: d not in hit for d in inc_ids}
        self.planted_pairs = [(a, b) for a, b, _ in self.planted.near_dup_pairs
                              if truth.jaccard_ok(sets[a], sets[b], *THRESHOLD)]
        self.layer: dict[str, float] = {}
        self.stream_truth: set | None = None
        t = gen.traffic(cols, self.planted)
        t["increment"] = {"docs": self.n_inc, "rekeyed_copies": len(copies),
                          "expected_rejects": len(hit)}
        t["true_near_dup_pairs"] = len(pairs)
        return t

    def begin(self) -> None:
        """Start a measurement window."""

    def setup(self, spark) -> None:
        self.spark = spark
        self.docs, self.reference, self.increment = (
            spark.read.parquet(f"{self.work}/{name}").cache()
            for name in ("docs", "reference", "increment"))
        for df in (self.docs, self.reference, self.increment):
            df.count()

    def after_setup(self) -> None:
        """Write the stream's 4 micro-batch files and their exact pair set."""
        from pyspark.sql import functions as F

        from tetrex_spark.operators.dedup import simhash

        src = f"{self.work}/stream-in"
        if self.stream_truth is None:
            fps = simhash(self.increment, "text", "doc_id").withColumn(
                "b", F.pmod(F.col("id"), F.lit(4))).localCheckpoint(eager=True)
            for b in range(4):
                fps.filter(F.col("b") == b).select("id", "simhash").coalesce(1).write.mode(
                    "overwrite").parquet(f"{src}/batch={b}")
            rows = _rows(src, ["id", "simhash"])
            ids = np.array([r[0] for r in rows], dtype=np.int64)
            fp = np.array([r[1] for r in rows], dtype=np.int64)
            self.stream_truth = truth.hamming_pairs(ids, fp, MAX_HAMMING)

    # -- one op cycle -------------------------------------------------------------

    def cycle(self, ops, i: int) -> None:
        from tetrex_spark.operators.clusters import dedup_keep_list
        from tetrex_spark.operators.dedup import minhash_lsh_edges
        from tetrex_spark.operators.incremental import (
            build_neardup_index,
            incremental_neardup_gate,
        )

        w = f"{self.work}/cycle-{i}"
        edges = ops.run("dedup", "minhash_lsh_edges",
                        lambda: minhash_lsh_edges(self.docs, id_col="doc_id"),
                        self._check_edges)
        if edges is not None:
            ops.run("clusters", "dedup_keep_list",
                    lambda: dedup_keep_list(self.docs, edges, id_col="doc_id").collect(),
                    lambda rows: self._check_keep(
                        [(r["id"], r["component"], r["keep"]) for r in rows]))
        if ops.run("incremental", "build_neardup_index",
                   lambda: build_neardup_index(self.reference, f"{w}/ndindex", id_col="doc_id"),
                   lambda _: self._note("incremental.index_bytes", du(f"{w}/ndindex"))) is not None:
            ops.run("incremental", "incremental_neardup_gate",
                    lambda: incremental_neardup_gate(self.increment, f"{w}/ndindex",
                                                     id_col="doc_id").collect(),
                    self._check_gate)
        ops.run("streaming", "streaming_simhash_pairs", lambda: self._stream(w),
                self._check_stream)

    def cleanup(self, i: int) -> None:
        shutil.rmtree(f"{self.work}/cycle-{i}", ignore_errors=True)

    def _stream(self, w: str) -> dict:
        from tetrex_spark.streaming.simhash_stream import streaming_simhash_pairs

        t0 = time.time()
        stream = (self.spark.readStream.schema("id long, simhash long")
                  .option("maxFilesPerTrigger", "1").parquet(f"{self.work}/stream-in/batch=*"))
        q = (streaming_simhash_pairs(stream, max_hamming=MAX_HAMMING, n_blocks=N_BLOCKS)
             .writeStream.format("parquet")
             .option("path", f"{w}/stream-out").option("checkpointLocation", f"{w}/stream-ckpt")
             .outputMode("append").trigger(availableNow=True).start())
        try:
            if not q.awaitTermination(120):
                raise TimeoutError("stream did not finish within 120 s")
        finally:
            q.stop()
        progress = [json.loads(p.json) if hasattr(p, "json") else p for p in q.recentProgress]
        return {"t0": t0, "progress": progress, "out": f"{w}/stream-out"}

    def _note(self, key: str, value: float) -> None:
        self.layer[key] = float(value)

    # -- checks against the harness truth ------------------------------------------

    def _check_edges(self, edges) -> str | None:
        bad = [(a, b) for a, b in edges.select("id_a", "id_b").collect()
               if not truth.jaccard_ok(self.sets[a], self.sets[b], *THRESHOLD)]
        return f"{len(bad)} edges below the Jaccard threshold" if bad else None

    def _check_keep(self, rows: list[tuple]) -> str | None:
        labels = {d: c for d, c, _ in rows}
        if len(labels) != len(rows):
            return "duplicate ids in the keep list"
        if not truth.same_partition(labels, self.partition):
            return "clusters differ from the exact Jaccard components"
        keeps = {}
        for d, c, k in rows:
            keeps[c] = keeps.get(c, 0) + int(k)
        if any(v != 1 for v in keeps.values()):
            return "a cluster does not keep exactly one doc"
        self.layer["clusters.components"] = float(len(keeps))
        found = sum(labels[a] == labels[b] for a, b in self.planted_pairs)
        self.layer["dedup.planted_recall"] = found / max(len(self.planted_pairs), 1)
        return None

    def _check_gate(self, rows) -> str | None:
        got = {r["doc_id"]: bool(r["is_new"]) for r in rows}
        if len(got) != len(rows) or got != self.gate_truth:
            wrong = sum(got.get(d) != v for d, v in self.gate_truth.items())
            return f"gate: {wrong} of {len(self.gate_truth)} verdicts wrong"
        self.layer["incremental.gate_reject_fraction"] = (
            sum(not v for v in got.values()) / len(got))
        return None

    def _check_stream(self, res: dict) -> str | None:
        rows = _rows(res["out"], ["id_a", "id_b", "hamming"])
        got = {(min(a, b), max(a, b)) for a, b, _ in rows}
        prog = res["progress"]
        if prog:
            first = prog[0]["timestamp"]
            ts = dt.datetime.strptime(first, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
                tzinfo=dt.timezone.utc).timestamp()
            self.layer["streaming.startup_s"] = ts - res["t0"]
            self.layer["streaming.batch_p50_s"] = median(
                [p["durationMs"]["triggerExecution"] / 1e3 for p in prog])
            ops = prog[-1].get("stateOperators") or [{}]
            self.layer["streaming.state_rows"] = float(ops[0].get("numRowsTotal", 0))
            self.layer["streaming.state_bytes"] = float(ops[0].get("memoryUsedBytes", 0))
        if len(prog) != 4:
            return f"stream ran {len(prog)} micro-batches, want 4"
        bad = [r for r in rows if not 0 <= r[2] <= MAX_HAMMING]
        if bad:
            return f"stream: {len(bad)} pairs beyond hamming {MAX_HAMMING}"
        # a pair found through two bands may be emitted twice (documented)
        if got != self.stream_truth:
            return (f"stream: {len(got - self.stream_truth)} wrong pairs, "
                    f"{len(self.stream_truth - got)} missing")
        return None

    # -- figures ------------------------------------------------------------------

    def named_metrics(self, tracer) -> dict:
        cycles = [s for s in tracer.spans if s["layer"] == "op" and s["name"] == "cycle"]

        def per_cycle(*names):
            return median([sum(s["wall_s"] for s in tracer.spans
                               if s["parent"] == c["id"] and s["name"] in names)
                           for c in cycles])

        return {
            "dedup_docs_per_s": (self.n_docs / per_cycle("minhash_lsh_edges", "dedup_keep_list"), "docs/s"),
            "gate_docs_per_s": (self.n_inc / per_cycle("build_neardup_index", "incremental_neardup_gate"), "docs/s"),
            "stream_gate_s": (per_cycle("streaming_simhash_pairs"), "s"),
        }

    def probe(self, tracer) -> dict:
        """Traced run only: candidate pairs through the public blocking API,
        and how many of them an exact verify keeps."""
        from tetrex_spark.operators.dedup import (
            band_buckets,
            capped_candidate_pairs,
            lsh_bucket_stats,
            minhash_sigs_and_sets,
        )

        sig = minhash_sigs_and_sets(self.docs, id_col="doc_id").select("id", "sig").cache()
        buckets = band_buckets(sig, 32, 4)
        stats = lsh_bucket_stats(buckets, 512)
        cands = capped_candidate_pairs(buckets, 512, log_drops=False).select("id_a", "id_b").collect()
        sig.unpersist()
        verified = sum(truth.jaccard_ok(self.sets[a], self.sets[b], *THRESHOLD) for a, b in cands)
        return {
            "dedup.pair_yield": verified / len(cands) if cands else 0.0,
            "dedup.bucket_cap_drops": float(stats["n_over"]),
        }

    def layer_metrics(self, tracer) -> dict:
        out = dict(self.layer)
        out["incremental.index_build_s"] = median(tracer.walls("incremental", "build_neardup_index"))
        out["incremental.gate_s"] = median(tracer.walls("incremental", "incremental_neardup_gate"))
        return out

    def kernel_texts(self) -> list[str]:
        return [t for t in self.texts[: self.n_docs] if t]
