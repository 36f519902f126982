"""Distributed sketch build + merge — the UDAF family of the north rule.

The reference's index build (populate_index,
/root/reference/include/index_ibf.h:101-131) buffers k-mers per bin (A1),
sizes the filter to the largest bin (A2, :133-139) and bulk-inserts (A3,
:88-99) — all single-process. The Spark-first re-expression:

  stage 1 (map side, NO shuffle of raw data):
      mapInPandas over corpus partitions; each task folds its rows into
      one partial sketch per (bin_id, spec) it sees, Arrow-batch at a
      time, fully numpy-vectorized. This is the map-side combine: the
      shuffle then moves only serialized payloads (KB), never shingles.
  stage 2 (merge tree):
      groupBy(bin_id, name) + applyInPandas merging payloads. When the
      task count is large an intermediate salted level caps the fan-in
      (the treeAggregate shape, but expressed on DataFrames so AQE still
      plans it).

Scale notes (100 TB / 1000 executors):
  - raw keys never shuffle; partial count = tasks x bins-per-task.
  - merge fan-in capped by `fanin` via a deterministic-enough salt
    (spark_partition_id); merge is associative+commutative so grouping
    layout cannot change results (property-tested).
  - skewed hosts don't skew this build: partials are per *task*, so a hot
    bin simply appears in more tasks; no repartition-by-bin is needed.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..kernel import REGISTRY, from_bytes, pack_payload, unpack_payload
from ..kernel.hashing import concat_ranges
from ..functions.text import corpus_text_series

SKETCH_ROW_SCHEMA = T.StructType(
    [
        T.StructField("bin_id", T.IntegerType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("payload", T.BinaryType(), False),
        T.StructField("n_items", T.LongType(), False),
    ]
)

KEY_SOURCES = ("token_shingle", "char_kgram", "token", "dgram", "char")
VALUE_SOURCES = ("doc_length_chars", "doc_length_tokens")
DGRAM_PAD = 3  # fixed 3+3 d-gram pads, like the reference (dGramIndex.h)


@dataclass(frozen=True)
class SketchSpec:
    """One sketch to build: which kernel, over which derived keys/values."""

    name: str
    kind: str  # bloom | hll | cms | kll | tdigest | charset
    source: str  # token_shingle | char_kgram | token | dgram | char | doc_length_*
    k: int = 3  # shingle/gram width; for source='dgram' the GAP length
    params: dict = field(default_factory=dict)
    seed: int = 42

    def __post_init__(self):
        if self.kind not in REGISTRY:
            raise ValueError(f"unknown sketch kind {self.kind!r}")
        if self.source not in KEY_SOURCES + VALUE_SOURCES:
            raise ValueError(f"unknown source {self.source!r}")

    def make(self):
        return REGISTRY[self.kind](**self.params)

    def manifest_entry(self) -> dict:
        return {
            "name": self.name,
            "kind": self.kind,
            "source": self.source,
            "k": self.k,
            "params": self.params,
            "seed": self.seed,
        }


class _BatchDerived:
    """Per-Arrow-batch derivation cache: tokenize + hash each batch ONCE
    and serve every spec from it (three token-sourced specs used to cost
    three full split+hash passes)."""

    def __init__(self, text: pd.Series):
        self.text = text
        self._tok: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        self._chargrams: dict[tuple[int, int], tuple[np.ndarray, np.ndarray]] = {}

    def _token_hashes(self, seed: int) -> tuple[np.ndarray, np.ndarray]:
        got = self._tok.get(seed)
        if got is None:
            from ..kernel.hashing import hash_ws_tokens_series

            got = self._tok[seed] = hash_ws_tokens_series(self.text, seed)
        return got

    def _char_grams(self, k: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
        got = self._chargrams.get((k, seed))
        if got is None:
            from ..kernel.hashing import hash_char_kgrams_series

            got = self._chargrams[(k, seed)] = hash_char_kgrams_series(
                self.text, k, seed
            )
        return got

    def extract(self, spec: SketchSpec) -> tuple[np.ndarray, np.ndarray]:
        """(concatenated keys/values, per-doc counts)."""
        from ..functions.text import _combine_shingles

        if spec.source in ("token_shingle", "token"):
            th, counts_tok = self._token_hashes(spec.seed)
            k = spec.k if spec.source == "token_shingle" else 1
            if th.size == 0:
                return np.zeros(0, dtype=np.uint64), np.zeros(len(self.text), np.int64)
            return _combine_shingles(th, counts_tok, k)
        if spec.source == "char_kgram":
            return self._char_grams(spec.k, spec.seed)
        if spec.source == "dgram":
            # spec.k is the GAP length; keys pair char-PAD-grams across it.
            # The char-gram pass is cached, so a full gap range costs ONE
            # gram hashing pass + cheap per-gap gathers.
            from ..kernel.hashing import dgram_keys_from_chargrams

            grams, counts = self._char_grams(DGRAM_PAD, spec.seed)
            return dgram_keys_from_chargrams(grams, counts, spec.k, DGRAM_PAD)
        if spec.source == "char":
            # code points of the same normalized text the char-kgram
            # Bloom hashes (spec.k and seed do not apply)
            cps = np.frombuffer("".join(self.text).encode("utf-32-le"), dtype=np.uint32)
            return cps, self.text.str.len().to_numpy(dtype=np.int64)
        if spec.source == "doc_length_chars":
            vals = self.text.str.len().fillna(0).to_numpy(dtype=np.float64)
            return vals, np.ones(len(self.text), dtype=np.int64)
        if spec.source == "doc_length_tokens":
            _, counts_tok = self._token_hashes(spec.seed)
            return counts_tok.astype(np.float64), np.ones(len(self.text), dtype=np.int64)
        raise AssertionError(spec.source)


def _extract(spec: SketchSpec, text: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """(concatenated keys/values, per-doc counts) for one Arrow batch."""
    return _BatchDerived(text).extract(spec)


def _dense_bytes(spec: SketchSpec) -> int:
    """Approximate serialized size of the dense sketch — the spill/compact
    threshold."""
    p = spec.params
    if spec.kind == "bloom":
        return p["m_bits"] // 8
    if spec.kind == "hll":
        return 1 << p["p"]
    if spec.kind == "cms":
        return p["width"] * p["depth"] * 8
    if spec.kind == "charset":
        # the dense form is already the distinct set, never larger than a
        # key buffer: materialize on the first segment
        return 0
    return 4096  # kll / tdigest payloads are small and value-count-bound


def _update_sketch(spec: SketchSpec, sk, keys: np.ndarray, counts: np.ndarray | None):
    if spec.kind == "cms" and counts is not None:
        sk.update(keys, counts)
    else:
        sk.update(keys)
    return sk


def _compact(spec: SketchSpec, bufs: list[np.ndarray]) -> tuple[bytes, object | None]:
    """Buffered keys/values of one (bin, spec) -> the smaller of a compact
    raw partial or the dense sketch. The raw-buffer path is the analog of
    the reference's A1 per-bin k-mer buffering before init_ibf
    (/root/reference/include/index_ibf.h:71-99): the shuffle then moves
    unique keys (or key-count pairs), not full bitmaps — typically 10-100x
    less traffic for sparse (task, bin) segments."""
    allv = np.concatenate(bufs)
    dense = _dense_bytes(spec)
    if spec.kind in ("bloom", "hll"):
        u = np.unique(allv)
        if u.nbytes < dense:
            return pack_payload(
                "partial", {"spec": spec.name, "form": "keys"}, u.tobytes()
            ), None
    elif spec.kind == "cms":
        u, c = np.unique(allv, return_counts=True)
        if u.nbytes * 2 < dense:
            body = u.tobytes() + c.astype(np.int64).tobytes()
            return pack_payload(
                "partial", {"spec": spec.name, "form": "pairs"}, body
            ), None
    else:  # kll / tdigest: raw float values
        if allv.nbytes < dense:
            return pack_payload(
                "partial", {"spec": spec.name, "form": "values"},
                allv.astype(np.float64).tobytes(),
            ), None
    sk = spec.make()
    if spec.kind == "cms":
        u, c = np.unique(allv, return_counts=True)
        sk.update(u, c)
    else:
        sk.update(allv)
    return sk.to_bytes(), sk


def _unpack_partial(blob: bytes, spec: SketchSpec):
    """-> ('partial', keys, counts) | ('sketch', sketch, None)."""
    kind, params, body = unpack_payload(bytes(blob))
    if kind != "partial":
        return "sketch", from_bytes(bytes(blob)), None
    form = params["form"]
    if form == "keys":
        return "partial", np.frombuffer(body, dtype=np.uint64), None
    if form == "pairs":
        half = len(body) // 2
        return (
            "partial",
            np.frombuffer(body[:half], dtype=np.uint64),
            np.frombuffer(body[half:], dtype=np.int64),
        )
    return "partial", np.frombuffer(body, dtype=np.float64), None


def _partial_builder(specs: list[SketchSpec], has_html: bool):
    dense = {s.name: _dense_bytes(s) for s in specs}
    by_name = {s.name: s for s in specs}

    # Cache tiling: an Arrow batch (10k docs) spawns per-stage uint64
    # temporaries ~10-30x the text bytes; at full batch size every stage
    # round-trips DRAM, and DRAM bandwidth is the shared resource that
    # caps 4->16-slot scaling on one socket (see scripts/membw_probe.py).
    # Processing a cache-sized slice of documents at a time keeps the
    # hash/shingle intermediates L2/L3-resident; the (bin, spec) buffers
    # already accumulate across slices, so output is unchanged.
    chunk_docs = int(os.environ.get("TETREX_CHUNK_DOCS", "2048"))

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # (bin, spec) -> either buffered arrays or a materialized sketch
        bufs: dict[tuple[int, str], list[np.ndarray]] = {}
        buf_bytes: dict[tuple[int, str], int] = {}
        sketches: dict[tuple[int, str], object] = {}
        items: dict[tuple[int, str], int] = {}
        def _consume_chunk(pdf: pd.DataFrame) -> None:
            text = corpus_text_series(
                pdf["text"], pdf["html"] if has_html and "html" in pdf else None
            )
            bins = pdf["bin_id"].to_numpy(dtype=np.int64)
            derived = _BatchDerived(text)
            # group DOCS by bin once (300k-element argsort), then gather
            # each spec's keys through concat_ranges — never argsort the
            # 100x-larger key stream itself
            doc_order = np.argsort(bins, kind="stable")
            doc_bins_sorted = bins[doc_order]
            uniq, doc_firsts = np.unique(doc_bins_sorted, return_index=True)
            for spec in specs:
                keys, counts = derived.extract(spec)
                if keys.size == 0:
                    continue
                key_starts = np.zeros(counts.size, dtype=np.int64)
                np.cumsum(counts[:-1], out=key_starts[1:])
                c_sorted = counts[doc_order]
                sorted_keys = keys[concat_ranges(key_starts[doc_order], c_sorted)]
                kcum = np.zeros(c_sorted.size + 1, dtype=np.int64)
                np.cumsum(c_sorted, out=kcum[1:])
                bounds = np.append(kcum[doc_firsts], sorted_keys.size)
                for i, b in enumerate(uniq):
                    seg = sorted_keys[bounds[i] : bounds[i + 1]]
                    if seg.size == 0:
                        continue
                    kk = (int(b), spec.name)
                    items[kk] = items.get(kk, 0) + seg.size
                    if kk in sketches:
                        _update_sketch(spec, sketches[kk], seg, None)
                        continue
                    bufs.setdefault(kk, []).append(seg)
                    buf_bytes[kk] = buf_bytes.get(kk, 0) + seg.nbytes
                    if buf_bytes[kk] >= 2 * dense[spec.name]:
                        # buffer outgrew the dense form: spill into a sketch
                        allv = np.concatenate(bufs.pop(kk))
                        buf_bytes.pop(kk)
                        sketches[kk] = _update_sketch(spec, spec.make(), allv, None)

        for whole in batches:
            if whole.empty:
                continue
            if len(whole) <= chunk_docs:
                _consume_chunk(whole)
            else:
                for lo in range(0, len(whole), chunk_docs):
                    _consume_chunk(whole.iloc[lo : lo + chunk_docs])

        out = {"bin_id": [], "name": [], "payload": [], "n_items": []}
        for kk, sk in sketches.items():
            out["bin_id"].append(kk[0])
            out["name"].append(kk[1])
            out["payload"].append(sk.to_bytes())
            out["n_items"].append(items[kk])
        for kk, arrs in bufs.items():
            blob, _ = _compact(by_name[kk[1]], arrs)
            out["bin_id"].append(kk[0])
            out["name"].append(kk[1])
            out["payload"].append(blob)
            out["n_items"].append(items[kk])
        if out["bin_id"]:
            yield pd.DataFrame(out)

    return fn


def _make_merger(specs: list[SketchSpec], final: bool = True):
    """Merge partial rows per group. With final=False (intermediate tree
    levels) the output stays in COMPACT form whenever that is smaller than
    the dense sketch — densifying at inner levels would multiply shuffle
    bytes by the fan-out (observed 20k premature bitmaps = more CPU than
    the whole build). Only the last level materializes dense sketches."""
    by_name = {s.name: s for s in specs}

    def merger(pdf: pd.DataFrame) -> pd.DataFrame:
        name = pdf["name"].iloc[0]
        spec = by_name[name]
        sk = None
        pending: list[tuple[np.ndarray, np.ndarray | None]] = []
        for blob in pdf["payload"]:
            what, a, c = _unpack_partial(blob, spec)
            if what == "sketch":
                sk = a if sk is None else sk.merge(a)
            else:
                pending.append((a, c))
        row = {
            "bin_id": [pdf["bin_id"].iloc[0]],
            "name": [name],
            "n_items": [int(pdf["n_items"].sum())],
        }
        if pending:
            keys = np.concatenate([p[0] for p in pending])
            counts = (
                np.concatenate([p[1] for p in pending])
                if spec.kind == "cms"
                else None
            )
            if sk is None and not final:
                # all-compact group at an inner level: re-compact
                if spec.kind == "cms":
                    u, inv = np.unique(keys, return_inverse=True)
                    summed = np.zeros(u.size, dtype=np.int64)
                    np.add.at(summed, inv, counts)
                    if u.nbytes * 2 < _dense_bytes(spec):
                        row["payload"] = [pack_payload(
                            "partial", {"spec": name, "form": "pairs"},
                            u.tobytes() + summed.tobytes())]
                        return pd.DataFrame(row)
                    keys, counts = u, summed
                elif spec.kind in ("bloom", "hll"):
                    u = np.unique(keys)
                    if u.nbytes < _dense_bytes(spec):
                        row["payload"] = [pack_payload(
                            "partial", {"spec": name, "form": "keys"},
                            u.tobytes())]
                        return pd.DataFrame(row)
                    keys = u
                else:
                    if keys.nbytes < _dense_bytes(spec):
                        row["payload"] = [pack_payload(
                            "partial", {"spec": name, "form": "values"},
                            keys.astype(np.float64).tobytes())]
                        return pd.DataFrame(row)
            if sk is None:
                sk = spec.make()
            _update_sketch(spec, sk, keys, counts)
        elif sk is None:
            sk = spec.make()
        row["payload"] = [sk.to_bytes()]
        return pd.DataFrame(row)

    return merger


def _merger(pdf: pd.DataFrame) -> pd.DataFrame:
    """Merge rows that are all REAL sketches (final-table merging, used by
    lineage finalize and streaming state union — compact partials never
    appear there)."""
    sk = from_bytes(bytes(pdf["payload"].iloc[0]))
    for blob in pdf["payload"].iloc[1:]:
        sk.merge(from_bytes(bytes(blob)))
    return pd.DataFrame(
        {
            "bin_id": [pdf["bin_id"].iloc[0]],
            "name": [pdf["name"].iloc[0]],
            "payload": [sk.to_bytes()],
            "n_items": [int(pdf["n_items"].sum())],
        }
    )


def build_sketches(
    corpus: DataFrame,
    specs: list[SketchSpec],
    *,
    fanin: int = 64,
) -> DataFrame:
    """corpus (must carry bin_id, text[, html]) -> sketch rows
    (bin_id, name, payload, n_items), one row per (bin, spec).

    Two-level merge tree engages automatically when the input has more
    partitions than `fanin` — partial rows first combine within salted
    sub-groups, then per (bin, name)."""
    if "bin_id" not in corpus.columns:
        raise ValueError("corpus needs a bin_id column (sources.corpus.with_bin_id)")
    has_html = "html" in corpus.columns
    cols = ["bin_id", "text"] + (["html"] if has_html else [])
    partials = corpus.select(*cols).mapInPandas(
        _partial_builder(specs, has_html), SKETCH_ROW_SCHEMA
    )
    n_parts = corpus.rdd.getNumPartitions()
    if n_parts > 2 * fanin:
        # intermediate level: ~fanin partials per bucket, compact output
        inner = _make_merger(specs, final=False)
        n_buckets = (n_parts + fanin - 1) // fanin
        salted = partials.withColumn(
            "salt", (F.spark_partition_id() % F.lit(n_buckets)).cast("int")
        )
        partials = salted.groupBy("bin_id", "name", "salt").applyInPandas(
            lambda pdf: inner(pdf.drop(columns=["salt"])),
            SKETCH_ROW_SCHEMA,
        )
    final = _make_merger(specs, final=True)
    return partials.groupBy("bin_id", "name").applyInPandas(final, SKETCH_ROW_SCHEMA)


# -- sizing (reference parity: find_largest_bin + compute_bitcount) ----------


def max_bin_cardinality(corpus: DataFrame, source: str, k: int) -> int:
    """Upper bound on per-bin key count for Bloom sizing, computed with
    pure JVM expressions (one cheap aggregate scan, no UDF) — the analog
    of find_largest_bin (/root/reference/include/index_ibf.h:133-139).
    Counts are pre-dedup (an overestimate of distinct keys, hence safe)."""
    return max_bin_cardinalities(corpus, source, [k])[0]


def max_bin_cardinalities(corpus: DataFrame, source: str, ks: list[int]) -> list[int]:
    """`max_bin_cardinality` for several widths in the same aggregate
    scan: element i is exactly max_bin_cardinality(corpus, source, ks[i])."""
    html_text = (
        F.regexp_replace(F.decode(F.col("html"), "UTF-8"), "<[^>]*>", " ")
        if "html" in corpus.columns
        else F.lit(None)
    )
    text = F.coalesce(F.col("text"), html_text, F.lit(""))
    if source == "char_kgram":
        cnts = [F.greatest(F.length(text) - F.lit(k - 1), F.lit(0)) for k in ks]
    elif source in ("token_shingle", "token"):
        ntok = F.size(F.split(F.trim(text), r"\s+"))
        ws = [1 if source == "token" else k for k in ks]
        cnts = [F.greatest(ntok - F.lit(w - 1), F.lit(0)) for w in ws]
    else:
        raise ValueError(f"not a key source: {source}")
    row = (
        corpus.groupBy("bin_id")
        .agg(*[F.sum(c).alias(f"n{i}") for i, c in enumerate(cnts)])
        .agg(*[F.max(f"n{i}").alias(f"mx{i}") for i in range(len(cnts))])
        .collect()[0]
    )
    return [int(row[f"mx{i}"] or 0) for i in range(len(cnts))]


def collect_sketches(sketch_df: DataFrame) -> dict[tuple[int, str], object]:
    """Driver-side: materialize sketch rows into kernel objects."""
    return {
        (r["bin_id"], r["name"]): from_bytes(bytes(r["payload"]))
        for r in sketch_df.collect()
    }
