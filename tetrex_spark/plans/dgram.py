"""D-gram (gapped-gram) index — the `tetrex track` analog.

The reference builds an auxiliary IBF over (3 chars, gap g, 3 chars)
grams for g in [min_gap, max_gap] (process_sequence,
/root/reference/include/dGramIndex.h:194-243; code formula :231-238;
driver src/dGramIndex.cpp:20-38) and probes it when the traversal crosses
a Gap node (update_gapped, include/otf_collector.h:216-245) — recovering
pruning power for motifs with bounded wildcard runs like 'w.{2}ld'.

Spark-first: one more Bloom sketch family built by the same partial/merge
machinery, one row per (bin, gap); the traversal probes the stacked
matrix per candidate gap length and ORs the resulting bin vectors.

Key formula: combine(h(left3), g, h(right3)) via position-weighted mixing
— computed identically by the vectorized build path and the driver-side
probe (same two-arity rule as every hash in this library).
"""

from __future__ import annotations

import json
import os

import numpy as np
from pyspark.sql import DataFrame

from ..functions.text import TOKENIZER_VERSION
from ..kernel.hashing import combine_dgram, hash_str
from ..kernel.bloom import bloom_m_bits
from ..operators.sketch_build import DGRAM_PAD, SketchSpec, build_sketches
from ..sources.sketch_store import (
    MANIFEST_NAME,
    BloomMatrix,
    read_manifest,
    rows_by_name,
    rows_for_write,
)

DGRAM_PREFIX = "dgram_bloom_g"
PAD = DGRAM_PAD  # fixed 3+3 pads, like the reference (dGramIndex.h pad_)


def dgram_key(left3: str, gap: int, right3: str, seed: int = 42) -> int:
    """Driver-side single-key probe hash (== build path, one code path:
    kernel.hashing.combine_dgram serves both)."""
    return int(
        combine_dgram(
            np.array([hash_str(left3, seed)], dtype=np.uint64),
            gap,
            np.array([hash_str(right3, seed)], dtype=np.uint64),
        )[0]
    )


def build_dgram_index(
    corpus: DataFrame,
    path: str,
    *,
    n_bins: int = 64,
    min_gap: int = 3,
    max_gap: int = 21,
    fpr: float = 0.05,
    n_hashes: int = 3,
    bin_key=None,
    seed: int = 42,
) -> None:
    """Build gapped-gram Blooms (one sketch name per gap) into an index
    dir — appends to the dir's manifest if one exists (track runs after
    index, like the reference). Sizes the filters with its own JVM-only
    aggregate; MotifIndex.track reuses the bound its build recorded."""
    from ..operators.sketch_build import max_bin_cardinality
    from ..sources.corpus import with_bin_id

    binned = (
        corpus
        if "bin_id" in corpus.columns
        else with_bin_id(corpus, n_bins, bin_key=bin_key)
    )
    # size by the largest bin's char-PAD-gram count (upper bound on
    # d-grams per gap)
    write_dgrams(
        binned, path, n_bins, max_bin_cardinality(binned, "char_kgram", PAD),
        min_gap=min_gap, max_gap=max_gap, fpr=fpr, n_hashes=n_hashes, seed=seed,
    )


def write_dgrams(
    binned: DataFrame,
    path: str,
    n_bins: int,
    n_max: int,
    *,
    min_gap: int,
    max_gap: int,
    fpr: float,
    n_hashes: int = 3,
    seed: int = 42,
) -> tuple["DGramIndex", dict]:
    """One kernel pass over `binned` for every gap in [min_gap, max_gap]
    (Blooms sized for `n_max` keys per bin), appended to `path`'s rows
    table, with the dir's manifest (a fresh one when it has none)
    extended and rewritten; returns (index, the manifest written). The
    rows are persisted once, collected and written from that cache; the
    index is built from the collected rows, so nothing is read back.

    One SketchSpec per gap through the SHARED compact-partial build:
    the char-PAD-gram pass is computed once per batch and shared by every
    gap spec via the _BatchDerived cache, and the two-level merge tree
    caps fan-in exactly like the main build."""
    manifest = {
        "format_version": 1,
        "tokenizer_version": TOKENIZER_VERSION,
        "n_bins": n_bins,
        "specs": [],
    }
    if os.path.exists(f"{path}/{MANIFEST_NAME}"):
        manifest = read_manifest(path)
        # Guard against binning d-grams with a different modulus than
        # the existing index (same pattern as the tokenizer_version check
        # in read_manifest): a mismatched n_bins would AND mis-mapped bin
        # vectors into query paths — silent recall loss, not an error.
        if manifest.get("n_bins") not in (None, n_bins):
            raise ValueError(
                f"n_bins={n_bins} does not match the existing index manifest "
                f"(n_bins={manifest['n_bins']}) at {path}; pass n_bins="
                f"{manifest['n_bins']} (the CLI does this automatically)"
            )
    m_bits = bloom_m_bits(n_max, fpr)
    specs = [
        SketchSpec(
            f"{DGRAM_PREFIX}{gap}", "bloom", "dgram", k=gap,
            params={"m_bits": m_bits, "n_hashes": n_hashes}, seed=seed,
        )
        for gap in range(min_gap, max_gap + 1)
    ]
    rows = build_sketches(binned, specs).persist()
    try:
        collected = rows.collect()
        n_bytes = sum(len(r["payload"]) for r in collected)
        out = rows_for_write(rows, n_bytes)
        out.write.mode("append").partitionBy("name").parquet(f"{path}/rows")
    finally:
        rows.unpersist()
    manifest = {
        **manifest,
        "dgram": {
            "min_gap": min_gap,
            "max_gap": max_gap,
            "m_bits": m_bits,
            "n_hashes": n_hashes,
            "seed": seed,
        },
    }
    with open(f"{path}/{MANIFEST_NAME}", "w") as f:
        json.dump(manifest, f, indent=2, sort_keys=True)
    return DGramIndex.from_rows(manifest, rows_by_name(collected)), manifest


class DGramIndex:
    """Driver-side stacked d-gram Blooms: probe(left3, gap, right3) ->
    length-B bin vector; gaps outside [min_gap, max_gap] are
    unconstrained (all-ones), mirroring update_gapped's behavior."""

    def __init__(self, matrices: dict[int, BloomMatrix], n_bins: int,
                 min_gap: int, max_gap: int, seed: int = 42):
        self.matrices = matrices
        self.n_bins = n_bins
        self.min_gap = min_gap
        self.max_gap = max_gap
        self.seed = seed

    @classmethod
    def from_rows(cls, manifest: dict,
                  rows: dict[str, list[tuple[int, bytes]]]) -> "DGramIndex | None":
        """Stack the manifest's gap range from rows split by sketch name
        (sources.sketch_store.rows_by_name); None for an untracked index."""
        cfg = manifest.get("dgram")
        if not cfg:
            return None
        names = {g: f"{DGRAM_PREFIX}{g}" for g in range(cfg["min_gap"], cfg["max_gap"] + 1)}
        matrices = {
            gap: BloomMatrix.from_rows(rows[name], manifest["n_bins"])
            for gap, name in names.items()
            if rows.get(name)
        }
        return cls(matrices, manifest["n_bins"], cfg["min_gap"], cfg["max_gap"],
                   cfg.get("seed", 42))

    def probe_gap(self, left3: str, gaps, right3: str) -> np.ndarray:
        """OR over candidate gap lengths; any out-of-range gap makes the
        whole probe unconstrained (cannot rule anything out)."""
        result = np.zeros(self.n_bins, dtype=bool)
        for g in gaps:
            if g < self.min_gap or g > self.max_gap or g not in self.matrices:
                return np.ones(self.n_bins, dtype=bool)
            result |= self.matrices[g].probe_one(dgram_key(left3, g, right3, self.seed))
        return result
