"""Sketch-table persistence + manifest — the analog of the reference's
cereal archive (store_ibf/load_ibf/load_params,
/root/reference/include/index_base.h:181-202).

TetRex serializes {k, molecule, is_hibf} ahead of the index and re-probes
them at query time to dispatch (src/query.cpp:477-498). We persist:
  - parquet sketch rows (bin_id, name, payload, n_items), partitioned by
    `name` so a query touching one sketch kind prunes the rest;
  - `manifest.json` holding n_bins, tokenizer version, seed and the full
    spec list — the query planner refuses to run against a manifest whose
    tokenizer/seed disagree with its own (silent-recall-loss guard).
"""

from __future__ import annotations

import json
import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from ..functions.text import TOKENIZER_VERSION
from ..kernel import from_bytes, unpack_payload
from ..operators.sketch_build import SketchSpec

MANIFEST_NAME = "manifest.json"
FORMAT_VERSION = 1
# bytes per rows file: AQE's default advisory partition size, which is what
# a freshly planned build coalesces its output to
ROWS_FILE_BYTES = 64 << 20


def rows_for_write(rows: DataFrame, payload_bytes: int) -> DataFrame:
    """Persisted sketch rows holding `payload_bytes` of payload, laid out
    for writing: one partition per ROWS_FILE_BYTES, rows in (name, bin_id)
    order. A persisted build output keeps its shuffle partition count, so
    written unchanged it would split the table into one small file per
    shuffle partition and sketch name."""
    n_files = max(1, -(-payload_bytes // ROWS_FILE_BYTES))
    return rows.coalesce(n_files).sortWithinPartitions("name", "bin_id")


def write_sketch_table(
    sketch_df: DataFrame,
    path: str,
    specs: list[SketchSpec],
    n_bins: int,
    *,
    build_id: str = "build-0",
    extra: dict | None = None,
) -> dict:
    """Write the rows table and the manifest; returns the manifest."""
    sketch_df.write.mode("overwrite").partitionBy("name").parquet(f"{path}/rows")
    manifest = {
        "format_version": FORMAT_VERSION,
        "tokenizer_version": TOKENIZER_VERSION,
        "n_bins": n_bins,
        "build_id": build_id,
        "specs": [s.manifest_entry() for s in specs],
        **(extra or {}),
    }
    os.makedirs(path, exist_ok=True)
    with open(f"{path}/{MANIFEST_NAME}", "w") as f:
        json.dump(manifest, f, indent=2, sort_keys=True)
    return manifest


def read_manifest(path: str) -> dict:
    with open(f"{path}/{MANIFEST_NAME}") as f:
        manifest = json.load(f)
    if manifest.get("tokenizer_version") != TOKENIZER_VERSION:
        raise ValueError(
            "sketch table was built with tokenizer "
            f"{manifest.get('tokenizer_version')!r}, this library is "
            f"{TOKENIZER_VERSION!r} — rebuild required (recall-loss guard)"
        )
    return manifest


def read_sketch_rows(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(f"{path}/rows")


def rows_by_name(rows) -> dict[str, list[tuple[int, bytes]]]:
    """Collected sketch rows -> {name: [(bin_id, payload), ...]} — one
    split of a single collected scan instead of one read per name."""
    out: dict[str, list[tuple[int, bytes]]] = {}
    for r in rows:
        out.setdefault(r["name"], []).append((r["bin_id"], bytes(r["payload"])))
    return out


def spec_from_manifest(manifest: dict, name: str) -> SketchSpec:
    for e in manifest["specs"]:
        if e["name"] == name:
            return SketchSpec(
                name=e["name"], kind=e["kind"], source=e["source"],
                k=e["k"], params=e["params"], seed=e["seed"],
            )
    raise KeyError(f"spec {name!r} not in manifest")


class BloomMatrix:
    """Driver-side stacked Bloom filters: the re-created 'interleaving'.

    TetRex's IBF answers one k-mer against B bins in one bulk_contains
    (/root/reference/include/index_ibf.h:146-150). We stack the B per-bin
    payload bitarrays into a (B, m/8) uint8 matrix; a probe slices h byte
    columns and ANDs — one vectorized op returning a length-B bool vector.
    Missing bins (no rows reached them) stay all-zero = 'cannot match'.
    """

    def __init__(self, n_bins: int, m_bits: int, n_hashes: int, matrix: np.ndarray):
        self.n_bins = n_bins
        self.m_bits = m_bits
        self.n_hashes = n_hashes
        self.matrix = matrix  # (n_bins, m_bits // 8) uint8

    @classmethod
    def from_rows(cls, rows: list[tuple[int, bytes]], n_bins: int) -> "BloomMatrix":
        if not rows:
            raise ValueError("no bloom rows to stack")
        first = from_bytes(rows[0][1])
        m_bits, n_hashes = first.m_bits, first.n_hashes
        matrix = np.zeros((n_bins, m_bits // 8), dtype=np.uint8)
        for bin_id, blob in rows:
            kind, params, body = unpack_payload(bytes(blob))
            if kind != "bloom" or params["m_bits"] != m_bits:
                raise ValueError("inconsistent bloom rows")
            matrix[bin_id] = np.frombuffer(body, dtype=np.uint8)
        return cls(n_bins, m_bits, n_hashes, matrix)

    def probe(self, keys: np.ndarray) -> np.ndarray:
        """(n_keys,) uint64 -> (n_keys, n_bins) bool membership matrix."""
        from ..kernel.hashing import bloom_positions

        keys = np.atleast_1d(np.asarray(keys, dtype=np.uint64))
        pos = bloom_positions(keys, self.m_bits, self.n_hashes)  # (n, h)
        byte_idx = pos >> 3
        bit = (np.uint8(1) << (pos & 7).astype(np.uint8))
        # matrix[:, byte_idx] -> (B, n, h); AND over h, transpose to (n, B)
        got = (self.matrix[:, byte_idx] & bit[None, :, :]) != 0
        return got.all(axis=2).T

    def probe_one(self, key: int) -> np.ndarray:
        """One key -> length-B bool vector (the bulk_contains analog)."""
        return self.probe(np.array([key], dtype=np.uint64))[0]
