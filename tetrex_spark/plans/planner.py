"""MotifIndex — the end-to-end query planner tying build, traversal and
verification together. The Spark analog of `tetrex index` + `tetrex track`
+ `tetrex query` (reference src/main.cpp:36-59,
src/query.cpp:375-498):

  build:  corpus -> bin_id -> ONE JVM sizing aggregate (max per-bin
          char-kgram and char-PAD-gram counts) -> ONE kernel pass building
          the char-kgram Bloom and the exact charset per bin -> ONE write
          of the Bloom rows + manifest (sizing, the PAD-gram bound, and
          the indexed alphabet — the closed alphabet TetRex gets for free
          from the 20-AA residue set). The pass output is persisted,
          collected and written from that cache; nothing is re-read.
  track:  the SAME corpus -> ONE kernel pass building every gap's d-gram
          Bloom, sized from the bound build recorded -> ONE append. The
          char and d-gram bin vectors are AND-ed at query time, so both
          families must index the same corpus under the same binning.
  query:  normalize + trim -> postfix -> NFA (bounded unroll) ->
          traversal over the stacked Bloom matrix -> candidate bins ->
          isin-pruned corpus scan -> Arrow-batched regex verify ->
          (url, match, start, end) DataFrame.

build and track return the index from the rows they collected;
MotifIndex.load (one scan of the rows table) opens a stored index for
querying.

The traversal runs on the driver exactly as in TetRex — the Bloom matrix
is tiny relative to the corpus (B x m bits), and this is the honest
reading of 'per-partition Bloom bins' in the north star: the *corpus*
never moves; only candidate bin ids cross back into the cluster as a
pushed-down predicate.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import normalize_query
from ..kernel import CharSet, from_bytes
from ..operators.sketch_build import (
    DGRAM_PAD,
    SketchSpec,
    build_sketches,
    max_bin_cardinalities,
)
from ..operators.verify import (
    prune_to_bins,
    verify_conjunctive,
    verify_regex,
    verify_regex_many,
)
from ..sources.corpus import hot_hosts, with_bin_id
from ..sources.sketch_store import (
    BloomMatrix,
    read_manifest,
    read_sketch_rows,
    rows_by_name,
    rows_for_write,
    write_sketch_table,
)
from ..kernel.bloom import bloom_m_bits
from .nfa import compile_nfa
from .rx import trim_regex
from .traverse import TraversalResult, collect

MOTIF_SKETCH_NAME = "char_bloom"
ALPHABET_SKETCH_NAME = "charset"  # built with the Bloom, never written


class MotifIndex:
    """Built index handle: manifest + driver-side Bloom matrix (+ the
    optional d-gram matrices from a `track` run)."""

    def __init__(self, bloom: BloomMatrix, manifest: dict, k: int, alphabet: str,
                 dgram=None):
        self.bloom = bloom
        self.manifest = manifest
        self.k = k
        self.alphabet = alphabet
        self.dgram = dgram

    # -- build ---------------------------------------------------------------

    @staticmethod
    def build(
        corpus: DataFrame,
        path: str,
        *,
        n_bins: int = 64,
        k: int = 3,
        fpr: float = 0.05,
        n_hashes: int = 3,
        bin_key=None,
        salt_hot_hosts: str | list[str] | None = None,
        n_salt: int = 8,
        hot_factor: float = 4.0,
    ) -> "MotifIndex":
        """`tetrex index` analog. Sizes the filters to the largest bin
        (include/index_ibf.h:133-139) via ONE JVM-only sizing aggregate,
        then ONE kernel pass builds the Bloom and the indexed alphabet;
        the pass output is persisted, collected (the returned index is
        built from it) and written once from that cache — no read-back.

        `salt_hot_hosts` wires the north-rule salted-repartitioning clause
        into the build itself: 'auto' detects hosts exceeding `hot_factor`
        x the mean bin load (sources.corpus.hot_hosts) and spreads each
        over `n_salt` salt-shards; an explicit host list skips detection
        (e.g. fed from lineage.skew_report). The salted assignment is
        RECORDED IN THE MANIFEST, so query()/query_all() recompute the
        identical bin ids with zero caller involvement — hit sets are
        unchanged (salted shards are ordinary bins; property-tested), only
        the hot host's verify scan stops concentrating in one bin. This is
        the recommended setting for skewed web corpora.

        A corpus that already carries bin_id (e.g. pre-salted via
        with_bin_id(salt_hot_hosts=...)) keeps its assignment — query()
        honors the same rule, so build and prune always agree."""
        if "bin_id" in corpus.columns:
            # the pre-assigned bin ids ARE the index layout; recording a
            # salt we never applied would make query() re-bin hot hosts
            # differently from the bins their kgrams were indexed under
            # (silent false negatives)
            if salt_hot_hosts:
                raise ValueError(
                    "salt_hot_hosts requires build() to assign bin_id "
                    "itself; either drop the corpus's bin_id column or "
                    "pre-salt via with_bin_id(salt_hot_hosts=...) and "
                    "query with the same pre-binned corpus"
                )
            salted: list[str] = []
            binned = corpus
        else:
            if salt_hot_hosts == "auto":
                salted = hot_hosts(corpus, n_bins, factor=hot_factor)
            else:
                salted = sorted(salt_hot_hosts) if salt_hot_hosts else []
            binned = with_bin_id(
                corpus, n_bins, bin_key=bin_key,
                salt_hot_hosts=salted or None, n_salt=n_salt,
            )
        # ONE sizing aggregate: the char-kgram Bloom's bound and the
        # PAD-gram bound track() sizes the d-gram Blooms with
        n_max, n_pad = max_bin_cardinalities(binned, "char_kgram", [k, DGRAM_PAD])
        spec = SketchSpec(
            MOTIF_SKETCH_NAME,
            "bloom",
            "char_kgram",
            k=k,
            params={"m_bits": bloom_m_bits(n_max, fpr), "n_hashes": n_hashes},
        )
        charset = SketchSpec(ALPHABET_SKETCH_NAME, "charset", "char")
        rows = build_sketches(binned, [spec, charset]).persist()
        try:
            got = rows_by_name(rows.collect())
            blooms = got.get(MOTIF_SKETCH_NAME, [])
            bloom = BloomMatrix.from_rows(blooms, n_bins)
            alphabet = CharSet()
            for _, blob in got.get(ALPHABET_SKETCH_NAME, []):
                alphabet.merge(from_bytes(blob))
            manifest = write_sketch_table(
                rows_for_write(rows.filter(F.col("name") == MOTIF_SKETCH_NAME),
                               sum(len(blob) for _, blob in blooms)),
                path,
                [spec],
                n_bins,
                extra={
                    "k": k, "fpr": fpr, "alphabet": alphabet.chars(),
                    "max_bin_pad_grams": n_pad,
                    "salted_hosts": salted, "n_salt": n_salt,
                },
            )
        finally:
            rows.unpersist()
        return MotifIndex(bloom, manifest, k, manifest["alphabet"])

    @staticmethod
    def load(spark: SparkSession, path: str) -> "MotifIndex":
        """Open a stored index for querying: one scan of the rows table,
        split by sketch name after the collect."""
        from .dgram import DGramIndex

        manifest = read_manifest(path)
        rows = rows_by_name(read_sketch_rows(spark, path).collect())
        bloom = BloomMatrix.from_rows(rows.get(MOTIF_SKETCH_NAME, []), manifest["n_bins"])
        return MotifIndex(bloom, manifest, manifest["k"], manifest["alphabet"],
                          dgram=DGramIndex.from_rows(manifest, rows))

    def _binned(self, corpus: DataFrame, n_bins: int, bin_key=None) -> DataFrame:
        """Bin assignment matching THIS index's manifest — including any
        recorded hot-host salting, so build, d-gram track and query prune
        always agree on bin ids."""
        if "bin_id" in corpus.columns:
            return corpus
        return with_bin_id(
            corpus, n_bins, bin_key=bin_key,
            salt_hot_hosts=self.manifest.get("salted_hosts") or None,
            n_salt=self.manifest.get("n_salt", 8),
        )

    def track(self, corpus: DataFrame, path: str, *, min_gap: int = 1,
              max_gap: int = 21, fpr: float = 0.05, bin_key=None) -> "MotifIndex":
        """`tetrex track` analog: add the gapped-gram sketch family to
        this index (src/dGramIndex.cpp:20-38) and return the tracked index.

        Contract: `corpus` is the corpus this index was built from. The
        d-gram Blooms are sized from the PAD-gram bound build recorded
        (manifest `max_bin_pad_grams`), and at query time the char and
        d-gram bin vectors are AND-ed, so both families must index the
        same documents under the same binning; the corpus is binned with
        the manifest's (possibly salted) assignment.

        Passes: no sizing aggregate, ONE kernel pass over every gap, ONE
        append of the d-gram rows from the persisted pass output. The
        returned index reuses this index's Bloom matrix and stacks the
        d-gram matrices from the collected rows; nothing is re-read."""
        from .dgram import write_dgrams

        n_pad = self.manifest.get("max_bin_pad_grams")
        if n_pad is None:
            raise ValueError(
                f"the motif index at {path} predates the recorded d-gram "
                "sizing bound (manifest max_bin_pad_grams); rebuild it with "
                "MotifIndex.build before track"
            )
        n_bins = self.manifest["n_bins"]
        dgram, manifest = write_dgrams(
            self._binned(corpus, n_bins, bin_key), path, n_bins, n_pad,
            min_gap=min_gap, max_gap=max_gap, fpr=fpr,
        )
        return MotifIndex(self.bloom, manifest, self.k, self.alphabet, dgram=dgram)

    # -- plan ----------------------------------------------------------------

    def candidate_bins(self, pattern: str) -> TraversalResult:
        """regex -> candidate bin vector (stages P7/P8 -> F1-F3 -> A5-A8)."""
        trimmed = trim_regex(normalize_query(pattern))
        if not trimmed:
            ones = np.ones(self.bloom.n_bins, dtype=bool)
            return TraversalResult(ones, 0, 0, True)
        nfa = compile_nfa(trimmed, self.k, frozenset(self.alphabet))
        return collect(nfa, self.bloom, self.k, dgram=self.dgram)

    # -- execute ---------------------------------------------------------------

    def query(
        self,
        corpus: DataFrame,
        pattern: str,
        *,
        n_bins: int | None = None,
        bin_key=None,
    ) -> DataFrame:
        """Full pipeline -> matches (url, match, start, end).

        `corpus` may be the same DataFrame the index was built from or a
        re-read of the same table; bin assignment is recomputed with the
        same deterministic hash so ids line up."""
        n_bins = n_bins or self.manifest["n_bins"]
        res = self.candidate_bins(pattern)
        binned = self._binned(corpus, n_bins, bin_key)
        pruned = prune_to_bins(binned, res.bin_ids(), n_bins)
        return verify_regex(pruned, normalize_query(pattern))

    def query_many(
        self,
        corpus: DataFrame,
        patterns: dict[str, str] | list[str],
        *,
        n_bins: int | None = None,
        bin_key=None,
    ) -> DataFrame:
        """Batched multi-pattern query — the reference's TSV query-file
        path (S6, run_multiple_queries src/query.cpp:342-373) done
        Spark-first: every pattern's candidate bins come from the driver
        traversal (sub-ms each), the corpus is pruned ONCE to the union
        of candidate bins, and a single verify pass applies each pattern
        only to rows of its own bins. N patterns cost one scan instead
        of N sequential jobs. Returns (query_id, url, match, start,
        end)."""
        n_bins = n_bins or self.manifest["n_bins"]
        if not isinstance(patterns, dict):
            patterns = {p: p for p in patterns}
        spec: list[tuple[str, str, list[int] | None]] = []
        union: set[int] = set()
        full_scan = False
        for qid, pat in patterns.items():
            res = self.candidate_bins(pat)
            bins = res.bin_ids()
            if len(bins) >= self.bloom.n_bins:
                spec.append((qid, normalize_query(pat), None))
                full_scan = True
            else:
                spec.append((qid, normalize_query(pat), bins))
                union.update(bins)
        binned = self._binned(corpus, n_bins, bin_key)
        pruned = (
            binned
            if full_scan
            else prune_to_bins(binned, sorted(union), n_bins)
        )
        return verify_regex_many(pruned, spec)

    def query_all(
        self,
        corpus: DataFrame,
        patterns: list[str],
        *,
        n_bins: int | None = None,
        bin_key=None,
    ) -> DataFrame:
        """Conjunctive multi-motif (A5 + F11): candidate vectors AND-ed
        across queries (include/query.h:267), then one pruned scan where
        every pattern must match."""
        n_bins = n_bins or self.manifest["n_bins"]
        vec = np.ones(self.bloom.n_bins, dtype=bool)
        for p in patterns:
            vec &= self.candidate_bins(p).bins
        bin_ids = [int(i) for i in np.nonzero(vec)[0]]
        binned = self._binned(corpus, n_bins, bin_key)
        pruned = prune_to_bins(binned, bin_ids, n_bins)
        return verify_conjunctive(pruned, [normalize_query(p) for p in patterns])
