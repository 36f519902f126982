"""sketch_analytics: the write/build side.

One op cycle: build_sketches with the five specs bench.py uses ->
write_sketch_table -> collect_sketches over the stored table -> merge the
per-bin sketches into global answers (distinct shingles, token
frequencies, length quantiles, Bloom membership) -> heavy_hitters ->
MotifIndex.build into a fresh directory.
"""

from __future__ import annotations

import math
import os
from collections import Counter

import numpy as np
import pandas as pd

from . import truth
from .common import du, median

N_BINS = 64
PHI = (1, 50)
SPEC_ARGS = [
    ("bloom", "bloom", "token_shingle", 3, {"m_bits": 1 << 18, "n_hashes": 3}),
    ("hll", "hll", "token_shingle", 3, {"p": 12}),
    ("cms", "cms", "token", 1, {"width": 2048, "depth": 5}),
    ("kll", "kll", "doc_length_tokens", 3, {"k": 200}),
    ("td", "tdigest", "doc_length_chars", 3, {"delta": 100.0}),
]


def _keys(strings: list[str], k: int) -> np.ndarray:
    """Sketch keys of k-token strings, through the library's public key
    derivation (the query side of the API under test)."""
    from tetrex_spark.functions.text import token_shingle_hashes_series

    keys, counts = token_shingle_hashes_series(pd.Series(strings), k)
    if not (counts == 1).all():
        raise ValueError("probe strings must hold exactly k tokens")
    return keys


class SketchPart:
    """The sketch_analytics op cycle over a corpus shared with MotifPart."""

    def absorb(self, seed: int, work: str, cols: dict, planted) -> None:
        """Ground truth for the corpus in `cols` (already written to
        `<work>/pages`)."""
        self.work, self.planted = work, planted
        self.n_docs = len(cols["doc_id"])
        self.urls = cols["url"]
        self.texts = [truth.page_text(t, h) for t, h in zip(cols["text"], cols["html"])]
        toks = [truth.tokens(t) for t in self.texts]
        self.doc_shingles = [truth.shingles(t) for t in toks]
        self.distinct_shingles = len(set().union(*self.doc_shingles))
        self.token_counts = Counter(w for t in toks for w in t)
        text_only = Counter(w for t in cols["text"] for w in truth.tokens(truth.normalize(t)))
        self.hh_truth = truth.heavy_hitters(text_only, *PHI)
        self.len_tokens = np.sort(np.array([len(t) for t in toks], dtype=np.float64))
        self.len_chars = np.sort(np.array([len(t) for t in self.texts], dtype=np.float64))
        rng = np.random.default_rng(seed)
        absent = self.planted.absent_words
        self.absent_shingles = [" ".join(rng.choice(absent, 3)) for _ in range(200)]
        self.bin_of = None
        self.salted_bin_of = None

    def setup(self, spark) -> None:
        from tetrex_spark.operators.sketch_build import SketchSpec
        from tetrex_spark.sources.corpus import with_bin_id

        self.spark = spark
        self.corpus = spark.read.parquet(f"{self.work}/pages").cache()
        self.corpus.count()
        self.binned = with_bin_id(self.corpus, N_BINS)
        self.specs = [SketchSpec(n, kind, src, k=k, params=p)
                      for n, kind, src, k, p in SPEC_ARGS]

    def _bin_maps(self, manifest: dict | None = None) -> dict:
        from tetrex_spark.sources.corpus import with_bin_id

        if self.bin_of is None:
            self.bin_of = dict(self.binned.select("url", "bin_id").collect())
        if manifest is not None and self.salted_bin_of is None:
            df = with_bin_id(self.corpus, N_BINS,
                             salt_hot_hosts=manifest.get("salted_hosts") or None,
                             n_salt=manifest.get("n_salt", 8))
            self.salted_bin_of = dict(df.select("url", "bin_id").collect())
        return self.bin_of

    # -- one op cycle ---------------------------------------------------------

    def cycle(self, ops, i: int, index_dir: str):
        """Returns the motif index built at the end of the cycle (or None)."""
        from tetrex_spark.operators.heavy_hitters import heavy_hitters
        from tetrex_spark.operators.sketch_build import build_sketches, collect_sketches
        from tetrex_spark.plans.planner import MotifIndex
        from tetrex_spark.sources.sketch_store import read_sketch_rows, write_sketch_table

        table_dir = f"{self.work}/sketches-{i}"

        def build():
            rows = build_sketches(self.binned, self.specs).persist()
            return rows, rows.count()

        built = ops.run("sketch_build", "build_sketches", build, self._check_build)
        if built is not None:
            ops.run("sources", "write_sketch_table",
                    lambda: write_sketch_table(built[0], table_dir, self.specs, N_BINS),
                    lambda _: self._check_table(table_dir))
            loaded = ops.run("sources", "collect_sketches",
                             lambda: collect_sketches(read_sketch_rows(self.spark, table_dir)),
                             lambda d: None if len(d) == built[1] else
                             f"{len(d)} sketches read back, {built[1]} written")
            built[0].unpersist()
            if loaded is not None:
                ops.run("kernel", "merge_answers", lambda: self._merge(loaded),
                        self._check_answers)
        ops.run("heavy_hitters", "heavy_hitters",
                lambda: heavy_hitters(self.corpus, *PHI).collect(), self._check_hh)
        return ops.run("plans", "index_build",
                       lambda: MotifIndex.build(self.corpus, index_dir, n_bins=N_BINS,
                                                salt_hot_hosts="auto"),
                       lambda idx: self._check_index(idx, index_dir))

    @staticmethod
    def _merge(sketches: dict) -> dict:
        """Global sketch per spec name, merged over every bin, plus the
        per-bin Bloom filters for membership."""
        from tetrex_spark.kernel import from_bytes

        merged: dict = {}
        for (bin_id, name), sk in sorted(sketches.items()):
            if name == "bloom":
                continue
            if name in merged:
                merged[name].merge(sk)
            else:
                merged[name] = from_bytes(sk.to_bytes())
        merged["bloom_by_bin"] = {b: sk for (b, n), sk in sketches.items() if n == "bloom"}
        return merged

    # -- checks against the harness truth --------------------------------------

    def _check_build(self, built) -> str | None:
        n_bins = len(set(self._bin_maps().values()))
        want = n_bins * len(self.specs)
        return None if built[1] == want else f"{built[1]} sketch rows, want {want}"

    def _check_table(self, table_dir: str) -> str | None:
        if not os.path.isfile(f"{table_dir}/manifest.json"):
            return "manifest.json missing"
        return None

    def _check_answers(self, m: dict) -> str | None:
        problems = []
        hll = m["hll"]
        d = self.distinct_shingles
        if abs(hll.estimate() - d) > 4 * hll.rel_error * d:
            problems.append(f"hll {hll.estimate():.0f} vs exact {d} (4 x {hll.rel_error:.4f})")
        cms = m["cms"]
        toks = [t for t, _ in self.token_counts.most_common(50)]
        rest = sorted(set(self.token_counts) - set(toks))
        toks += [rest[j] for j in np.random.default_rng(7).choice(len(rest), 150, replace=False)]
        est = cms.estimate(_keys(toks, 1))
        true = np.array([self.token_counts[t] for t in toks])
        if (est < true).any():
            problems.append("cms underestimates")
        over = int((est - true > cms.eps * cms.total()).sum())
        allowed = cms.delta * len(toks) + 3 * math.sqrt(cms.delta * len(toks)) + 1
        if over > allowed:
            problems.append(f"cms: {over} of {len(toks)} estimates beyond eps*N")
        for name, vals, eps_fn in (
            ("kll", self.len_tokens, lambda q, sk: sk.rank_error),
            ("td", self.len_chars, lambda q, sk: max(0.01, 4 * q * (1 - q) / sk.delta)),
        ):
            sk = m[name]
            for q in (0.1, 0.5, 0.9):
                if not truth.quantile_ok(vals, q, sk.quantile(q), eps_fn(q, sk)):
                    problems.append(f"{name} q{q}: {sk.quantile(q)}")
        problems += self._check_bloom(m["bloom_by_bin"])
        return "; ".join(problems) or None

    def _check_bloom(self, blooms: dict) -> list[str]:
        bin_of = self._bin_maps()
        present: dict[int, list[str]] = {}
        for u, sh in zip(self.urls, self.doc_shingles):
            present.setdefault(bin_of[u], []).extend(sorted(sh)[:3])
        problems = []
        absent_keys = _keys(self.absent_shingles, 3)
        fp, probes, expected = 0, 0, 0.0
        for b, shingles in present.items():
            bf = blooms.get(b)
            if bf is None:
                problems.append(f"bloom: bin {b} missing")
                continue
            if not bf.contains(_keys(shingles[:64], 3)).all():
                problems.append(f"bloom: false negative in bin {b}")
            fp += int(bf.contains(absent_keys).sum())
            probes += len(absent_keys)
            expected += bf.fill_ratio() ** bf.n_hashes * len(absent_keys)
        if fp > expected + 4 * math.sqrt(max(expected, 1.0)) + 2:
            problems.append(f"bloom: {fp} false positives, {expected:.1f} expected")
        return problems

    def _check_hh(self, rows) -> str | None:
        got = {(r["token"], int(r["cnt"])) for r in rows}
        if got == self.hh_truth and len(rows) == len(got):
            return None
        return (f"heavy hitters: {len(got - self.hh_truth)} wrong, "
                f"{len(self.hh_truth - got)} missing")

    def _check_index(self, idx, index_dir: str) -> str | None:
        self._bin_maps(idx.manifest)
        self.index_bytes_per_text_byte = du(index_dir) / sum(len(t) for t in self.texts)
        for m in self.planted.motifs:
            want = {self.salted_bin_of[u] for u, t in zip(self.urls, self.texts)
                    if m["a"] in t}
            got = set(idx.candidate_bins(m["a"]).bin_ids())
            if not want <= got:
                return f"index misses bins {sorted(want - got)} of motif {m['a']!r}"
        return None

    # -- figures ----------------------------------------------------------------

    def named_metrics(self, tracer) -> dict:
        cycles = [s for s in tracer.spans if s["layer"] == "op" and s["name"] == "cycle"]
        build = []
        for c in cycles:
            kids = [s for s in tracer.spans if s["parent"] == c["id"]
                    and s["layer"] in ("sketch_build", "sources", "kernel")]
            build.append(sum(s["wall_s"] for s in kids))
        n = self.n_docs
        return {
            "sketch_build_docs_per_s": (n / median(build), "docs/s"),
            "index_build_docs_per_s": (n / median(tracer.walls("plans", "index_build")), "docs/s"),
            "heavy_hitters_docs_per_s": (n / median(tracer.walls("heavy_hitters")), "docs/s"),
        }

    def layer_metrics(self, tracer) -> dict:
        return {
            "sources.index_write_s": median(tracer.walls("sources", "write_sketch_table")),
            "sources.index_load_s": median(tracer.walls("sources", "collect_sketches")),
            "sources.index_bytes_per_text_byte": self.index_bytes_per_text_byte,
            "plans.index_build_s": median(tracer.walls("plans", "index_build")),
        }
