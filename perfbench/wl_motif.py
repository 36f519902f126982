"""motif_search part: the read side of the motif index.

After the sketch part has built the index into a fresh directory (hot hosts
salted, as recommended for skewed web corpora), `track` adds the d-gram
family, and a seeded stream of calls runs against it, each collected and
checked against `re` over the normalized texts. Calls come in blocks of 8
(one per op cycle): the 4th is a `query_many` of 8 patterns, the 8th a
conjunctive `query_all` of a selective and a broad pattern, the rest
single `query`s.

Pattern classes (5 selective, 3 gap, 4 broad, 2 absent of the 14 patterns
in the `query` and `query_many` calls of a block):
  selective  literals and classes of motifs planted in <= 3 hosts
  gap        "a.{1,3}b" over planted pairs, served by the d-gram index
  broad      frequent vocabulary words: present in nearly every bin, so
             pruning cannot help
  absent     words that occur nowhere
A pruning gain should show on the selective share and leave the broad
share unchanged; the report gives both medians.
"""

from __future__ import annotations

import re
import time

import numpy as np

from . import truth
from .common import median, tail

N_BINS = 64
# one block of calls; only the patterns within a class are drawn from the
# seed, so every seed verifies the same mix of work
BLOCK = ("selective", "gap", "broad", "many", "selective", "absent", "broad", "all")
MANY = ("selective", "selective", "selective", "gap", "gap", "broad", "broad", "absent")
GAPS = (1, 3)  # d-gram gaps `track` indexes; gap patterns stay inside them


class MotifPart:
    """The motif_search call stream over a corpus shared with SketchPart."""

    def absorb(self, seed: int, work: str, cols: dict, planted) -> dict:
        """Ground-truth inputs; returns the pattern traffic properties."""
        self.work, self.planted = work, planted
        self.urls = cols["url"]
        self.texts = [truth.page_text(t, h) for t, h in zip(cols["text"], cols["html"])]
        self.pool = self._pool()
        self.rng = np.random.default_rng(seed + 1)
        self._truth: dict[str, set] = {}
        return {"call_block": list(BLOCK), "query_many_classes": list(MANY),
                "pattern_pool": {c: len(v) for c, v in self.pool.items()}}

    def _pool(self) -> dict[str, list[str]]:
        sel, gap = [], []
        for m in self.planted.motifs:
            if not m["docs"]:
                continue
            a, b = m["a"], m["b"]
            sel += [a, b, re.sub("[qxz]", "[qxz]", a, count=1)]
            gap.append(f"{a}.{{{GAPS[0]},{GAPS[1]}}}{b}")
        # Zipf ranks 20-29 of every language: the same frequencies on every seed
        broad = [v[r] for v in self.planted.vocab.values() for r in range(20, 30)]
        absent = self.planted.absent_words
        absent_pats = absent[:12] + [f"{x}.{{1,4}}{y}" for x, y in zip(absent[12::2], absent[13::2])]
        return {"selective": sel, "gap": gap, "broad": broad, "absent": absent_pats}

    def _pick(self, c: str) -> str:
        return str(self.rng.choice(self.pool[c]))

    def hits(self, pattern: str) -> set:
        if pattern not in self._truth:
            self._truth[pattern] = truth.motif_hits(self.urls, self.texts, pattern)
        return self._truth[pattern]

    def begin(self) -> None:
        """Start a measurement window."""
        self.calls: list[dict] = []  # one record per call, for the figures

    def cycle(self, ops, idx, index_dir: str) -> None:
        """`track` the index the sketch part just built, then one block of
        calls against it."""
        self.idx = ops.run("plans", "track", lambda: idx.track(
            self.corpus, index_dir, min_gap=GAPS[0], max_gap=GAPS[1]))
        if self.idx is None:
            return
        for c in BLOCK:
            if c == "all":
                classes = ["selective", "broad"]
                self._call(ops, "query_all", classes, [self._pick(k) for k in classes])
            elif c == "many":
                self._call(ops, "query_many", list(MANY), [self._pick(k) for k in MANY])
            else:
                self._call(ops, "query", [c], [self._pick(c)])

    def _call(self, ops, kind: str, classes: list[str], pats: list[str]) -> None:
        idx, corpus = self.idx, self.corpus
        if kind == "query":
            fn = lambda: idx.query(corpus, pats[0]).collect()  # noqa: E731
        elif kind == "query_many":
            fn = lambda: idx.query_many(  # noqa: E731
                corpus, {f"q{k}": p for k, p in enumerate(pats)}).collect()
        else:
            fn = lambda: idx.query_all(corpus, pats).collect()  # noqa: E731
        rec = {"kind": kind, "classes": classes, "patterns": pats}
        rec["span"] = len(ops.tracer.spans)
        ops.run("verify", kind, fn, lambda rows: self._check(rec, rows))
        self.calls.append(rec)

    def _check(self, rec: dict, rows) -> str | None:
        kind, pats = rec["kind"], rec["patterns"]
        if kind == "query_all":
            want = truth.docs_matching_all(self.urls, self.texts, pats)
            got = [r["url"] for r in rows]
            rec["matched_docs"] = len(want)
            ok = set(got) == want and len(got) == len(want)
            return None if ok else f"query_all {pats}: {len(got)} docs, want {len(want)}"
        per_q = [(f"q{k}", p) for k, p in enumerate(pats)] if kind == "query_many" else [(None, pats[0])]
        matched = 0
        for qid, p in per_q:
            want = self.hits(p)
            got = [(r["url"], r["match"], r["start"], r["end"]) for r in rows
                   if qid is None or r["query_id"] == qid]
            matched += len({h[0] for h in want})
            if set(got) != want or len(got) != len(want):
                return f"{kind} {p!r}: {len(got)} hits, want {len(want)}"
        rec["matched_docs"] = matched
        return None

    # -- figures ----------------------------------------------------------------

    def named_metrics(self, tracer) -> dict:
        walls = [tracer.spans[c["span"]]["wall_s"] for c in self.calls]
        n_pat = sum(len(c["patterns"]) if c["kind"] == "query_many" else 1 for c in self.calls)
        t_val, t_pct, t_n = tail(walls)
        sel = [w for w, c in zip(walls, self.calls) if c["kind"] == "query" and c["classes"] == ["selective"]]
        broad = [w for w, c in zip(walls, self.calls) if c["kind"] == "query" and c["classes"] == ["broad"]]
        return {
            "motif_query_p50_s": (median(walls), "s"),
            "motif_query_tail_s": (t_val, "s", {"percentile": t_pct, "samples": t_n}),
            "motif_patterns_per_s": (n_pat / sum(walls), "1/s"),
            "motif_selective_p50_s": (median(sel), "s"),
            "motif_broad_p50_s": (median(broad), "s"),
        }

    def probe(self, tracer) -> dict:
        """Traced run only: candidate-bin traversal per pattern (driver),
        and how much of the corpus each call had to verify."""
        from tetrex_spark.sources.corpus import with_bin_id

        m = self.idx.manifest
        binned = with_bin_id(self.corpus, N_BINS,
                             salt_hot_hosts=m.get("salted_hosts") or None,
                             n_salt=m.get("n_salt", 8))
        bin_of = dict(binned.select("url", "bin_id").collect())
        docs_in_bin = np.bincount(list(bin_of.values()), minlength=N_BINS)
        trav_ms, frac, full, cand_total, cand_true = [], [], 0, 0, 0
        scanned, matched, n_calls = 0, 0, 0
        for c in self.calls:
            bins_per_pat = []
            for p in c["patterns"]:
                t0 = time.perf_counter()
                res = self.idx.candidate_bins(p)
                trav_ms.append((time.perf_counter() - t0) * 1e3)
                bins = set(res.bin_ids())
                bins_per_pat.append(bins)
                frac.append(len(bins) / N_BINS)
                full += bool(res.full_scan)
                true_bins = {bin_of[u] for u, *_ in self.hits(p)}
                cand_total += len(bins)
                cand_true += len(bins & true_bins)
            if c["kind"] == "query_all":
                scan_bins = set.intersection(*bins_per_pat)
            else:
                scan_bins = set.union(*bins_per_pat)
            scanned += int(docs_in_bin[sorted(scan_bins)].sum()) if scan_bins else 0
            matched += c.get("matched_docs", 0)
            n_calls += 1
        return {
            "plans.candidate_bins_ms": median(trav_ms),
            "plans.candidate_bin_fraction": float(np.mean(frac)) if frac else 0.0,
            "plans.bin_precision": cand_true / cand_total if cand_total else 0.0,
            "plans.full_scan_fraction": full / len(frac) if frac else 0.0,
            "verify.docs_scanned": scanned / max(n_calls, 1),
            "verify.match_yield": matched / scanned if scanned else 0.0,
        }

    def layer_metrics(self, tracer) -> dict:
        verify = [s for s in tracer.spans if s["layer"] == "verify"]
        return {
            "verify.corpus_scans_per_call":
                sum(s.get("scan_stages", 0) for s in verify) / max(len(verify), 1),
            "plans.track_s": median(tracer.walls("plans", "track")),
        }
