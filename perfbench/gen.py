"""Seeded Common-Crawl-style corpus generator.

The benchmark hands tetrex_spark only the parquet tables written here.
Everything is drawn from one ``numpy.random.default_rng(seed)``, so the same
seed and shape give byte-identical files.

Corpus rows are ``(doc_id, url, warc_ts, html, text, lang)``:

* doc lengths are lognormal in tokens (about 1 KB of text per page);
* tokens are Zipf-distributed over a per-language vocabulary, 5 languages;
* one hot host holds about a quarter of the pages;
* a small share of rows has ``text = NULL`` and the page in ``html``;
* planted motifs, exact-duplicate and near-duplicate clusters are recorded
  in the returned ``Planted`` record together with their rates.

Vocabulary words never contain ``q``, ``x`` or ``z``; planted motif words
always do, so a motif occurs exactly where it was planted and an "absent"
pattern built from those letters occurs nowhere.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ("en", "de", "fr", "es", "it")
LANG_SHARES = (0.50, 0.20, 0.12, 0.10, 0.08)
WORD_LETTERS = np.array(list("abcdefghijklmnoprstuvwy"))
MOTIF_LETTERS = np.array(list("qxz"))
EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


@dataclass(frozen=True)
class Shape:
    """Corpus size and traffic properties a workload asks for."""

    n_docs: int
    n_hosts: int = 600
    hot_share: float = 0.25
    null_text_rate: float = 0.02
    exact_dup_rate: float = 0.03  # share of rows that are verbatim copies
    near_dup_rate: float = 0.04  # share of rows that are edited copies
    n_motifs: int = 12
    vocab_per_lang: int = 6000
    zipf_s: float = 1.1
    tokens_median: float = 170.0
    tokens_sigma: float = 0.6
    n_files: int = 8


@dataclass
class Planted:
    """What the generator put in, for ground truth and the traffic record."""

    motifs: list[dict] = field(default_factory=list)  # {a, b, filler, hosts, docs}
    absent_words: list[str] = field(default_factory=list)
    near_dup_pairs: list[tuple[int, int, float]] = field(default_factory=list)
    exact_dup_groups: list[list[int]] = field(default_factory=list)
    vocab: dict[str, list[str]] = field(default_factory=dict)


def _words(rng: np.random.Generator, n: int, letters: np.ndarray,
           taken: set[str]) -> list[str]:
    out: list[str] = []
    while len(out) < n:
        ln = int(rng.integers(2, 10))
        w = "".join(rng.choice(letters, ln))
        if w not in taken:
            taken.add(w)
            out.append(w)
    return out


def _motif_word(rng: np.random.Generator, taken: set[str]) -> str:
    while True:
        base = list(rng.choice(WORD_LETTERS, int(rng.integers(4, 7))))
        base.insert(int(rng.integers(0, len(base) + 1)), str(rng.choice(MOTIF_LETTERS)))
        w = "".join(base)
        if w not in taken:
            taken.add(w)
            return w


def generate(seed: int, shape: Shape) -> tuple[dict[str, list], Planted]:
    """Column lists of the corpus plus the planted-structure record."""
    rng = np.random.default_rng(seed)
    taken: set[str] = set()
    vocab = {lang: _words(rng, shape.vocab_per_lang, WORD_LETTERS, taken)
             for lang in LANGS}
    ranks = np.arange(1, shape.vocab_per_lang + 1, dtype=np.float64)
    zipf_p = ranks ** -shape.zipf_s
    zipf_p /= zipf_p.sum()

    hosts = [f"{w}.example" for w in _words(rng, shape.n_hosts, WORD_LETTERS, set())]
    n = shape.n_docs
    n_exact = int(round(n * shape.exact_dup_rate))
    n_near = int(round(n * shape.near_dup_rate))
    n_base = n - n_exact - n_near

    # base pages: language, host, Zipf tokens
    lang_ix = rng.choice(len(LANGS), size=n, p=LANG_SHARES)
    host_ix = np.where(rng.random(n) < shape.hot_share, 0,
                       rng.integers(1, shape.n_hosts, size=n))
    lengths = np.clip(
        np.round(rng.lognormal(np.log(shape.tokens_median), shape.tokens_sigma, n)),
        20, 2500,
    ).astype(np.int64)
    flat = np.searchsorted(np.cumsum(zipf_p), rng.random(int(lengths[:n_base].sum())))
    flat = np.minimum(flat, shape.vocab_per_lang - 1)
    toks: list[np.ndarray] = np.split(flat, np.cumsum(lengths[: n_base - 1]))

    planted = Planted(vocab={k: v[:400] for k, v in vocab.items()})
    # near-duplicate copies: replace a seeded share of a source's tokens
    for _ in range(n_near):
        src = int(rng.integers(0, n_base))
        edit = float(rng.uniform(0.005, 0.08))
        t = toks[src].copy()
        mask = rng.random(t.size) < edit
        t[mask] = rng.integers(0, shape.vocab_per_lang, size=int(mask.sum()))
        lang_ix[len(toks)] = lang_ix[src]
        planted.near_dup_pairs.append((src, len(toks), edit))
        toks.append(t)
    # verbatim copies (new url, same text), grouped into clusters
    group_of: dict[int, list[int]] = {}
    for _ in range(n_exact):
        src = int(rng.integers(0, n_base))
        lang_ix[len(toks)] = lang_ix[src]
        group_of.setdefault(src, [src]).append(len(toks))
        toks.append(toks[src])
    planted.exact_dup_groups = list(group_of.values())

    varr = [np.array(vocab[lang], dtype=object) for lang in LANGS]
    texts = [" ".join(varr[lang_ix[i]][toks[i]]) for i in range(n)]

    # planted motifs: "a b" or "a <filler> b", only in docs of <= 3 hosts
    # that take part in no duplicate cluster
    in_cluster = {i for p in planted.near_dup_pairs for i in p[:2]}
    in_cluster.update(i for g in planted.exact_dup_groups for i in g)
    free = np.array([i for i in range(n_base)
                     if i not in in_cluster and host_ix[i] != 0])
    for _ in range(shape.n_motifs):
        a, b = _motif_word(rng, taken), _motif_word(rng, taken)
        k_hosts = int(rng.integers(1, 4))
        m_hosts = rng.choice(np.arange(1, shape.n_hosts), size=k_hosts, replace=False)
        pool = free[np.isin(host_ix[free], m_hosts)]
        docs = sorted(int(d) for d in rng.choice(
            pool, size=min(len(pool), int(rng.integers(2, 9))), replace=False))
        # a short filler keeps "a.{1,g}b" inside the d-gram gap range
        filler = str(rng.choice([w for w in vocab["en"][:200] if len(w) <= 3]))
        for d in docs:
            words = texts[d].split(" ")
            pos = int(rng.integers(0, len(words) + 1))
            phrase = [a, filler, b] if rng.random() < 0.5 else [a, b]
            words[pos:pos] = phrase
            texts[d] = " ".join(words)
        planted.motifs.append({
            "a": a, "b": b, "filler": filler,
            "hosts": sorted(hosts[int(h)] for h in m_hosts), "docs": docs,
        })
    planted.absent_words = [_motif_word(rng, taken) for _ in range(24)]

    null_mask = rng.random(n) < shape.null_text_rate
    order = rng.permutation(n)  # row position -> generated doc index
    pos_of = np.empty(n, dtype=np.int64)
    pos_of[order] = np.arange(n)
    ts_off = np.sort(rng.integers(0, 90 * 86400, size=n))
    cols: dict[str, list] = {k: [] for k in SCHEMA.names}
    for row, i in enumerate(order):
        i = int(i)
        text = texts[i]
        cols["doc_id"].append(row)
        cols["url"].append(f"http://{hosts[host_ix[i]]}/{LANGS[lang_ix[i]]}/{row}")
        cols["warc_ts"].append(EPOCH + dt.timedelta(seconds=int(ts_off[row])))
        if null_mask[i]:
            cols["html"].append(f"<html><body><p>{text}</p></body></html>".encode())
            cols["text"].append(None)
        else:
            cols["html"].append(None)
            cols["text"].append(text)
        cols["lang"].append(LANGS[lang_ix[i]])
    # planted records speak in doc_ids (row positions), not generation order
    for m in planted.motifs:
        m["docs"] = sorted(int(pos_of[d]) for d in m["docs"])
    planted.near_dup_pairs = [(int(pos_of[a]), int(pos_of[b]), e)
                              for a, b, e in planted.near_dup_pairs]
    planted.exact_dup_groups = [sorted(int(pos_of[d]) for d in g)
                                for g in planted.exact_dup_groups]
    return cols, planted


def rekeyed(cols: dict[str, list], rows: list[int], first_id: int) -> dict[str, list]:
    """Verbatim copies of `rows` under fresh doc ids and urls."""
    out: dict[str, list] = {k: [] for k in SCHEMA.names}
    for j, r in enumerate(rows):
        for k in SCHEMA.names:
            out[k].append(cols[k][r])
        out["doc_id"][-1] = first_id + j
        out["url"][-1] = cols["url"][r].rsplit("/", 1)[0] + f"/copy-{first_id + j}"
    return out


def take(cols: dict[str, list], rows) -> dict[str, list]:
    return {k: [v[r] for r in rows] for k, v in cols.items()}


def concat(a: dict[str, list], b: dict[str, list]) -> dict[str, list]:
    return {k: a[k] + b[k] for k in SCHEMA.names}


def write_table(cols: dict[str, list], path: str, n_files: int) -> None:
    """Write `cols` as `n_files` parquet files, so a scan gets that many
    input splits on any core count."""
    table = pa.Table.from_pydict(cols, schema=SCHEMA)
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for f in range(n_files):
        pq.write_table(table.slice(f * step, step), f"{path}/part-{f:03d}.parquet")


def traffic(cols: dict[str, list], planted: Planted) -> dict:
    """The corpus properties the benchmark's figures depend on."""
    n = len(cols["doc_id"])
    texts = [t if t is not None else "" for t in cols["text"]]
    chars = np.array([len(t) for t in texts]) + np.array(
        [len(h) if h is not None else 0 for h in cols["html"]])
    hosts = [u.split("/")[2] for u in cols["url"]]
    _, host_counts = np.unique(hosts, return_counts=True)
    n_exact = sum(len(g) - 1 for g in planted.exact_dup_groups)
    return {
        "n_docs": n,
        "text_bytes": int(chars.sum()),
        "doc_chars": {q: int(np.percentile(chars, p))
                      for q, p in (("p10", 10), ("p50", 50), ("p90", 90), ("max", 100))},
        "n_hosts": int(len(host_counts)),
        "hot_host_share": round(float(host_counts.max()) / n, 4),
        "lang_shares": {lang: round(cols["lang"].count(lang) / n, 4) for lang in LANGS},
        "null_text_rate": round(sum(t is None for t in cols["text"]) / n, 4),
        "exact_dup_rate": round(n_exact / n, 4),
        "near_dup_rate": round(len(planted.near_dup_pairs) / n, 4),
        "planted_motifs": [
            {"motif": f"{m['a']} [{m['filler']}] {m['b']}", "hosts": len(m["hosts"]),
             "docs": len(m["docs"])} for m in planted.motifs
        ],
    }
