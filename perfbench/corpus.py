"""Seeded Zipfian webtext corpus, query stream and independent BM25 oracle.

Everything here is a pure function of (seed, CorpusSpec): the same seed gives
byte-identical parquet, the same recrawl rounds and the same query stream.
The engine only ever sees the generated parquet; the token arrays the
generator drew stay on the benchmark side and back `Oracle`, a small numpy
BM25 (k1=1.2, b=0.75) that shares no code with the engine.

Corpus shape (the properties the engine's behaviour depends on):

- term ranks follow Zipf(s) over a `vocab`-term vocabulary, so a few head
  terms cross the build's hot-df threshold (salted merge) and most terms
  are rare (selective queries);
- document lengths are lognormal;
- `recrawl_share` of urls carry an extra, older crawl with other text
  (latest-crawl dedup must drop it);
- `null_text_share` of current rows have null `text` and the page only in
  `html`, behind a `<script>` block (html fallback + script strip);
- `lang` is skewed (en-heavy) and url hosts are Zipf-distributed, giving
  facet predicates of very different selectivity;
- `warc_ts` is written as microsecond UTC (Spark rejects pandas' default
  nanosecond parquet timestamps).
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

K1 = 1.2
B = 0.75

LANGS = np.array(["en", "de", "fr", "es", "ja", "pt", "it"], dtype=object)
LANG_P = np.array([0.55, 0.15, 0.10, 0.08, 0.05, 0.04, 0.03])

_CONS = "bcdfghjklmnprstvwz"  # 18 consonants x 5 vowels = 90 syllables
_SYL = [c + v for c in _CONS for v in "aeiou"]

_TS0 = np.datetime64("2024-01-01T00:00:00", "us")
_DAY_US = 86_400 * 1_000_000

SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


@dataclass(frozen=True)
class CorpusSpec:
    version: int = 2  # bump when generation changes: it keys the cache
    n_urls: int = 8000
    vocab: int = 50_000
    zipf_s: float = 1.1
    len_mu: float = 5.0  # log of the median document length in tokens
    len_sigma: float = 0.6
    min_len: int = 8
    max_len: int = 2000
    recrawl_share: float = 0.10
    null_text_share: float = 0.02
    n_hosts: int = 200
    sentence_len: int = 14  # tokens per sentence (capitalized, '.'-ended)

    def signature(self) -> str:
        raw = json.dumps(asdict(self), sort_keys=True).encode()
        return hashlib.sha1(raw).hexdigest()[:10]


def word(i: int) -> str:
    """Unique lowercase ascii word for vocabulary id i (base-90 syllables:
    every syllable is two letters, so distinct ids give distinct words)."""
    i += 1
    out = []
    while i:
        i, r = divmod(i, len(_SYL))
        out.append(_SYL[r])
    return "".join(out)


def _zipf_p(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return p / p.sum()


@dataclass
class Docs:
    """Token-level view of one set of current (deduplicated) documents:
    CSR token arrays over vocabulary ids plus the per-doc facets."""

    urls: np.ndarray  # object, one per doc
    hosts: np.ndarray  # object
    langs: np.ndarray  # object
    toks: np.ndarray  # int32 flat token ids
    offs: np.ndarray  # int64, len(urls)+1


class Corpus:
    """The generated corpus for one (seed, spec): vocabulary, current docs,
    older crawls, and the rows written to parquet."""

    def __init__(self, seed: int, spec: CorpusSpec = CorpusSpec()):
        self.seed = seed
        self.spec = spec
        rng = np.random.default_rng([seed, 1])
        # seeded rank -> word map, so head terms differ between seeds; the
        # map is permuted within each word-length class (2, 4, 6 letters)
        # so frequent terms stay short and text bytes do not vary by seed
        cuts = [0, len(_SYL), len(_SYL) ** 2 + len(_SYL), spec.vocab]
        perm = np.concatenate([
            lo + rng.permutation(max(0, min(hi, spec.vocab) - lo))
            for lo, hi in zip(cuts[:-1], cuts[1:])
        ])
        self.vocab = np.array([word(int(i)) for i in perm], dtype=object)
        self.term_of = {w: i for i, w in enumerate(self.vocab)}
        self._p = _zipf_p(spec.vocab, spec.zipf_s)

        n = spec.n_urls
        host_ids = rng.choice(spec.n_hosts, size=n, p=_zipf_p(spec.n_hosts, 1.0))
        hosts = np.array([f"site{h:03d}.example.org" for h in host_ids], dtype=object)
        urls = np.array(
            [f"https://{h}/page/{i:06d}" for i, h in enumerate(hosts)], dtype=object
        )
        langs = rng.choice(LANGS, size=n, p=LANG_P)
        toks, offs = self._draw_docs(rng, n)
        self.docs = Docs(urls, hosts, langs, toks, offs)
        # current crawl time, microsecond resolution
        self.ts = _TS0 + rng.integers(0, 180 * _DAY_US, size=n).astype(
            "timedelta64[us]"
        )
        self.null_text = rng.random(n) < spec.null_text_share
        # older crawls of a subset of urls: other text, strictly older ts
        old_idx = np.flatnonzero(rng.random(n) < spec.recrawl_share)
        old_toks, old_offs = self._draw_docs(rng, len(old_idx))
        old_ts = self.ts[old_idx] - rng.integers(
            _DAY_US, 90 * _DAY_US, size=len(old_idx)
        ).astype("timedelta64[us]")
        self._old = (old_idx, old_toks, old_offs, old_ts)
        self.max_ts = self.ts.max()

    # -- generation -----------------------------------------------------
    def _draw_docs(self, rng, n: int) -> tuple[np.ndarray, np.ndarray]:
        s = self.spec
        lens = np.clip(
            rng.lognormal(s.len_mu, s.len_sigma, size=n).astype(np.int64),
            s.min_len,
            s.max_len,
        )
        offs = np.concatenate(([0], np.cumsum(lens)))
        toks = rng.choice(s.vocab, size=int(offs[-1]), p=self._p).astype(np.int32)
        return toks, offs

    def render(self, toks: np.ndarray) -> str:
        """Token ids -> webtext: sentences of `sentence_len` words, first
        word capitalized, '. ' between sentences, an occasional comma. The
        engine's analyzer (lowercase + split on non-alphanumerics) recovers
        exactly `toks`."""
        words = self.vocab[toks].tolist()
        sl = self.spec.sentence_len
        for j in range(0, len(words), sl):
            words[j] = words[j].capitalize()
            end = min(j + sl, len(words)) - 1
            words[end] = words[end] + "."
            if end - j > 6:
                words[j + 5] = words[j + 5] + ","
        return " ".join(words)

    def _html(self, text: str) -> bytes:
        return (
            "<html><head><script>var t = 'ignored';</script></head>"
            f"<body><p>{text}</p></body></html>"
        ).encode("utf-8")

    def rows(self) -> pa.Table:
        """All input rows: current crawls (a few with html only) plus the
        older crawls dedup must discard, in a seeded shuffled order."""
        d = self.docs
        texts = [self.render(d.toks[d.offs[i]:d.offs[i + 1]]) for i in range(len(d.urls))]
        html = [self._html(t) if nt else None for t, nt in zip(texts, self.null_text)]
        text = [None if nt else t for t, nt in zip(texts, self.null_text)]
        old_idx, old_toks, old_offs, old_ts = self._old
        old_text = [
            self.render(old_toks[old_offs[j]:old_offs[j + 1]])
            for j in range(len(old_idx))
        ]
        cols = {
            "url": list(d.urls) + list(d.urls[old_idx]),
            "warc_ts": np.concatenate([self.ts, old_ts]),
            "html": html + [None] * len(old_idx),
            "text": text + old_text,
            "lang": list(d.langs) + list(d.langs[old_idx]),
        }
        tbl = pa.table(
            {
                "url": pa.array(cols["url"], pa.string()),
                "warc_ts": pa.array(cols["warc_ts"], pa.timestamp("us", tz="UTC")),
                "html": pa.array(cols["html"], pa.binary()),
                "text": pa.array(cols["text"], pa.string()),
                "lang": pa.array(cols["lang"], pa.string()),
            },
            schema=SCHEMA,
        )
        order = np.random.default_rng([self.seed, 2]).permutation(tbl.num_rows)
        return tbl.take(pa.array(order))

    def text_bytes(self) -> int:
        """UTF-8 bytes of the extracted text of the deduplicated corpus."""
        d = self.docs
        return sum(
            len(self.render(d.toks[d.offs[i]:d.offs[i + 1]]).encode("utf-8"))
            for i in range(len(d.urls))
        )

    def recrawl(self, rnd: int, share: float = 0.01) -> tuple[pa.Table, Docs]:
        """Reindex round `rnd` (1-based): a fresh seeded recrawl of `share`
        of the urls, each newer than every earlier crawl, with ~10% of its
        tokens redrawn and a short tail appended. Returns the recrawl rows
        (to union with the base rows) and the current docs after dedup."""
        rng = np.random.default_rng([self.seed, 3, rnd])
        d = self.docs
        n = len(d.urls)
        pick = np.sort(rng.choice(n, size=max(1, int(round(n * share))), replace=False))
        new_docs = []
        for i in pick:
            t = d.toks[d.offs[i]:d.offs[i + 1]].copy()
            edit = rng.random(len(t)) < 0.10
            t[edit] = rng.choice(self.spec.vocab, size=int(edit.sum()), p=self._p)
            tail = rng.choice(self.spec.vocab, size=int(rng.integers(1, 12)), p=self._p)
            new_docs.append(np.concatenate([t, tail.astype(np.int32)]))
        ts = self.max_ts + np.timedelta64(rnd * _DAY_US, "us") + rng.integers(
            0, _DAY_US, size=len(pick)
        ).astype("timedelta64[us]")
        rows = pa.table(
            {
                "url": pa.array(list(d.urls[pick]), pa.string()),
                "warc_ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
                "html": pa.array([None] * len(pick), pa.binary()),
                "text": pa.array([self.render(t) for t in new_docs], pa.string()),
                "lang": pa.array(list(d.langs[pick]), pa.string()),
            },
            schema=SCHEMA,
        )
        # current docs after dedup: the picked docs' tokens are replaced
        lens = np.diff(d.offs)
        chunks = [d.toks[d.offs[i]:d.offs[i + 1]] for i in range(n)]
        for j, i in enumerate(pick):
            chunks[i] = new_docs[j]
            lens[i] = len(new_docs[j])
        docs = Docs(
            d.urls, d.hosts, d.langs,
            np.concatenate(chunks).astype(np.int32),
            np.concatenate(([0], np.cumsum(lens))),
        )
        return rows, docs


def corpus_path(cache_dir: str, seed: int, spec: CorpusSpec) -> str:
    """Parquet file of the seed's input rows, generated once per seed."""
    return os.path.join(cache_dir, f"corpus-{spec.signature()}-{seed}.parquet")


def write_corpus(corpus: Corpus, path: str) -> None:
    if os.path.exists(path):
        return
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    pq.write_table(corpus.rows(), tmp)
    os.replace(tmp, path)


# ---------------------------------------------------------------------------
# independent BM25 oracle
# ---------------------------------------------------------------------------


class Oracle:
    """Exhaustive numpy BM25 over one `Docs` state: a (term, doc) -> tf
    inverted table built by one sort, scored with Lucene's idf
    ln(1 + (N - df + 0.5)/(df + 0.5)) and k1=1.2, b=0.75."""

    def __init__(self, docs: Docs, vocab: np.ndarray):
        self.docs = docs
        self.term_of = {w: i for i, w in enumerate(vocab)}
        n = len(docs.urls)
        self.n = n
        self.dl = np.diff(docs.offs).astype(np.float64)
        self.avgdl = float(self.dl.mean())
        self.doc_of_tok = np.repeat(np.arange(n, dtype=np.int64), np.diff(docs.offs))
        key = docs.toks.astype(np.int64) * n + self.doc_of_tok
        uk, tf = np.unique(key, return_counts=True)
        self.p_term = uk // n
        self.p_doc = uk % n
        self.p_tf = tf.astype(np.float64)
        self.url_rank = np.argsort(np.argsort(docs.urls.astype(str)))
        self.url_index = {u: i for i, u in enumerate(docs.urls)}

    def scores(self, words: list[str], conjunctive: bool = False) -> np.ndarray:
        """BM25 score per doc (nan where the doc matches no / not all terms)."""
        s = np.zeros(self.n)
        hits = np.zeros(self.n, dtype=np.int64)
        uniq = list(dict.fromkeys(words))
        for t in (self.term_of[w] for w in uniq if w in self.term_of):
            lo, hi = np.searchsorted(self.p_term, [t, t + 1])
            docs, tf = self.p_doc[lo:hi], self.p_tf[lo:hi]
            df = hi - lo
            idf = np.log(1.0 + (self.n - df + 0.5) / (df + 0.5))
            norm = tf * (K1 + 1.0) / (
                tf + K1 * (1.0 - B + B * self.dl[docs] / self.avgdl)
            )
            s[docs] += idf * norm
            hits[docs] += 1
        return np.where(hits >= (len(uniq) if conjunctive else 1), s, np.nan)

    def phrase_docs(self, words: list[str]) -> np.ndarray:
        """Boolean mask of docs containing `words` as consecutive tokens."""
        ids = [self.term_of.get(w, -1) for w in words]
        t = self.docs.toks
        L = len(ids)
        m = len(t) - L + 1
        if m <= 0 or min(ids) < 0:
            return np.zeros(self.n, dtype=bool)
        ok = np.ones(m, dtype=bool)
        for j, tid in enumerate(ids):
            ok &= t[j:j + m] == tid
        ok &= self.doc_of_tok[:m] == self.doc_of_tok[L - 1:L - 1 + m]
        mask = np.zeros(self.n, dtype=bool)
        mask[self.doc_of_tok[:m][ok]] = True
        return mask

    def topk(self, scores: np.ndarray, k: int) -> list[tuple[str, float]]:
        """Top-k (url, score) by (score desc, url asc) over finite scores."""
        idx = np.flatnonzero(~np.isnan(scores))
        order = np.lexsort((self.url_rank[idx], -scores[idx]))[:k]
        return [(self.docs.urls[i], float(scores[i])) for i in idx[order]]

    def expected(self, op: dict, k: int) -> tuple[list[tuple[str, float]], np.ndarray]:
        """(oracle top-k, full score array) for one query-stream op."""
        words = op["query"].split()
        if op["kind"] == "phrase":
            s = self.scores(words, conjunctive=True)
            s = np.where(self.phrase_docs(words), s, np.nan)
        else:
            s = self.scores(words)
            if op["kind"] == "filtered":
                col, val = op["filter"]
                facet = self.docs.langs if col == "lang" else self.docs.hosts
                s = np.where(facet == val, s, np.nan)
        return self.topk(s, k), s


def topk_mismatch(
    got: list[tuple[str, float]], want: list[tuple[str, float]],
    scores: np.ndarray, urls: dict, tol: float = 1e-6,
) -> str | None:
    """None if `got` is a correct top-k, else a reason. Tie order is not
    compared (two exact scorers may sum floats in different orders): the
    scores must agree rank by rank, and every returned url must carry its
    oracle score (`urls` maps url -> doc index into `scores`)."""
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    for i, ((gu, gs), (_, ws)) in enumerate(zip(got, want)):
        if abs(gs - ws) > tol * max(1.0, abs(ws)):
            return f"rank {i}: score {gs!r}, expected {ws!r}"
        j = urls.get(gu)
        if j is None or not abs(scores[j] - gs) <= tol * max(1.0, abs(gs)):
            return f"rank {i}: url {gu} does not score {gs!r}"
    return None


# ---------------------------------------------------------------------------
# query stream
# ---------------------------------------------------------------------------

KINDS = ("term_auto", "term_wand", "phrase", "filtered")


def query_stream(
    corpus: Corpus, seed: int, kinds: tuple[str, ...], n: int
) -> list[dict]:
    """`n` ops cycling through `kinds` (seeded order within each cycle; a
    kind listed twice gets twice the ops). Terms come from the corpus's own frequency ranks. Every
    kind walks a fixed cycle of query shapes, so any run's first ops of a
    kind have the same shape mix whatever the seed, and only the terms
    drawn differ:

    - term queries: head-only, rare-only and mixed shapes of 1-3 terms;
    - phrases: 2 and 3 adjacent tokens taken from a document, and every
      fifth a pair of co-occurring terms never adjacent in that order
      anywhere in the corpus (the zero-hit path);
    - filtered: alternately a `lang` and a url-host predicate."""
    rng = np.random.default_rng([seed, 4])
    d = corpus.docs
    V = corpus.spec.vocab
    counts = np.bincount(d.toks, minlength=V)
    ranked = np.argsort(-counts, kind="stable")
    ranked = ranked[counts[ranked] > 0]
    pools = {"head": ranked[:50], "mid": ranked[50:2000], "rare": ranked[2000:]}
    shapes = (("head",), ("rare",), ("head", "rare"), ("head", "mid"),
              ("mid", "rare"), ("head", "head", "rare"), ("mid",))
    bigrams = set((d.toks[:-1].astype(np.int64) * V + d.toks[1:]).tolist())
    host_vals = np.unique(d.hosts)[:20]

    def terms(c: int) -> str:
        ids = [int(rng.choice(pools[p])) for p in shapes[c % len(shapes)]]
        return " ".join(corpus.vocab[ids])

    def phrase(c: int) -> str:
        while True:
            i = int(rng.integers(len(d.urls)))
            t = d.toks[d.offs[i]:d.offs[i + 1]]
            if c % 5 != 4:
                L = 2 + c % 2
                j = int(rng.integers(0, len(t) - L + 1))
                return " ".join(corpus.vocab[t[j:j + L]])
            for _ in range(50):
                a, b_ = rng.choice(len(t), size=2, replace=False)
                x, y = int(t[a]), int(t[b_])
                if x != y and x * V + y not in bigrams:
                    return f"{corpus.vocab[x]} {corpus.vocab[y]}"

    seen = dict.fromkeys(kinds, 0)
    ops = []
    while len(ops) < n:
        for kind in rng.permutation(np.array(kinds, dtype=object)):
            kind, c = str(kind), seen[kind]
            seen[kind] += 1
            op = {"id": len(ops), "kind": kind,
                  "query": phrase(c) if kind == "phrase" else terms(c)}
            if kind == "filtered":
                op["filter"] = (
                    ("lang", str(rng.choice(LANGS, p=LANG_P))) if c % 2 == 0
                    else ("host", str(rng.choice(host_vals)))
                )
            ops.append(op)
    return ops[:n]
