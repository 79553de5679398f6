"""Round-4 query-surface extensions over the inverted index (SURVEY.md
§2.B18/§2.B19): exact-phrase top-k and facet-filtered top-k.

Semantics: top-k documents whose token stream contains the query's tokens
CONSECUTIVELY (exact phrase under the engine analyzer — lowercase + Unicode
word segmentation, engine/analyzer.py), ranked by the BM25 sum of the
phrase's unique terms (Lucene k1/b from the index stats), ties broken by
url. This is the classic "phrase by verification" plan for an index without
positional postings:

  1. candidate retrieval — conjunctive BM25 over the phrase's unique terms,
     straight from the existing pruned-postings scan + vectorized brute
     scorer (engine/query.py): bucket-partition-pruned scan, broadcast
     stats, map-side partial aggregation. No top-k cut here: adjacency
     filtering happens next, so every conjunctive doc stays a candidate.
  2. adjacency verification — semi-join the corpus to the candidate set
     (candidates ≪ corpus for any selective phrase), re-extract + tokenize
     ONLY those rows with the byte-identical analyzer, and keep docs whose
     space-joined token stream contains the space-joined phrase. One
     Arrow-batched mapInPandas pass; no per-row Python UDFs.
  3. top-k — order by (score desc, url asc), limit k.

Scale notes (100 TB): every stage is distributed — the verification cost is
O(candidate text volume), which for stopword-grade phrases ("the data") is
the known worst case of verification-based phrase search; the standard
escape hatch — positional postings — is BUILT as of round 5
(`engine/positional.py`: a separate `positions/` artifact + a
`phrase_topk_positional` that verifies adjacency from index blocks alone,
rank-identical to this module's verification path). This module remains
the zero-extra-artifact path and the oracle for the positional one. The
candidate semi-join pushes the url filter into the corpus scan, so only
candidate rows' html/text bytes move.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from engine.analyzer import extract_series, tokenize, tokenize_series
from engine.build import IndexHandle, open_index
from engine.query import (
    SCORE_SCHEMA,
    _brute_scorer,
    _docs_df,
    _fits_driver,
    _local_term_stats,
    _pruned_postings,
    _result_df,
    local_scored_arrays,
    term_stats,
)

_VERIFY_SCHEMA = T.StructType([T.StructField("url", T.StringType())])

# prefix-verification escalation cap: beyond this many checked candidates
# the driver-side prefix rounds stop and one full distributed verification
# pass runs instead (keeps the driver's collect volume and the url IN
# pushdown list bounded)
_PREFIX_CAP = 4096


def _rows_df(spark, rows):
    """Collected (doc_id, url, score) rows → result frame, row order kept."""
    return _result_df(
        spark,
        [int(r["doc_id"]) for r in rows],
        [r["url"] for r in rows],
        [float(r["score"]) for r in rows],
    )


def _phrase_verifier(phrase_tokens: list[str]):
    """Arrow-batched adjacency check: keep urls whose analyzer token stream
    contains the phrase tokens consecutively. Token streams are compared as
    single-space joins, so token boundaries are exact (no substring false
    positives: 'data tables' does not contain the phrase 'data table')."""
    needle = " " + " ".join(phrase_tokens) + " "

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            text = extract_series(pdf["url"], pdf["html"], pdf["text"])
            stream = " " + tokenize_series(text).str.join(" ") + " "
            hit = stream.str.contains(needle, regex=False)
            yield pd.DataFrame({"url": pdf["url"][hit]})

    return fn


def scored_docs(
    spark: SparkSession,
    handle: IndexHandle,
    terms: list[str],
    conjunctive: bool = True,
) -> DataFrame:
    """All matching docs with their summed BM25 score — query_topk's brute
    path without the top-k cut. Returns (doc_id, score)."""
    st = None
    local_ok = True
    try:
        st = _local_term_stats(handle, terms)
    except Exception:
        local_ok = False
        st = term_stats(spark, handle, terms)
    live = [t for t in terms if t in st]
    if (conjunctive and len(live) < len(terms)) or not live:
        return spark.createDataFrame([], "doc_id long, score double")
    if local_ok and _fits_driver(st, live):
        # driver-local fast path (same auto-mode crossover as query_topk):
        # when the terms' postings fit the local budget, the pyarrow-pruned
        # read + numpy kernel produces all candidate scores in ~0.1 s with
        # zero Spark jobs — the distributed scan + Arrow scorer + exchange
        # + agg pipeline below costs ~0.5 s of pure overhead at that size
        uniq, scores = local_scored_arrays(handle, live, st, conjunctive)
        pdf = pd.DataFrame(
            {
                "doc_id": pd.Series(uniq, dtype="int64"),
                "score": pd.Series(scores, dtype="float64"),
            }
        )
        return spark.createDataFrame(pdf, "doc_id long, score double")
    k1, b = handle.stats["k1"], handle.stats["b"]
    avgdl = handle.stats["avgdl"]
    blocks = _pruned_postings(spark, handle, live)
    scored = blocks.mapInPandas(_brute_scorer(st, k1, b, avgdl), SCORE_SCHEMA)
    agg = scored.groupBy("doc_id").agg(
        F.sum("contrib").alias("score"), F.count("*").alias("nt")
    )
    if conjunctive:
        agg = agg.filter(F.col("nt") == len(live))
    return agg.select("doc_id", F.col("score").cast("double"))


def conjunctive_scored(
    spark: SparkSession, handle: IndexHandle, terms: list[str]
) -> DataFrame:
    return scored_docs(spark, handle, terms, conjunctive=True)


def filtered_topk(
    spark: SparkSession,
    index: IndexHandle | str,
    corpus: DataFrame,
    query: str,
    predicate,
    k: int = 10,
    conjunctive: bool = False,
    mode: str = "brute",
    max_filter_ids: int = 4_000_000,
) -> DataFrame:
    """Facet-filtered BM25 top-k: the filter applies BEFORE the top-k cut
    (post-filtering a plain top-k under-fills or skews the result set —
    the classic filtered-search correctness trap). `predicate` is a Column
    over the corpus's attribute columns (e.g. F.col('lang') == 'en').
    Scoring is ES/Lucene filter-context: corpus-level df/avgdl, the filter
    changes the candidate set, never the scores. Both modes are exact.

    mode="brute": score all matching docs (pruned-postings scan +
    vectorized brute scorer), semi-join against the predicate-filtered
    corpus urls — the predicate pushes down into the corpus parquet scan,
    and only (url) strings of qualifying docs shuffle — then order+limit.

    mode="wand" (round 5, B19 scale path): resolve the predicate to a
    sorted doc-id array once, then run filter-aware block-max WAND — the
    array rides the scoring closure and allowed-empty intervals are
    skipped before any block decode, so pruning survives (and improves
    under) selective filters. The resolved set is capped at
    max_filter_ids (one bounded limit() probe); an unselective filter
    beyond the cap — where pruning wouldn't pay anyway — falls back to
    the brute plan. At 10^12 docs the capped path corresponds to shipping
    a compressed id set/bitmap with the query; per-facet block maxima at
    build time remain the declared design for dense pre-declared facets.
    Returns (doc_id, url, score) ordered by (score desc, url asc)."""
    handle = open_index(index) if isinstance(index, str) else index
    terms = list(dict.fromkeys(tokenize(query)))
    docs_full = _docs_df(spark, handle)
    docs = docs_full.select("doc_id", "url")
    # Resolve the predicate against the index's own docs table when it only
    # touches columns the docs table carries verbatim from the corpus (url,
    # lang): the corpus contract here is one row per url — the rows the
    # index was built over — so filtering docs directly selects exactly the
    # same doc set while skipping the corpus scan AND the url semi-join
    # (that resolution join alone measured 0.5–1.2 s at sf1.0, r5 verdict
    # "What's wrong #2"). Predicates touching corpus-only columns (text,
    # html, warc_ts) fail analysis on the probe and keep the corpus path.
    docs_pred = None
    try:
        corpus_cols = set(corpus.columns)
        shared = [c for c in docs_full.columns if c in corpus_cols]
        probe = docs_full.select(*shared).filter(predicate)
        probe.schema  # force analysis; raises if predicate needs other cols
        docs_pred = docs_full.filter(predicate)
    except Exception:
        docs_pred = None
    keep_urls = corpus.filter(predicate).select("url")
    if mode == "wand":
        if docs_pred is not None:
            resolve = docs_pred.select("doc_id")
        else:
            resolve = docs.join(keep_urls, "url", "left_semi").select("doc_id")
        rows = resolve.limit(max_filter_ids + 1).collect()
        if len(rows) <= max_filter_ids:
            if not rows:
                return _result_df(spark, [], [], [])
            allowed = np.asarray(
                sorted(int(r["doc_id"]) for r in rows), dtype=np.int64
            )
            from engine.query import query_topk

            return query_topk(
                spark, handle, query, k=k, mode="wand",
                conjunctive=conjunctive, with_url=True, tiebreak="url",
                doc_filter=allowed,
            )
        # unselective filter: fall through to the brute score-all plan
    scored = scored_docs(spark, handle, terms, conjunctive=conjunctive)
    if docs_pred is not None:
        # same docs-side resolution for the brute plan: one join against
        # the pre-filtered docs table instead of docs-join + corpus
        # semi-join (one exchange and a full corpus scan fewer)
        matched = scored.join(
            docs_pred.select("doc_id", "url"), "doc_id"
        )
    else:
        matched = scored.join(docs, "doc_id").join(
            keep_urls, "url", "left_semi"
        )
    return (
        matched.select("doc_id", "url", "score")
        .orderBy(F.desc("score"), F.asc("url"))
        .limit(k)
    )


def phrase_topk(
    spark: SparkSession,
    index: IndexHandle | str,
    corpus: DataFrame,
    phrase: str,
    k: int = 10,
) -> DataFrame:
    """Top-k exact-phrase matches ranked by BM25 over the phrase's unique
    terms. `corpus` is the webpages table the index was built over
    (url, warc_ts, html, text, lang) — one row per url, i.e. post
    latest-crawl dedup (build_index dedups internally; feed the same input).
    Returns (doc_id, url, score) ordered by (score desc, url asc)."""
    handle = open_index(index) if isinstance(index, str) else index
    ordered = tokenize(phrase)
    if not ordered:
        return _result_df(spark, [], [], [])
    uniq = list(dict.fromkeys(ordered))
    cand = conjunctive_scored(spark, handle, uniq)
    docs = _docs_df(spark, handle).select("doc_id", "url")
    cand_urls = cand.join(docs, "doc_id")  # (doc_id, score, url)
    if len(ordered) == 1:
        return (
            cand_urls.select("doc_id", "url", "score")
            .orderBy(F.desc("score"), F.asc("url"))
            .limit(k)
        )
    # Prefix verification: adjacency only ever REMOVES candidates, so the
    # verified top-k is the first k rows of the (score desc, url asc)
    # ordered candidate list that pass verification. Verify the ordered
    # prefix in geometrically growing batches instead of re-tokenizing the
    # WHOLE candidate set (for a stopword-grade phrase that set approaches
    # the corpus — the r5 plan re-ran extraction over ~60% of all rows, and
    # evaluated the scoring subtree twice to do it). Each round collects a
    # bounded prefix (<= _PREFIX_CAP rows), prunes the corpus scan with a
    # pushed-down url IN filter, and verifies only those rows. Phrases
    # whose matches are pathologically deep in the candidate list (or
    # absent) fall back to the full verification plan once, bounded by the
    # same cost the unconditional plan always paid.
    cand_urls = cand_urls.persist()
    try:
        verifier = _phrase_verifier(ordered)
        verify_in = corpus.withColumn(
            # ship the (dominant) html payload only for rows whose
            # extraction actually needs the fallback (guide §4.1)
            "html", F.when(F.col("text").isNull(), F.col("html"))
        )
        verified_rows: list = []
        checked = 0
        # round sizing: a verify round's cost is dominated by fixed job
        # overhead, not tokenize volume (vectorized kernel ~50 µs/doc), so
        # start wide enough that typical adjacency pass-rates (a few %)
        # fill k in ONE round
        batch = max(8 * k, 512)
        while checked < _PREFIX_CAP:
            prefix = (
                cand_urls.orderBy(F.desc("score"), F.asc("url"))
                .limit(checked + batch)
                .collect()
            )
            new = prefix[checked:]
            if not new:  # candidate list exhausted — done, however many
                return _rows_df(spark, verified_rows[:k])
            urls = [r["url"] for r in new]
            ok = {
                r["url"]
                for r in verify_in.filter(F.col("url").isin(urls))
                # a prefix round holds <= _PREFIX_CAP rows: coalesce so the
                # Python stage runs a handful of tasks instead of one per
                # corpus partition (task overhead, not tokenize volume,
                # dominates at this size — measured 1.5 s @128 tasks vs
                # 0.55 s @8 for a 512-row round)
                .coalesce(8)
                .select("url", "html", "text")
                .mapInPandas(verifier, _VERIFY_SCHEMA)
                .collect()
            }
            verified_rows.extend(r for r in new if r["url"] in ok)
            if len(verified_rows) >= k:
                return _rows_df(spark, verified_rows[:k])
            checked = len(prefix)
            batch *= 4
        # fallback: full verification of the remaining candidate set (the
        # pre-round-6 plan), still over the persisted candidates
        verified = (
            verify_in.join(cand_urls.select("url"), "url", "left_semi")
            .select("url", "html", "text")
            .mapInPandas(verifier, _VERIFY_SCHEMA)
        )
        rows = (
            cand_urls.join(verified, "url", "left_semi")
            .select("doc_id", "url", "score")
            .orderBy(F.desc("score"), F.asc("url"))
            .limit(k)
            .collect()
        )
        return _rows_df(spark, rows)
    finally:
        # every return above is a collected local relation, so the cache
        # can be dropped before returning — no persist leak per query
        cand_urls.unpersist()
