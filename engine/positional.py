"""Positional postings for exact-phrase search (SURVEY.md §2.B18 scale
path; round-4 verdict "Next round #4").

The verification-based `engine.phrase.phrase_topk` is exact but its cost is
O(candidate text volume): for a stopword-grade phrase ("the data") the
conjunctive candidate set approaches the corpus, and verification
re-tokenizes a large corpus slice per query. The standard escape hatch —
named in engine/phrase.py:23-29 — is a positional index: per (term, doc)
the token-stream positions of the term, delta-encoded with the same varint
machinery as the main postings (engine/codec.py round-trips arbitrary uint
streams). A phrase query then verifies adjacency from the index artifact
alone and never touches corpus text.

Artifact layout (mirrors the main postings table):

    positions/bucket=<crc32(term) % n_term_buckets>/*.parquet
      term, salt, block_seq, n (docs), first_doc_id, last_doc_id,
      ids_enc   -- doc ids, within-block delta varint (first absolute)
      cnts_enc  -- positions-per-doc varint
      pos_enc   -- concatenation of per-doc position streams, each
                   within-doc delta varint with an absolute first value
                   (self-contained per doc => decode via the shared
                   delta_decode_blocks(flat_gaps, cnts) kernel)

Blocks hold `block_size` docs, cut in doc order per (term, salt) group, so
the artifact is a pure function of (url set, config) — the same
byte-determinism invariant the main index holds across parallelism levels.
Hot terms (df >= hot_threshold, same rule as the main build) are salted by
doc range BEFORE the term shuffle; since positional rows are per (term,
doc) the salt is a pure column computation (no decode/re-encode pass).

Query plan (`phrase_match_docs`): the phrase terms' blocks, pruned to
their term buckets, go through the same shard runner as block-max WAND
(engine.query.ShardRunner) → vectorized adjacency chain on (doc, pos) keys
→ matched doc_ids. A phrase whose postings fit one shard runs its shard on
the driver (pyarrow read, kernel in-process, no Spark job); heavier
phrases fan out to doc-range shards through `groupBy("shard")
.applyInPandas` (blocks spanning several shards are replicated, matching
clipped to the home shard). `phrase_topk_positional` then reuses the exact
BM25 scoring path of engine.phrase (rank-identical by construction: same
scores, and the positional match set equals the verification match set —
property-tested in tests/test_positional.py); when the candidate scores
and the match ids are both on the driver it masks and ranks there too,
so a light phrase query launches zero Spark jobs.

Scale notes (100 TB): the build is one tokenize pass + one term shuffle of
varint-packed per-(term,doc) rows (~1-2 B/position in transit); the query
reads ONLY index blocks — for "the data" the bytes read are the two terms'
position blocks, independent of corpus text volume. Candidate generation,
salting and sharding are shared designs with the main index, so skew
behavior is identical.
"""

from __future__ import annotations

import json
import os
import zlib
from typing import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from engine.analyzer import extract_series, factorized_tokens, tokenize
from engine.build import IndexHandle, open_index
from engine.codec import (
    delta_decode_blocks,
    varint_decode_concat,
    varint_encode_rows,
)
from engine.query import (
    ShardRunner,
    _docs_df,
    _fits_driver,
    _forget,
    _local_term_stats,
    _result_df,
    _url_ranked_topk,
    _wand_n_groups,
    local_scored_arrays,
    term_stats,
)

POS_PARTIAL_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_pos", T.IntegerType()),
        T.StructField("pos_enc", T.BinaryType()),
    ]
)

POS_BLOCK_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType()),
        T.StructField("salt", T.IntegerType()),
        T.StructField("block_seq", T.IntegerType()),
        T.StructField("n", T.IntegerType()),
        T.StructField("first_doc_id", T.LongType()),
        T.StructField("last_doc_id", T.LongType()),
        T.StructField("ids_enc", T.BinaryType()),
        T.StructField("cnts_enc", T.BinaryType()),
        T.StructField("pos_enc", T.BinaryType()),
        T.StructField("bucket", T.IntegerType()),
    ]
)

MATCH_SCHEMA = T.StructType([T.StructField("doc_id", T.LongType())])


def _tokenize_positions():
    """mapInPandas body: tokenize each doc (same Arrow-kernel path as the
    main build) and emit one row per (term, doc) with the term's within-doc
    positions delta+varint packed. Positions index the analyzer token
    stream (0-based), i.e. exactly the stream engine.phrase verifies
    against."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            text = extract_series(pdf["url"], pdf.get("html"), pdf["text"])
            codes, uniq, dls = factorized_tokens(text.to_numpy(dtype=object))
            total = int(dls.sum())
            if total == 0:
                continue
            doc_ids = pdf["doc_id"].to_numpy(np.int64)
            doc_idx = np.repeat(np.arange(len(pdf), dtype=np.int64), dls)
            doc_starts = np.concatenate(([0], np.cumsum(dls[:-1])))
            pos = np.arange(total, dtype=np.int64) - np.repeat(
                doc_starts, dls
            )
            # one stable sort groups (doc, term); positions stay ascending
            # within each run because the input stream is in token order
            V = np.int64(len(uniq))
            key = doc_idx * V + codes
            order = np.argsort(key, kind="stable")
            key_s = key[order]
            pos_s = pos[order]
            change = np.empty(total, dtype=bool)
            change[0] = True
            change[1:] = key_s[1:] != key_s[:-1]
            rstarts = np.flatnonzero(change)
            gaps = pos_s.astype(np.uint64).copy()
            gaps[1:] = pos_s[1:].astype(np.uint64) - pos_s[:-1].astype(
                np.uint64
            )
            gaps[rstarts] = pos_s[rstarts].astype(np.uint64)
            bufs = varint_encode_rows(gaps, rstarts)
            n_pos = np.diff(np.append(rstarts, total)).astype(np.int32)
            run_key = key_s[rstarts]
            yield pd.DataFrame(
                {
                    "term": uniq[(run_key % V).astype(np.int64)],
                    "doc_id": doc_ids[(run_key // V).astype(np.int64)],
                    "n_pos": n_pos,
                    "pos_enc": bufs,
                }
            )

    return fn


def _block_cut(block_size: int, n_buckets: int):
    """mapInPandas body over a (term, salt)-sorted stream: cut each group's
    doc-ordered rows into blocks of `block_size` docs, delta+varint the doc
    ids, varint the per-doc counts, concatenate the per-doc position
    streams (each self-contained: absolute first position). Groups split
    across Arrow batches are held back and stitched, same pattern as the
    main build's merge stage (engine/build.py::_merge_compress)."""

    def process(pdf: pd.DataFrame) -> pd.DataFrame:
        nrows = len(pdf)
        terms_arr = pdf["term"].to_numpy(object)
        salts_arr = pdf["salt"].to_numpy(np.int32)
        ids = pdf["doc_id"].to_numpy(np.int64)
        cnts = pdf["n_pos"].to_numpy(np.int64)
        bufs = pdf["pos_enc"].tolist()
        new_grp = np.empty(nrows, dtype=bool)
        new_grp[0] = True
        new_grp[1:] = (terms_arr[1:] != terms_arr[:-1]) | (
            salts_arr[1:] != salts_arr[:-1]
        )
        grp_of = np.cumsum(new_grp) - 1
        grp_first = np.flatnonzero(new_grp)
        pos_in_grp = np.arange(nrows, dtype=np.int64) - grp_first[grp_of]
        starts = np.flatnonzero(pos_in_grp % block_size == 0)
        ends = np.append(starts[1:], nrows)
        gaps = ids.astype(np.uint64).copy()
        gaps[1:] = ids[1:].astype(np.uint64) - ids[:-1].astype(np.uint64)
        gaps[starts] = ids[starts].astype(np.uint64)
        ids_enc = varint_encode_rows(gaps, starts)
        cnts_enc = varint_encode_rows(cnts.astype(np.uint64), starts)
        pos_enc = [b"".join(bufs[s:e]) for s, e in zip(starts, ends)]
        blk_grp = grp_of[starts]
        blk_first = np.empty(len(starts), dtype=bool)
        blk_first[0] = True
        blk_first[1:] = blk_grp[1:] != blk_grp[:-1]
        grp_blk0 = np.zeros(int(grp_of[-1]) + 1, dtype=np.int64)
        fidx = np.flatnonzero(blk_first)
        grp_blk0[blk_grp[fidx]] = fidx
        blk_seq = np.arange(len(starts), dtype=np.int64) - grp_blk0[blk_grp]
        term_b = terms_arr[starts]
        bucket_b = np.asarray(
            [zlib.crc32(t.encode("utf-8")) % n_buckets for t in term_b],
            dtype=np.int32,
        )
        return pd.DataFrame(
            {
                "term": term_b,
                "salt": salts_arr[starts],
                "block_seq": blk_seq.astype(np.int32),
                "n": (ends - starts).astype(np.int32),
                "first_doc_id": ids[starts],
                "last_doc_id": ids[ends - 1],
                "ids_enc": ids_enc,
                "cnts_enc": cnts_enc,
                "pos_enc": pos_enc,
                "bucket": bucket_b,
            }
        )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        held: pd.DataFrame | None = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if held is not None:
                pdf = pd.concat([held, pdf], ignore_index=True)
            t_ = pdf["term"].to_numpy(object)
            s_ = pdf["salt"].to_numpy()
            tail = (t_ == t_[-1]) & (s_ == s_[-1])
            if tail.all():
                held = pdf
                continue
            cut = len(pdf) - int(np.argmin(tail[::-1]))
            held = pdf.iloc[cut:].reset_index(drop=True)
            out = process(pdf.iloc[:cut].reset_index(drop=True))
            if len(out):
                yield out
        if held is not None and len(held):
            out = process(held)
            if len(out):
                yield out

    return fn


def build_positions(
    spark: SparkSession,
    index: IndexHandle | str,
    corpus: DataFrame,
    out_dir: str | None = None,
) -> str:
    """Build the positional artifact for an already-published index version.

    `corpus` is the webpages table the index was built over (same contract
    as engine.phrase.phrase_topk: one row per url). Doc ids come from the
    index's docs table (join on url), so positions always agree with the
    main postings' doc-id space. Kept as a separate artifact (default
    `<version_dir>/positions`) so the main index bytes — and their
    cross-parallelism content hash — are untouched; at production scale it
    would ride the same atomic publish as one more sink.

    Plan: corpus ⋈ docs(url → doc_id) → Arrow tokenize pass emitting
    varint-packed per-(term, doc) rows → df join for the hot/cold salt
    column → one term shuffle → doc-ordered block cut. Two shuffles total
    (url join + term repartition); the block stage streams groups batch-wise
    with no per-group pandas materialization."""
    handle = open_index(index) if isinstance(index, str) else index
    out_dir = out_dir or os.path.join(handle.version_dir, "positions")
    n_buckets = int(handle.stats["n_term_buckets"])
    block_size = int(handle.stats["block_size"])
    range_size = int(handle.stats["range_size"])
    hot_thr = int(handle.stats["hot_threshold"])

    docs = _docs_df(spark, handle).select("doc_id", "url")
    cols = ["url", "text"]
    if "html" in corpus.columns:
        # ship html only for rows whose extraction actually needs the
        # fallback (text null) — same masking as the main build's scan;
        # the html payload otherwise dominates the join + Arrow transfer
        corpus = corpus.withColumn(
            "html", F.when(F.col("text").isNull(), F.col("html"))
        )
        cols.append("html")
    joined = corpus.select(*cols).join(docs, "url")
    # right-size the tokenize stage to the session's core count: the corpus
    # often arrives over-partitioned (many tiny cached partitions) and the
    # Arrow stage then pays per-task overhead instead of kernel time;
    # coalesce only ever reduces, so an already-narrow input is untouched
    joined = joined.coalesce(spark.sparkContext.defaultParallelism)
    partials = joined.mapInPandas(
        _tokenize_positions(), schema=POS_PARTIAL_SCHEMA
    )
    # hot set closure-shipped exactly like the main build (bounded by
    # ~n_doc_ranges*avgdl terms): the salt is then a pure JVM column —
    # no join touches the per-(term, doc) partials payload at all
    hot_terms = [
        r["term"]
        for r in spark.read.parquet(handle.terms_path)
        .filter(F.col("df") >= hot_thr)
        .select("term")
        .collect()
    ]
    salted = partials.select(
        "term",
        F.when(
            F.col("term").isin(hot_terms),
            (F.col("doc_id") / range_size + 1).cast("int"),
        )
        .otherwise(F.lit(0))
        .alias("salt"),
        "doc_id",
        "n_pos",
        "pos_enc",
    )
    # ONE exchange for block-cut AND sink (same fusion as the main build's
    # merge stage): partition by the on-disk term bucket, cut blocks in
    # (term, salt, doc) order inside each bucket partition, write without a
    # second repartition of the position payload
    blocks = (
        salted.withColumn(
            "bucket",
            (F.crc32(F.encode(F.col("term"), "utf-8")) % n_buckets).cast(
                "int"
            ),
        )
        .repartition(n_buckets, F.col("bucket"))
        .sortWithinPartitions("term", "salt", "doc_id")
        .drop("bucket")
        .mapInPandas(_block_cut(block_size, n_buckets), schema=POS_BLOCK_SCHEMA)
    )
    (
        blocks.sortWithinPartitions("bucket", "term", "salt", "block_seq")
        .write.partitionBy("bucket")
        .mode("overwrite")
        .parquet(out_dir)
    )
    with open(os.path.join(out_dir, "positions_meta.json"), "w") as f:
        json.dump(
            {
                "n_term_buckets": n_buckets,
                "block_size": block_size,
                "range_size": range_size,
                "hot_threshold": hot_thr,
                "built_over": handle.version_dir,
            },
            f,
        )
    # the overwrite replaced every file under out_dir: the handle's memoized
    # scans of it hold the old file listing (engine.query._pa_dataset)
    _forget(handle, out_dir)
    return out_dir


# ---------------------------------------------------------------------------
# query side
# ---------------------------------------------------------------------------


def _decode_term(g: pd.DataFrame, lo: int, hi: int):
    """Decode one term's blocks within a shard, clipped to [lo, hi).
    Returns (doc_ids, per-doc position counts, flat positions)."""
    ns = g["n"].to_numpy(np.int64)
    ids = delta_decode_blocks(
        varint_decode_concat(g["ids_enc"]), ns
    ).astype(np.int64)
    cnts = varint_decode_concat(g["cnts_enc"]).astype(np.int64)
    pos = delta_decode_blocks(
        varint_decode_concat(g["pos_enc"]), cnts
    ).astype(np.int64)
    keep = (ids >= lo) & (ids < hi)
    if not keep.all():
        pos = pos[np.repeat(keep, cnts)]
        ids, cnts = ids[keep], cnts[keep]
    return ids, cnts, pos


def _adjacency_kernel(ordered_terms: list[str], range_size: int):
    """Exact phrase adjacency over one doc-range shard: build per-term
    (doc, pos) key arrays and chain-intersect S ← (S + 1) ∩ keys(t_next).
    Fully vectorized (np.intersect1d over the whole shard); handles
    repeated phrase terms ("the the") because the chain walks the ORDERED
    token list. Each doc is verified in exactly one shard (clip), mirroring
    the WAND scorer's replication contract."""
    uniq_terms = list(dict.fromkeys(ordered_terms))

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"doc_id": pd.Series(dtype=np.int64)})
        if len(pdf) == 0:
            return empty
        shard = int(pdf["shard"].iloc[0])
        lo, hi = shard * range_size, (shard + 1) * range_size
        present = set(pdf["term"])
        if any(t not in present for t in uniq_terms):
            return empty
        per_term: dict[str, tuple] = {}
        for t, g in pdf.groupby("term", sort=False):
            per_term[t] = _decode_term(g, lo, hi)
        if any(len(per_term[t][0]) == 0 for t in uniq_terms):
            return empty
        union = np.unique(
            np.concatenate([per_term[t][0] for t in uniq_terms])
        )
        max_pos = max(
            (int(p.max()) if len(p) else 0)
            for _, _, p in per_term.values()
        )
        M = np.int64(max_pos + 2)
        keys: dict[str, np.ndarray] = {}
        for t in uniq_terms:
            ids, cnts, pos = per_term[t]
            local = np.searchsorted(union, np.repeat(ids, cnts))
            keys[t] = local.astype(np.int64) * M + pos
        s = keys[ordered_terms[0]]
        for t in ordered_terms[1:]:
            if len(s) == 0:
                return empty
            s = np.intersect1d(s + 1, keys[t], assume_unique=True)
        if len(s) == 0:
            return empty
        matched = union[np.unique(s // M)]
        return pd.DataFrame({"doc_id": matched.astype(np.int64)})

    return fn


def _match_docs(
    spark: SparkSession,
    handle: IndexHandle,
    positions_dir: str,
    ordered_terms: list[str],
    st: dict,
    shard_target: int | None = None,
) -> pd.DataFrame | DataFrame:
    """The adjacency kernel through the shared ShardRunner: a pandas frame
    of matched doc_ids when the phrase fits one shard (scored on the
    driver), else the lazy sharded Spark plan. Every phrase term must be
    in `st`."""
    uniq = list(dict.fromkeys(ordered_terms))
    runner = ShardRunner(
        spark, handle, positions_dir, POS_BLOCK_SCHEMA, uniq,
        _wand_n_groups(handle, st, uniq, shard_target),
    )
    return runner.run(
        _adjacency_kernel(ordered_terms, runner.width), MATCH_SCHEMA
    )


def phrase_match_docs(
    spark: SparkSession,
    index: IndexHandle | str,
    positions_dir: str,
    ordered_terms: list[str],
    shard_target: int | None = None,
) -> DataFrame:
    """doc_ids whose token stream contains `ordered_terms` consecutively,
    answered from the positional artifact alone (no corpus access).

    Physical plan mirrors the WAND query path (engine.query.ShardRunner):
    the phrase terms' blocks, pruned to their term buckets, are matched on
    the driver when they fit one shard, and otherwise fan out to doc-range
    shards (blocks replicated to every shard they span and clipped in the
    kernel)."""
    handle = open_index(index) if isinstance(index, str) else index
    uniq = list(dict.fromkeys(ordered_terms))
    if not uniq:
        return spark.createDataFrame([], MATCH_SCHEMA)
    try:
        st = _local_term_stats(handle, uniq)
    except Exception:
        st = term_stats(spark, handle, uniq)
    if any(t not in st for t in uniq):
        return spark.createDataFrame([], MATCH_SCHEMA)
    out = _match_docs(spark, handle, positions_dir, ordered_terms, st,
                      shard_target)
    return out if isinstance(out, DataFrame) else spark.createDataFrame(
        out, MATCH_SCHEMA
    )


def phrase_topk_positional(
    spark: SparkSession,
    index: IndexHandle | str,
    positions_dir: str,
    phrase: str,
    k: int = 10,
) -> DataFrame:
    """Exact-phrase top-k from the positional artifact: rank-identical to
    engine.phrase.phrase_topk (same conjunctive BM25 scores over the
    phrase's unique terms, same (score desc, url asc) order), but adjacency
    is verified from index blocks — query cost is O(phrase terms' position
    blocks), independent of corpus text volume.

    Finishes on the driver, with zero Spark jobs, when both inputs are
    there: the conjunctive candidate scores (local postings kernel, under
    the same auto-mode crossover as engine.phrase.scored_docs) and the
    match ids (a phrase that fits one shard). Otherwise the Spark plan
    runs: candidate scores semi-joined to the match ids, url join, sort."""
    from engine.phrase import conjunctive_scored

    handle = open_index(index) if isinstance(index, str) else index
    ordered = tokenize(phrase)
    if not ordered:
        return _result_df(spark, [], [], [])
    uniq = list(dict.fromkeys(ordered))
    try:
        st = _local_term_stats(handle, uniq)
        local_ok = True
    except Exception:  # non-local index store: Spark reads below
        st = term_stats(spark, handle, uniq)
        local_ok = False
    if any(t not in st for t in uniq):
        return _result_df(spark, [], [], [])
    matched = (
        _match_docs(spark, handle, positions_dir, ordered, st)
        if len(ordered) > 1 else None
    )
    if (local_ok and not isinstance(matched, DataFrame)
            and _fits_driver(st, uniq)):
        ids, scores = local_scored_arrays(handle, uniq, st, conjunctive=True)
        if matched is not None:
            keep = np.isin(ids, matched["doc_id"].to_numpy(np.int64))
            ids, scores = ids[keep], scores[keep]
        top = _url_ranked_topk(spark, handle, ids, scores, k)
        return _result_df(spark, *top)
    cand = conjunctive_scored(spark, handle, uniq)
    if matched is not None:
        if not isinstance(matched, DataFrame):
            matched = spark.createDataFrame(matched, MATCH_SCHEMA)
        cand = cand.join(matched, "doc_id", "left_semi")
    docs = _docs_df(spark, handle).select("doc_id", "url")
    return (
        cand.join(docs, "doc_id")
        .select("doc_id", "url", "score")
        .orderBy(F.desc("score"), F.asc("url"))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# driver entry: the stopword-grade phrase that motivates the artifact
# ---------------------------------------------------------------------------

_POS_CACHE: dict[str, str] = {}


def get_positions(spark: SparkSession, sf_dir: str) -> tuple:
    from engine.searchops import get_index
    from engine.webpages import load_webpages

    handle = get_index(spark, sf_dir)
    if sf_dir not in _POS_CACHE:
        _POS_CACHE[sf_dir] = build_positions(
            spark, handle, load_webpages(spark, sf_dir)
        )
    return handle, _POS_CACHE[sf_dir]


def _register_entry() -> None:
    from engine.relops import register
    from engine.searchops import _phrase_sql

    @register("bm25_phrase_positional", _phrase_sql("the data", 10))
    def bm25_phrase_positional(spark, sf_dir):
        """B18 scale path: the stopword-grade phrase where verification-based
        search degrades to a corpus scan — answered from positional postings
        instead, rank-identical to the same oracle as bm25_phrase."""
        h, pos_dir = get_positions(spark, sf_dir)
        out = phrase_topk_positional(spark, h, pos_dir, "the data", k=10)
        return out.select("url", F.round("score", 4).alias("score"))


_register_entry()
