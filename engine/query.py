"""BM25 top-k query engine (SURVEY.md §2.B10–B14, §3.3).

Two physical strategies, rank-identical by construction (property-tested):

- ``brute``: decode every posting of the query terms, explode to
  (doc_id, contrib), groupBy(doc_id).sum → TakeOrderedAndProject. Fully
  distributed, no pruning — the correctness baseline.
- ``wand``: block-max WAND (BASELINE.json:6). Blocks are grouped into
  doc-range shards (hot-term salts are doc-range-aligned by the build, so
  most blocks land in exactly one shard); each shard runs an exact
  interval-sweep BMW — intervals between block boundaries are processed in
  descending upper-bound order, stopping when the next interval's bound
  can't beat the shard's kth score. Only provably-dominated blocks are
  skipped, so results are rank-identical to brute force (§2.B14 exactness
  guard). Local top-k per shard, then a global top-k over ≤ shards·k
  rows. One ShardRunner executes every shard: a query whose postings fit
  one shard (the `_wand_n_groups` formula) runs its shard on the driver —
  a pyarrow read of the pruned blocks and the same kernel in-process, zero
  Spark jobs — and fans out through `groupBy("shard").applyInPandas`
  otherwise (or when the store is not pyarrow-readable).

Both paths prune the postings scan to the query terms' hash buckets
(partition pruning on the `bucket=` directory column) and push `term IN`
down to parquet row groups (rows are term-sorted within buckets).

Term stats (df/idf) are broadcast to executors (B11) — they ride the
mapInPandas closure after a driver-side lookup of ≤|query| rows.
"""

from __future__ import annotations

import heapq
import zlib
from typing import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from engine.analyzer import tokenize
from engine.build import POSTINGS_SCHEMA, IndexHandle, open_index
from engine.codec import (
    bm25_tf_norm,
    decode,
    decode_concat,
    delta_decode,
    delta_decode_blocks,
    idf,
)

SCORE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("contrib", T.DoubleType()),
    ]
)

TOPK_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("score", T.DoubleType()),
        T.StructField("n_terms", T.IntegerType()),
        # max score among candidates the shard's top-k heap DROPPED
        # (constant per shard; -inf if nothing was dropped): the url
        # tie-break needs its floor rescan only when a dropped candidate
        # ties the global kth score exactly — see query_topk
        T.StructField("dropped_max", T.DoubleType()),
    ]
)

# every top-k entry point returns this frame, in rank order
RESULT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("url", T.StringType()),
        T.StructField("score", T.DoubleType()),
    ]
)


# postings per WAND shard task (~10 ms kernel time); module-level so tests
# can shrink it to force the multi-shard path on tiny corpora
WAND_SHARD_TARGET = 512_000


def parse_query(query: str) -> list[str]:
    """B10: same analyzer as the build path; duplicate terms collapse (their
    contribution is per unique term, matching Lucene's boolean-sum)."""
    seen: dict[str, None] = {}
    for t in tokenize(query):
        seen.setdefault(t)
    return list(seen)


def _spark_scan(
    spark: SparkSession, handle: IndexHandle, path: str, schema=None
) -> DataFrame:
    """Parquet scan of one of the handle's tables, built once per (handle,
    path): an explicit schema skips footer-based inference and the memoized
    plan skips re-listing the directory on every query (~0.1 s/query of
    driver-only work measured at sf1.0). This memoizes a LAZY plan, never
    data — every execution still reads the parquet files. Same layout
    precondition as _pa_dataset."""
    scans = handle.__dict__.setdefault("_spark_scans", {})
    df = scans.get(path)
    if df is None:
        reader = spark.read if schema is None else spark.read.schema(schema)
        df = scans[path] = reader.parquet(path)
    return df


def _docs_df(spark: SparkSession, handle: IndexHandle) -> DataFrame:
    return _spark_scan(spark, handle, handle.docs_path)


def _pa_dataset(handle: IndexHandle, path: str, partitioning=None):
    """Driver-side pyarrow dataset for one of the handle's tables, memoized
    per (handle, path) — skips re-listing the directory on every query.
    Lazy metadata only; data is read per query. Non-parquet sidecars (the
    positions artifact's positions_meta.json) are skipped by name.

    Precondition (versioned layout): the file listing is held for the
    handle's lifetime, so a handle's files are never overwritten in place —
    build_index publishes every build into a fresh version directory — and
    any writer into a handle's directory drops the handle's memo entries
    for what it wrote with _forget. engine.positional.build_positions is
    the one such writer."""
    dsets = handle.__dict__.setdefault("_pa_datasets", {})
    dset = dsets.get(path)
    if dset is None:
        import pyarrow.dataset as ds

        dset = dsets[path] = ds.dataset(
            path, format="parquet", partitioning=partitioning,
            ignore_prefixes=[".", "_", "positions_meta"],
        )
    return dset


def _forget(handle: IndexHandle, path: str) -> None:
    """Drop the handle's memoized Spark scan and pyarrow dataset of `path`,
    whose file listings a rewrite of `path` made stale."""
    for memo in ("_spark_scans", "_pa_datasets"):
        handle.__dict__.get(memo, {}).pop(path, None)


def _pa_field(name: str):
    import pyarrow.dataset as ds

    return ds.field(name)


def _term_buckets(handle: IndexHandle, terms: list[str]) -> list[int]:
    """The on-disk `bucket=` partitions holding `terms` (postings and
    positions share the crc32 term → bucket rule)."""
    n = handle.stats["n_term_buckets"]
    return sorted({zlib.crc32(t.encode("utf-8")) % n for t in terms})


def _pruned_scan(
    spark: SparkSession, handle: IndexHandle, path: str, schema,
    terms: list[str],
) -> DataFrame:
    """The terms' blocks of a bucket-partitioned table (postings or
    positions): partition pruning on `bucket=`, then `term IN` pushed down
    to the term-sorted parquet row groups."""
    return (
        _spark_scan(spark, handle, path, schema)
        .filter(F.col("bucket").isin(_term_buckets(handle, terms)))
        .filter(F.col("term").isin(terms))
    )


def _pruned_postings(
    spark: SparkSession, handle: IndexHandle, terms: list[str]
) -> DataFrame:
    return _pruned_scan(
        spark, handle, handle.postings_path, POSTINGS_SCHEMA, terms
    )


def _local_blocks(
    handle: IndexHandle, path: str, terms: list[str], columns: list[str]
):
    """Driver-side twin of _pruned_scan: the same bucket-partition and
    `term IN` row-group pruning, read with pyarrow (no Spark job). Returns
    a pyarrow Table; raises on a store pyarrow cannot read."""
    import pyarrow.dataset as ds

    return _pa_dataset(handle, path, partitioning="hive").to_table(
        columns=columns,
        filter=ds.field("bucket").isin(_term_buckets(handle, terms))
        & ds.field("term").isin(terms),
    )


def term_stats(spark: SparkSession, handle: IndexHandle, terms: list[str]) -> dict:
    """B11: driver-side lookup of the ≤|query| term rows; result is shipped
    to executors in the scoring closure (broadcast of a tiny dict)."""
    rows = (
        spark.read.parquet(handle.terms_path)
        .filter(F.col("term").isin(terms))
        .select("term", "df", "cf")
        .collect()
    )
    n = handle.stats["n_docs"]
    return {
        r["term"]: {"df": int(r["df"]), "cf": int(r["cf"]), "idf": idf(n, int(r["df"]))}
        for r in rows
    }


def _decode_block(row) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    ids = delta_decode(decode(row.codec_ids, row.ids_enc, row.n)).astype(np.int64)
    tfs = decode(row.codec_tfs, row.tfs_enc, row.n).astype(np.int64)
    dls = decode(row.codec_dls, row.dls_enc, row.n).astype(np.int64)
    return ids, tfs, dls


def _brute_scorer(stats: dict, k1: float, b: float, avgdl: float):
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids_out: list[np.ndarray] = []
            contrib_out: list[np.ndarray] = []
            for tm, g in pdf.groupby("term", sort=True):
                ns = g["n"].tolist()
                gaps = decode_concat(
                    g["codec_ids"].tolist(), g["ids_enc"].tolist(), ns
                )
                ids = delta_decode_blocks(gaps, ns).astype(np.int64)
                tfs = decode_concat(
                    g["codec_tfs"].tolist(), g["tfs_enc"].tolist(), ns
                ).astype(np.int64)
                dls = decode_concat(
                    g["codec_dls"].tolist(), g["dls_enc"].tolist(), ns
                ).astype(np.int64)
                ids_out.append(ids)
                contrib_out.append(
                    stats[tm]["idf"] * bm25_tf_norm(tfs, dls, k1, b, avgdl)
                )
            if not ids_out:
                yield pd.DataFrame({"doc_id": [], "contrib": []}).astype(
                    {"doc_id": np.int64, "contrib": np.float64}
                )
                continue
            yield pd.DataFrame(
                {
                    "doc_id": np.concatenate(ids_out),
                    "contrib": np.concatenate(contrib_out),
                }
            )

    return fn


def _wand_shard_scorer(stats: dict, k1: float, b: float, avgdl: float, k: int,
                       conjunctive: bool, n_query_terms: int, range_size: int,
                       floor: float | None = None,
                       allowed: np.ndarray | None = None):
    """Exact interval-sweep block-max WAND over one doc-range shard.

    floor mode (``floor`` set): instead of the top-k heap, return EVERY doc
    in the shard with score >= floor — used by the url tie-break to fetch
    the complete kth-score tie group when the heap path may have truncated
    it (block-max pruning still applies: intervals with UB < floor are
    skipped). Scores are bit-identical to heap mode (same kernel).

    allowed mode (``allowed`` set, sorted int64 doc ids — either a plain
    array or a SparkContext.broadcast of one, resolved once per task so the
    array ships via the torrent broadcast path instead of being pickled
    into every task closure): facet-filtered
    WAND (B19 scale path) — intervals containing no allowed doc are skipped
    BEFORE any block decode (one vectorized searchsorted on the filter
    array), and decoded postings are masked to the allowed set, so
    block-max pruning survives filtering and a selective filter prunes
    MORE, not less. Exact: it scores a subset of docs with unchanged
    corpus-level stats (ES filter-context semantics).

    A block overlapping several doc-range shards is replicated to each (the
    explode in ShardRunner), so every shard sees every block covering its
    own doc range — scoring is therefore clipped to [shard*range_size,
    (shard+1)*range_size): each doc is scored exactly once, in its home
    shard, with all its covering blocks present (full scores). Without the
    clip a spanning cold-term block would be scored in every shard it was
    replicated to, emitting duplicate doc_ids into the global top-k.

    Interval accumulation is vectorized: postings inside a block are
    doc-sorted, so an interval is a searchsorted slice; per-interval scores
    come from one np.add.at over the concatenated slices (no per-posting
    Python — the same kernel query_topk_local uses)."""

    empty = pd.DataFrame(
        {"doc_id": pd.Series(dtype=np.int64),
         "score": pd.Series(dtype=np.float64),
         "n_terms": pd.Series(dtype=np.int32),
         "dropped_max": pd.Series(dtype=np.float64)}
    )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        allow = allowed.value if hasattr(allowed, "value") else allowed
        rows = list(pdf.itertuples(index=False))
        shard = int(rows[0].shard)
        shard_lo = shard * range_size
        shard_hi = shard_lo + range_size
        terms = sorted({r.term for r in rows})
        if conjunctive and len(terms) < n_query_terms:
            return empty
        # per-term block tables sorted by first_doc_id
        per_term: dict[str, list] = {t: [] for t in terms}
        for r in rows:
            per_term[r.term].append(r)
        for t in terms:
            per_term[t].sort(key=lambda r: r.first_doc_id)
        # interval boundaries = all block edges, clipped to the shard range
        edges = sorted(
            {r.first_doc_id for r in rows} | {r.last_doc_id + 1 for r in rows}
        )
        lo = np.clip(np.asarray(edges[:-1], dtype=np.int64), shard_lo, shard_hi)
        hi = np.clip(np.asarray(edges[1:], dtype=np.int64), shard_lo, shard_hi)
        keep = lo < hi
        lo, hi = lo[keep], hi[keep]
        n_int = len(lo)
        if n_int == 0:
            return empty
        # UB per interval: sum over terms of covering block's max_score
        ub = np.zeros(n_int, dtype=np.float64)
        covered = np.zeros(n_int, dtype=np.int32)
        cover: dict[str, np.ndarray] = {}
        for t in terms:
            blocks = per_term[t]
            firsts = np.asarray([b_.first_doc_id for b_ in blocks], np.int64)
            lasts = np.asarray([b_.last_doc_id for b_ in blocks], np.int64)
            maxes = np.asarray([b_.max_score for b_ in blocks], np.float64)
            # block index covering each interval start (blocks disjoint sorted)
            bi = np.searchsorted(firsts, lo, side="right") - 1
            ok = (bi >= 0) & (lo <= np.where(bi >= 0, lasts[np.maximum(bi, 0)], -1))
            ub += np.where(ok, maxes[np.maximum(bi, 0)], 0.0)
            covered += ok.astype(np.int32)
            cover[t] = np.where(ok, bi, -1)
        if conjunctive:
            valid = covered == len(terms)
            ub = np.where(valid, ub, 0.0)
        if allow is not None:
            # filter-aware pruning: an interval with no allowed doc can
            # never contribute — zero its UB so the sweep skips it without
            # decoding any of its blocks (one vectorized searchsorted)
            has_allowed = (
                np.searchsorted(allow, hi, side="left")
                > np.searchsorted(allow, lo, side="left")
            )
            ub = np.where(has_allowed, ub, 0.0)
        order = np.argsort(-ub, kind="stable")
        heap: list[tuple[float, int]] = []  # (score, -doc_id) min-heap
        dropped_max = -np.inf  # max score this shard's heap ever dropped
        flo_ids: list[np.ndarray] = []
        flo_scores: list[np.ndarray] = []
        flo_nts: list[np.ndarray] = []
        nterms_out: dict[int, int] = {}
        decoded: dict[tuple[str, int], tuple] = {}
        for ii in order:
            if ub[ii] <= 0:
                break
            if floor is not None:
                if ub[ii] < floor:
                    break  # ub sorted desc: nothing below can reach floor
            elif len(heap) >= k and ub[ii] < heap[0][0]:
                break  # every remaining interval is provably dominated
            ids_parts: list[np.ndarray] = []
            con_parts: list[np.ndarray] = []
            for t in terms:
                bi = int(cover[t][ii])
                if bi < 0:
                    continue
                key = (t, bi)
                if key not in decoded:
                    decoded[key] = _decode_block(per_term[t][bi])
                ids, tfs, dls = decoded[key]
                a = int(np.searchsorted(ids, lo[ii], side="left"))
                z = int(np.searchsorted(ids, hi[ii], side="left"))
                if a == z:
                    continue
                sub_ids = ids[a:z]
                sub_con = (
                    stats[t]["idf"]
                    * bm25_tf_norm(tfs[a:z], dls[a:z], k1, b, avgdl)
                )
                if allow is not None:
                    seg_a = np.searchsorted(allow, lo[ii], side="left")
                    seg_z = np.searchsorted(allow, hi[ii], side="left")
                    seg = allow[seg_a:seg_z]
                    idx = np.minimum(
                        np.searchsorted(seg, sub_ids), len(seg) - 1
                    )
                    m = seg[idx] == sub_ids
                    if not m.any():
                        continue
                    sub_ids, sub_con = sub_ids[m], sub_con[m]
                ids_parts.append(sub_ids)
                con_parts.append(sub_con)
            if not ids_parts:
                continue
            # intervals partition the doc-id space → each doc lands in
            # exactly one interval of exactly one shard; one add.at pass
            # aggregates its per-term contributions
            ids_cat = np.concatenate(ids_parts)
            con_cat = np.concatenate(con_parts)
            uniq, inv = np.unique(ids_cat, return_inverse=True)
            scores = np.zeros(len(uniq), dtype=np.float64)
            np.add.at(scores, inv, con_cat)
            nts = np.bincount(inv, minlength=len(uniq)).astype(np.int32)
            if conjunctive:
                sel = nts == n_query_terms
                uniq, scores, nts = uniq[sel], scores[sel], nts[sel]
            if floor is not None:  # collect the whole >= floor set, no heap
                sel = scores >= floor
                if sel.any():
                    flo_ids.append(uniq[sel])
                    flo_scores.append(scores[sel])
                    flo_nts.append(nts[sel])
                continue
            if len(heap) >= k:  # only candidates that can beat the threshold
                thr_s, thr_nd = heap[0]
                sel = (scores > thr_s) | ((scores == thr_s) & (-uniq > thr_nd))
                drp = scores[~sel]
                if drp.size:
                    dm = float(drp.max())
                    if dm > dropped_max:
                        dropped_max = dm
                uniq, scores, nts = uniq[sel], scores[sel], nts[sel]
            for d, s, nt in zip(uniq.tolist(), scores.tolist(), nts.tolist()):
                item = (s, -d)
                if len(heap) < k:
                    heapq.heappush(heap, item)
                    nterms_out[d] = nt
                elif item > heap[0]:
                    ev = heapq.heapreplace(heap, item)
                    nterms_out[d] = nt
                    if ev[0] > dropped_max:
                        dropped_max = ev[0]
                elif s > dropped_max:
                    dropped_max = s
        if floor is not None:
            if not flo_ids:
                return empty
            ids_f2 = np.concatenate(flo_ids).astype(np.int64)
            return pd.DataFrame(
                {
                    "doc_id": ids_f2,
                    "score": np.concatenate(flo_scores).astype(np.float64),
                    "n_terms": np.concatenate(flo_nts).astype(np.int32),
                    "dropped_max": np.full(len(ids_f2), -np.inf),
                }
            )
        top = sorted(((s, -nd) for s, nd in heap), key=lambda x: (-x[0], x[1]))
        return pd.DataFrame(
            {
                "doc_id": np.asarray([d for _, d in top], dtype=np.int64),
                "score": np.asarray([s for s, _ in top], dtype=np.float64),
                "n_terms": np.asarray(
                    [nterms_out[d] for _, d in top], dtype=np.int32
                ),
                "dropped_max": np.full(len(top), dropped_max),
            }
        )

    return fn


class ShardRunner:
    """The one shard runner behind every block kernel: block-max WAND (heap
    and floor mode) and positional phrase adjacency. A kernel maps one
    shard's blocks (a pandas frame with a `shard` column) to a frame.

    - One shard (`n_groups == 1`, the `_wand_n_groups` formula): the
      terms' blocks are read on the driver through the handle's memoized
      pyarrow dataset (bucket partitions, then `term IN` row groups) and
      the kernel runs in-process over one unbounded shard — zero Spark
      jobs. The range is unbounded because doc ids may exceed range_size ×
      n_doc_ranges when the id buckets are skewed, and nothing may be
      clipped away. A second kernel (the url-tie floor rescan) reuses the
      blocks already read.
    - Otherwise (several shards, or a store pyarrow cannot read) the pruned
      Spark scan fans out by `groupBy("shard").applyInPandas`: a block
      overlapping several doc-range shards of `width` docs is replicated to
      each, and the kernel clips to its home shard, so the plan is exact
      for any width."""

    def __init__(
        self, spark: SparkSession, handle: IndexHandle, path: str,
        table_schema, terms: list[str], n_groups: int,
    ):
        self.blocks = None  # the driver-held blocks of the one-shard case
        if n_groups == 1:
            import pyarrow as pa

            cols = [f.name for f in table_schema.fields if f.name != "bucket"]
            try:
                tbl = _local_blocks(handle, path, terms, cols)
            except (OSError, pa.ArrowException):
                pass  # not pyarrow-readable: the Spark plan below
            else:
                self.blocks = tbl.to_pandas().assign(shard=0)
                self.width = 1 << 62
                return
        n_ranges = handle.stats.get("n_doc_ranges", 32)
        self.width = handle.stats["range_size"] * (-(-n_ranges // n_groups))
        # the shuffle payload is <= blocks x spanned shards rows
        pruned = _pruned_scan(spark, handle, path, table_schema, terms)
        self._sharded = pruned.withColumn(
            "shard",
            F.explode(
                F.sequence(
                    (F.col("first_doc_id") / self.width).cast("long"),
                    (F.col("last_doc_id") / self.width).cast("long"),
                )
            ),
        )

    def run(self, kernel, out_schema) -> pd.DataFrame | DataFrame:
        """The kernel's output: a pandas frame on the driver, else the lazy
        grouped-map plan."""
        if self.blocks is None:
            return self._sharded.groupBy("shard").applyInPandas(
                kernel, out_schema
            )
        if len(self.blocks) == 0:
            return pd.DataFrame(columns=out_schema.fieldNames())
        return kernel(self.blocks)

    def collect(self, kernel, out_schema) -> pd.DataFrame:
        out = self.run(kernel, out_schema)
        return out if isinstance(out, pd.DataFrame) else out.toPandas()


def _resolve_urls(
    spark: SparkSession, handle: IndexHandle, ids: list[int]
) -> dict[int, str]:
    """doc_id → url for a tiny id set: driver-side pyarrow lookup, falling
    back to a Spark read on non-local index stores."""
    if not ids:
        return {}
    try:
        dt = _pa_dataset(handle, handle.docs_path).to_table(
            columns=["doc_id", "url"],
            filter=_pa_field("doc_id").isin(ids),
        )
        return dict(zip(dt["doc_id"].to_pylist(), dt["url"].to_pylist()))
    except Exception:
        docs = _docs_df(spark, handle)
        return {
            r["doc_id"]: r["url"]
            for r in docs.filter(F.col("doc_id").isin(ids))
            .select("doc_id", "url")
            .collect()
        }


def _url_ranked_topk(
    spark: SparkSession, handle: IndexHandle, ids, scores, k: int
) -> tuple[list[int], list[str], list[float]]:
    """Exact (score desc, url asc) top-k over candidate scores held on the
    driver: keep every doc scoring above the kth score plus the ENTIRE
    kth-score tie group (ties are exact float equalities — all scores come
    from the same kernel), resolve urls for just that set, re-sort. No
    heuristic margin. Returns (doc_ids, urls, scores) in rank order."""
    ids = np.asarray(ids, dtype=np.int64)
    scores = np.asarray(scores, dtype=np.float64)
    if len(scores) > k > 0:
        s_k = -np.partition(-scores, k - 1)[k - 1]
        sel = scores >= s_k
        ids, scores = ids[sel], scores[sel]
    urls = _resolve_urls(spark, handle, ids.tolist())
    ranked = sorted(
        zip(scores.tolist(), [urls.get(d) for d in ids.tolist()], ids.tolist()),
        key=lambda x: (-x[0], x[1]),
    )[:k]
    return (
        [d for _, _, d in ranked],
        [u for _, u, _ in ranked],
        [s for s, _, _ in ranked],
    )


def _result_df(
    spark: SparkSession, ids, urls, scores, with_url: bool = True
) -> DataFrame:
    """Driver-held top-k rows → (doc_id, url, score) DataFrame in rank order
    (pandas→Arrow createDataFrame is ~10x cheaper than the row-list path,
    and collects as a local relation, without a Spark job)."""
    if len(ids) == 0:
        # an empty input takes Spark's RDD path (a job on every collect);
        # one placeholder row cut by limit(0) optimizes to an empty local
        # relation, which collects without a job
        return _result_df(spark, [0], [None], [0.0], with_url).limit(0)
    pdf = pd.DataFrame(
        {
            "doc_id": pd.Series(ids, dtype="int64"),
            "url": pd.Series(urls, dtype=object),
            "score": pd.Series(scores, dtype="float64"),
        }
    )
    df = spark.createDataFrame(pdf, RESULT_SCHEMA)
    return df if with_url else df.drop("url")


def query_topk(
    spark: SparkSession,
    index: IndexHandle | str,
    query: str,
    k: int = 10,
    mode: str = "wand",
    conjunctive: bool = False,
    with_url: bool = True,
    tiebreak: str = "doc_id",
    shard_target: int | None = None,
    doc_filter: np.ndarray | None = None,
) -> DataFrame:
    """Top-k BM25. Returns (doc_id, url?, score) ordered by
    (score desc, doc_id asc) — the golden tie-break (SURVEY.md §5.2).
    tiebreak="url" (brute and wand modes) breaks exact-score ties by url
    instead, which is what the ANSI-SQL oracle can express.
    shard_target overrides WAND_SHARD_TARGET (postings per WAND shard) —
    the scorer is exact for any doc-range partitioning, so this only moves
    the fan-out/latency trade-off; the bench uses it to exercise the
    multi-shard path at small corpus sizes.
    doc_filter (mode="wand" only): sorted int64 array of allowed doc ids —
    filter-aware WAND (B19): the set rides the scoring closure, the top-k
    is cut over allowed docs only, and allowed-empty intervals are skipped
    before any block decode (engine.phrase.filtered_topk resolves a facet
    predicate to this array and is the intended entry point)."""
    handle = open_index(index) if isinstance(index, str) else index
    if doc_filter is not None and mode != "wand":
        raise ValueError("doc_filter requires mode='wand'")
    terms = parse_query(query)
    if mode in ("local", "auto"):
        # the driver-local path needs pyarrow-readable index files; on a
        # non-local index store fall back to the distributed wand path (same
        # guard the stats lookup below uses)
        try:
            st_local = _local_term_stats(handle, terms)
        except Exception:
            st_local = None
        if st_local is not None and (
            mode == "local" or _fits_driver(st_local, terms)
        ):
            return query_topk_local(
                spark, handle, query, k=k, conjunctive=conjunctive,
                with_url=with_url, stats=st_local, tiebreak=tiebreak,
            )
        mode = "wand"
    try:
        # driver-side stats lookup via pyarrow (no Spark job); the dict is
        # shipped to executors in the scoring closure (B11 broadcast stats)
        st = _local_term_stats(handle, terms)
    except Exception:  # non-local filesystem → fall back to a Spark read
        st = term_stats(spark, handle, terms)
    live = [t for t in terms if t in st]  # zero-hit terms drop out
    if (
        not live
        or (conjunctive and len(live) < len(terms))
        or (doc_filter is not None and len(doc_filter) == 0)
    ):
        return _result_df(spark, [], [], [], with_url)
    k1, b = handle.stats["k1"], handle.stats["b"]
    avgdl = handle.stats["avgdl"]

    if mode == "brute":
        blocks = _pruned_postings(spark, handle, live)
        scored = blocks.mapInPandas(_brute_scorer(st, k1, b, avgdl), SCORE_SCHEMA)
        agg = scored.groupBy("doc_id").agg(
            F.sum("contrib").alias("score"), F.count("*").alias("nt")
        )
        if conjunctive:
            agg = agg.filter(F.col("nt") == len(live))
        if tiebreak == "url":
            docs = _docs_df(spark, handle).select("doc_id", "url")
            agg = agg.join(docs, "doc_id")
            topk = agg.orderBy(F.desc("score"), F.asc("url")).limit(k)
            return topk.select(
                *(["doc_id", "url"] if with_url else ["doc_id"]),
                F.col("score").cast("double"),
            ).orderBy(F.desc("score"), F.asc("url"))
        rows = (
            agg.orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
            .select("doc_id", F.col("score").cast("double"))
            .collect()
        )
        top_ids = [int(r["doc_id"]) for r in rows]
        top_scores = [float(r["score"]) for r in rows]
    elif mode == "wand":
        # Query-time shard width adapts to the query's posting volume: light
        # queries run as one shard on the driver, stopword-grade queries fan
        # out to up to n_doc_ranges shards (~TARGET postings each — seconds
        # of vectorized kernel work per task at 10^12 docs, bounded memory).
        runner = ShardRunner(
            spark, handle, handle.postings_path, POSTINGS_SCHEMA, live,
            _wand_n_groups(handle, st, live, shard_target),
        )
        # ship a large allowed-id array via a SparkContext broadcast
        # (torrent, sent once per executor) instead of pickling up to ~32 MB
        # into every task closure (r5 verdict "What's wrong #2"); tiny
        # arrays stay in the closure — a broadcast's setup costs more than
        # shipping a few hundred KB once — and the driver run needs neither
        allowed = doc_filter
        if (
            doc_filter is not None
            and runner.blocks is None
            and doc_filter.nbytes > (1 << 20)
        ):
            allowed = spark.sparkContext.broadcast(doc_filter)

        def scorer(floor: float | None = None):
            return _wand_shard_scorer(
                st, k1, b, avgdl, k, conjunctive, len(live), runner.width,
                floor=floor, allowed=allowed,
            )

        cand = runner.collect(scorer(), TOPK_SCHEMA)
        ids = cand["doc_id"].to_numpy(np.int64)
        scores = cand["score"].to_numpy(np.float64)
        if tiebreak == "url":
            # <= shards·k candidate rows: resolve urls driver-side, re-sort
            # by the oracle tie-break. EXACT: every doc scoring strictly
            # above the global kth candidate score s_k is provably in the
            # candidate set (a shard that dropped it would have had k better
            # rows, pushing s_k above that doc's score). Only docs TYING s_k
            # can be missing, and only if their home shard's heap actually
            # DROPPED a candidate scoring exactly s_k (every dropped score
            # is <= the shard's final min, so dropped_max == s_k iff a true
            # tie was lost). Then one floor-mode rescan (score >= s_k,
            # block-max pruned) fetches the complete tie group.
            by_doc = dict(zip(ids.tolist(), scores.tolist()))
            if len(by_doc) >= k > 0:
                s_k = sorted(by_doc.values(), reverse=True)[k - 1]
                per_shard: dict[int, list[float]] = {}
                per_shard_dm: dict[int, float] = {}
                for d, s, dm in zip(ids.tolist(), scores.tolist(),
                                    cand["dropped_max"].tolist()):
                    sh = d // runner.width
                    per_shard.setdefault(sh, []).append(s)
                    if dm > per_shard_dm.get(sh, float("-inf")):
                        per_shard_dm[sh] = dm
                if any(len(v) == k and min(v) == s_k
                       and per_shard_dm.get(sh, float("-inf")) == s_k
                       for sh, v in per_shard.items()):
                    extra = runner.collect(scorer(floor=s_k), TOPK_SCHEMA)
                    for d, s in zip(extra["doc_id"].tolist(),
                                    extra["score"].tolist()):
                        by_doc.setdefault(int(d), float(s))
            top = _url_ranked_topk(
                spark, handle, list(by_doc), list(by_doc.values()), k
            )
            return _result_df(spark, *top, with_url=with_url)
        order = np.lexsort((ids, -scores))[:k]
        top_ids, top_scores = ids[order].tolist(), scores[order].tolist()
    else:
        raise ValueError(f"unknown mode {mode!r}")

    # ≤k rows are on the driver now: resolve urls with a driver-side pyarrow
    # lookup — no second job scanning the docs table per query
    urls = _resolve_urls(spark, handle, top_ids) if with_url else {}
    return _result_df(
        spark, top_ids, [urls.get(d) for d in top_ids], top_scores, with_url
    )


# ---------------------------------------------------------------------------
# driver-local fast path (SURVEY.md §7.2.6): for interactive p50, when the
# query terms' postings are small enough, read the pruned blocks directly
# with pyarrow (partition pruning on bucket= dirs + row-group pruning on the
# term-sorted rows) and score in numpy on the driver — zero Spark jobs on
# the hot path, same scoring code, rank-identical by construction.
# ---------------------------------------------------------------------------

# auto-mode crossover: the driver-local path decodes ~1M postings/s
# single-threaded (incl. the pyarrow read), while the distributed WAND floor
# is ~0.6 s — measured crossover sits near 500k postings
LOCAL_MAX_POSTINGS = 500_000


def _fits_driver(st: dict, terms: list[str]) -> bool:
    """The auto-mode crossover: the terms' postings are few enough to
    score on the driver. Shared by query_topk(mode="auto") and the phrase
    and positional candidate scorers."""
    return sum(st[t]["df"] for t in terms if t in st) <= LOCAL_MAX_POSTINGS


def _wand_n_groups(
    handle: IndexHandle, st: dict, terms: list[str],
    shard_target: int | None = None,
) -> int:
    """The ONE (total_df, n_doc_ranges) → shard-count formula, shared by
    query_topk's fan-out decision, the positional phrase match and
    wand_shard_count's report so they can never drift (ADVICE r3). Terms
    absent from the stats table contribute no postings. 1 means the
    ShardRunner scores the query on the driver."""
    tgt = shard_target or WAND_SHARD_TARGET
    total_df = sum(st[t]["df"] for t in terms if t in st)
    n_ranges = handle.stats.get("n_doc_ranges", 32)
    return max(1, min(n_ranges, -(-total_df // tgt)))


def wand_shard_count(
    handle: IndexHandle, query: str, shard_target: int | None = None
) -> int:
    """How many doc-range shards the adaptive WAND path fans this query out
    to (1 = one shard, scored on the driver). Exposed so the bench can
    report the salted-shard fan-out per query per round (BENCH_r{N}.json)."""
    terms = [t for t in parse_query(query)]
    return _wand_n_groups(
        handle, _local_term_stats(handle, terms), terms, shard_target
    )


def _local_term_stats(handle: IndexHandle, terms: list[str]) -> dict:
    dset = _pa_dataset(handle, handle.terms_path)
    tbl = dset.to_table(
        columns=["term", "df", "cf"], filter=_pa_field("term").isin(terms)
    )
    n = handle.stats["n_docs"]
    return {
        t: {"df": int(d), "cf": int(c), "idf": idf(n, int(d))}
        for t, d, c in zip(
            tbl["term"].to_pylist(), tbl["df"].to_pylist(), tbl["cf"].to_pylist()
        )
    }


def local_scored_arrays(
    handle: IndexHandle, terms: list[str], st: dict, conjunctive: bool
) -> tuple[np.ndarray, np.ndarray]:
    """Driver-local scoring kernel shared by query_topk_local and the
    phrase/filtered candidate paths: pyarrow-pruned read of the terms'
    postings (bucket partition + term row-group pruning), batched block
    decode, one np.add.at aggregation. Returns (doc_ids, scores) after the
    optional conjunctive mask; empty arrays when nothing matches. Fixed
    term order for float-sum determinism (golden parity)."""
    k1, b = handle.stats["k1"], handle.stats["b"]
    avgdl = handle.stats["avgdl"]
    empty = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64))
    if not terms:
        return empty
    tbl = _local_blocks(
        handle, handle.postings_path, terms,
        ["term", "n", "codec_ids", "ids_enc", "codec_tfs", "tfs_enc",
         "codec_dls", "dls_enc"],
    )
    ids_all, contrib_all = [], []
    cols = {c: tbl[c].to_pylist() for c in tbl.column_names}
    # per-term batched block decode (one vectorized pass per column per
    # term); fixed term order for float-sum determinism (golden parity)
    by_term: dict[str, list[int]] = {}
    for i, tm in enumerate(cols["term"]):
        by_term.setdefault(tm, []).append(i)
    for tm in sorted(by_term):
        idxs = by_term[tm]
        ns = [cols["n"][i] for i in idxs]
        gaps = decode_concat(
            [cols["codec_ids"][i] for i in idxs],
            [cols["ids_enc"][i] for i in idxs], ns,
        )
        ids = delta_decode_blocks(gaps, ns).astype(np.int64)
        tfs = decode_concat(
            [cols["codec_tfs"][i] for i in idxs],
            [cols["tfs_enc"][i] for i in idxs], ns,
        ).astype(np.int64)
        dls = decode_concat(
            [cols["codec_dls"][i] for i in idxs],
            [cols["dls_enc"][i] for i in idxs], ns,
        ).astype(np.int64)
        ids_all.append(ids)
        contrib_all.append(
            st[tm]["idf"] * bm25_tf_norm(tfs, dls, k1, b, avgdl)
        )
    if not ids_all:
        return empty
    ids_cat = np.concatenate(ids_all)
    con_cat = np.concatenate(contrib_all)
    uniq, inv = np.unique(ids_cat, return_inverse=True)
    scores = np.zeros(len(uniq), dtype=np.float64)
    np.add.at(scores, inv, con_cat)
    if conjunctive:
        counts = np.bincount(inv, minlength=len(uniq))
        sel = counts == len(terms)
        uniq, scores = uniq[sel], scores[sel]
    return uniq, scores


def query_topk_local(
    spark: SparkSession,
    handle: IndexHandle,
    query: str,
    k: int = 10,
    conjunctive: bool = False,
    with_url: bool = True,
    stats: dict | None = None,
    tiebreak: str = "doc_id",
):
    terms = parse_query(query)
    st = stats if stats is not None else _local_term_stats(handle, terms)
    all_terms = terms
    terms = [t for t in terms if t in st]
    if not terms or (conjunctive and len(terms) < len(all_terms)):
        return _result_df(spark, [], [], [], with_url)
    uniq, scores = local_scored_arrays(handle, terms, st, conjunctive)
    if tiebreak == "url":
        # oracle tie-break, EXACT: all matching docs' scores are in memory
        # here, so the url sort sees the whole kth-score tie group
        top = _url_ranked_topk(spark, handle, uniq, scores, k)
        return _result_df(spark, *top, with_url=with_url)
    order = np.lexsort((uniq, -scores))[:k]
    top_ids, top_scores = uniq[order].tolist(), scores[order].tolist()
    urls = _resolve_urls(spark, handle, top_ids) if with_url else {}
    return _result_df(
        spark, top_ids, [urls.get(d) for d in top_ids], top_scores, with_url
    )
