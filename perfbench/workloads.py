"""The benchmark's workloads: `query_mix` and `reindex_serve`.

Both run in one process on local[nproc] and drive the engine only through
its public functions. A workload fills a `Ctx`: the named report lines (the
end-to-end metrics among them), the per-layer values a traced run adds, the
op counts and every correctness problem found. README.md in this directory
records why each workload exists and which layers it exercises.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

from perfbench.corpus import (
    KINDS, Corpus, CorpusSpec, Oracle, corpus_path, query_stream,
    topk_mismatch, write_corpus,
)
from perfbench.trace import Tracer, mean, median

K = 10
PERSIST_REPS = 3  # input persists per run; setup_s takes their median
# Index layout: P, term buckets and doc ranges sized for a 4-core host so
# the build is not all per-task overhead; min_hot_df as in bench.py. The
# corpus (8k urls) puts ~50 head terms over the hot threshold N/8.
INDEX_CONFIG = dict(
    n_build_partitions=8, n_doc_ranges=8, min_hot_df=256, n_term_buckets=8
)

# term_wand_p50_ms is printed but not gated: beside a rebuild a wand read
# either runs at once or queues behind a build stage (FIFO scheduling), so
# its median swings by a third from run to run on reindex_serve
END_TO_END = {
    "setup_s": "s",
    "cold_build_s": "s",
    "index_bytes_per_text_byte": "B/B",
    "term_auto_p50_ms": "ms",
    "read_ops_per_s": "1/s",
}

PER_LAYER = {
    "session.get_spark_s": "s",
    "analyzer.tokens_per_s": "1/s",
    "codec.encode_postings_per_s": "1/s",
    "codec.decode_postings_per_s": "1/s",
    "build.spimi_s": "s",
    "build.merge_write_s": "s",
    "build.aux_writes_s": "s",
    "build.jobs": "count",
    "build.tasks": "count",
    "build.failed_tasks": "count",
    "build.blocks": "count",
    "build.postings_bytes": "B",
    "build.hot_terms": "count",
    "build.salt_segments": "count",
    "build.ckpt_pids_rewritten_share": "ratio",
    "build.reindex_s": "s",
    "publish.snapshots": "count",
    "publish.open_index_s": "s",
    "positional.build_s": "s",
    "positional.build.jobs": "count",
    "positional.build.tasks": "count",
    "positional.bytes": "B",
    "positional.phrase.jobs_per_op": "count",
    "positional.phrase.tasks_per_op": "count",
    "positional.phrase.hit_share": "ratio",
    "positional.phrase.p50_ms": "ms",
    "phrase.filtered.jobs_per_op": "count",
    "phrase.filtered.tasks_per_op": "count",
    "phrase.filtered.allowed_share": "ratio",
    "phrase.filtered.p50_ms": "ms",
    "query.term_auto.p50_ms": "ms",
    "query.term_wand.p50_ms": "ms",
    "query.term_stats_s": "s",
    "query.term_wand.jobs_per_op": "count",
    "query.term_wand.tasks_per_op": "count",
    "query.wand_shards_mean": "count",
    "query.term_auto.local_share": "ratio",
    "query.term_auto.jobs_per_op": "count",
    "query.postings_per_op": "count",
    "query.blocks_per_op": "count",
    "trace.unattributed_share": "ratio",
    "trace.overhead_share": "ratio",
}


@dataclass
class Ctx:
    seed: int
    seconds: float
    run_dir: str  # per-run scratch, deleted afterwards
    cache_dir: str  # per-seed generator output and cross-run hashes
    tracer: Tracer
    spark: object = None
    problems: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    lock: threading.Lock = field(default_factory=threading.Lock)
    report: dict = field(default_factory=dict)  # name -> (value, unit, note)
    layer: dict = field(default_factory=dict)  # per-layer metric values

    def count_op(self, failed: bool) -> None:
        with self.lock:  # the reindex writer and reader both count
            self.attempted += 1
            self.failed += failed

    def wrong(self, what: str) -> None:
        self.problems.append(what)

    def put(self, name: str, value, unit: str, note: str = "") -> None:
        self.report[name] = (value, unit, note)


# ---------------------------------------------------------------------------
# shared steps
# ---------------------------------------------------------------------------


def index_config(**kw):
    from engine.config import IndexConfig

    return IndexConfig(**{**INDEX_CONFIG, **kw})


def load_corpus(ctx: Ctx) -> tuple[Corpus, str, str]:
    """Generate (or reuse the cached) corpus for the seed: all input rows,
    and the current rows only (one row per url, for the positional build
    and phrase verification, whose contract is a deduplicated corpus)."""
    spec = CorpusSpec()
    corpus = Corpus(ctx.seed, spec)
    path = corpus_path(ctx.cache_dir, ctx.seed, spec)
    write_corpus(corpus, path)
    prune_cache(ctx.cache_dir, keep=path)
    cur_path = path.replace(".parquet", ".current.parquet")
    if not os.path.exists(cur_path):
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        tbl = pq.read_table(path)
        latest = set(zip(corpus.docs.urls.tolist(), corpus.ts.tolist()))
        keep = [
            (u, t) in latest
            for u, t in zip(
                tbl["url"].to_pylist(),
                pc.cast(tbl["warc_ts"], "timestamp[us]").to_numpy().tolist(),
            )
        ]
        tmp = f"{cur_path}.{os.getpid()}.tmp"
        pq.write_table(tbl.filter(keep), tmp)
        os.replace(tmp, cur_path)
    return corpus, path, cur_path


def prune_cache(cache_dir: str, keep: str, n_seeds: int = 4) -> None:
    """Keep the corpora of the `n_seeds` most recently used seeds, so the
    cache stays small however many seeds are run (hash records are tiny
    and kept)."""
    os.utime(keep)
    corpora = sorted(
        (os.path.join(cache_dir, f) for f in os.listdir(cache_dir)
         if f.startswith("corpus-") and f.endswith(".parquet")
         and ".current." not in f),
        key=os.path.getmtime,
    )
    for old in corpora[:-n_seeds]:
        for p in (old, old.replace(".parquet", ".current.parquet")):
            if os.path.exists(p):
                os.remove(p)


def start_session(ctx: Ctx):
    from engine.session import get_spark

    with ctx.tracer.span("session.get_spark", jobs=False, pool_jobs=True):
        t = time.perf_counter()
        spark = get_spark()
        get_spark_s = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    ctx.tracer.bind(spark.sparkContext)
    ctx.spark = spark
    ctx.layer["session.get_spark_s"] = get_spark_s
    return spark, get_spark_s


def persist_input(ctx: Ctx, path: str):
    """Read and persist the input PERSIST_REPS times (the last copy is
    kept); returns the persisted DataFrame and the median persist time."""
    spark = ctx.spark
    n = 2 * spark.sparkContext.defaultParallelism
    times, df = [], None
    for _ in range(PERSIST_REPS):
        if df is not None:
            df.unpersist(blocking=True)
        with ctx.tracer.span("input.persist"):
            t = time.perf_counter()
            df = spark.read.parquet(path).repartition(n).persist()
            df.count()
            times.append(time.perf_counter() - t)
    return df, statistics.median(times)


def timed_build(ctx: Ctx, wp, index_dir: str, cfg, **kw):
    from engine.build import build_index

    with ctx.tracer.span("build.build_index", pool_jobs=True) as sp:
        t = time.perf_counter()
        h = build_index(ctx.spark, wp, index_dir, cfg, **kw)
        dt = time.perf_counter() - t
    if sp is not None:
        sp["phase_seconds"] = dict(h.stats.get("phase_seconds", {}))
    return h, dt


def postings_hash(ctx: Ctx, handle) -> int:
    """The content hash bench.py reports: bit_xor of xxhash64 over every
    postings row's key and encoded payload columns."""
    import pyspark.sql.functions as F

    with ctx.tracer.span("check.postings_hash"):
        return int(
            ctx.spark.read.parquet(handle.postings_path)
            .select(
                F.xxhash64(
                    "term", "salt", "block_seq", "n", "first_doc_id",
                    "last_doc_id", "ids_enc", "tfs_enc", "dls_enc",
                ).alias("h")
            )
            .agg(F.expr("bit_xor(h)").alias("x"))
            .collect()[0]["x"]
        )


def check_hash(ctx: Ctx, key: str, value: int) -> None:
    """Builds of the same input must give the same postings bytes in every
    run and workload: the first run of a seed records the hash, later runs
    compare against it."""
    path = os.path.join(ctx.cache_dir, f"hash-{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            want = json.load(f)["postings_hash"]
        if want != value:
            ctx.wrong(f"postings hash {value} for {key}, earlier runs built {want}")
        return
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump({"postings_hash": value}, f)
    os.replace(tmp, path)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )


def index_shape(ctx: Ctx, handle, pos_dir: str | None, text_bytes: int) -> None:
    """Exact index sizes and block counts, read from the index files."""
    import pyarrow.dataset as ds

    tbl = ds.dataset(handle.postings_path, format="parquet", partitioning="hive") \
        .to_table(columns=["term", "salt"])
    terms = np.asarray(tbl["term"].to_pylist(), dtype=object)
    salt = tbl["salt"].to_numpy()
    hot = salt > 0
    ctx.layer["build.blocks"] = int(tbl.num_rows)
    ctx.layer["build.hot_terms"] = int(len(set(terms[hot].tolist())))
    ctx.layer["build.salt_segments"] = int(
        len(set(zip(terms[hot].tolist(), salt[hot].tolist())))
    )
    postings = dir_bytes(handle.postings_path)
    positions = dir_bytes(pos_dir) if pos_dir else 0
    ctx.layer["build.postings_bytes"] = postings
    ctx.layer["positional.bytes"] = positions
    total = (postings + positions + dir_bytes(handle.docs_path)
             + dir_bytes(handle.terms_path))
    ctx.put("index_bytes_per_text_byte", total / text_bytes, "B/B",
            f"{total} index bytes / {text_bytes} text bytes"
            + (" (postings+positions+docs+terms)" if pos_dir
               else " (postings+docs+terms)"))


def build_phases(spans: list[dict]) -> dict:
    """Durations from build_index's phase markers. `spimi_and_doc_stats` is
    elapsed since the build started; `merge_compress_write` and
    `aux_writes` are elapsed since the sink writer started, so the aux
    tail is their difference."""
    out = {"build.spimi_s": [], "build.merge_write_s": [], "build.aux_writes_s": []}
    for s in spans:
        ph = s.get("phase_seconds") or {}
        if {"spimi_and_doc_stats", "merge_compress_write", "aux_writes"} <= set(ph):
            out["build.spimi_s"].append(ph["spimi_and_doc_stats"])
            out["build.merge_write_s"].append(ph["merge_compress_write"])
            out["build.aux_writes_s"].append(
                ph["aux_writes"] - ph["merge_compress_write"]
            )
    return {k: median(v) for k, v in out.items()}


def predicate(op: dict):
    import pyspark.sql.functions as F

    col, val = op["filter"]
    if col == "lang":
        return F.col("lang") == val
    return F.col("url").startswith(f"https://{val}/")


def run_op(ctx: Ctx, op: dict, handle, pos_dir=None, corpus_df=None):
    """One query-stream op through the engine's public functions; returns
    the collected top-k as [(url, score)]."""
    from engine.phrase import filtered_topk
    from engine.positional import phrase_topk_positional
    from engine.query import query_topk

    tr, spark, q, kind = ctx.tracer, ctx.spark, op["query"], op["kind"]
    with tr.span(f"engine.{kind}"):
        if kind == "term_auto":
            df = query_topk(spark, handle, q, k=K, mode="auto")
        elif kind == "term_wand":
            df = query_topk(spark, handle, q, k=K)
        elif kind == "phrase":
            df = phrase_topk_positional(spark, handle, pos_dir, q, k=K)
        else:
            df = filtered_topk(spark, handle, corpus_df, q, predicate(op), k=K)
    with tr.span("engine.collect"):
        rows = df.collect()
    return [(r["url"], float(r["score"])) for r in rows]


def timed_op(ctx: Ctx, op: dict, handle, **kw) -> tuple[float, list | None]:
    """Run one op inside an `op` span; an exception counts as a failed op
    (its latency is not a sample) and the run goes on."""
    with ctx.tracer.span("op", op=op["id"], jobs=False, kind=op["kind"]):
        t = time.perf_counter()
        try:
            rows = run_op(ctx, op, handle, **kw)
        except Exception:
            ctx.count_op(failed=True)
            traceback.print_exc()
            return time.perf_counter() - t, None
        ctx.count_op(failed=False)
        return time.perf_counter() - t, rows


def check_against_oracle(ctx: Ctx, oracle: Oracle, op: dict, rows) -> None:
    want, scores = oracle.expected(op, K)
    why = topk_mismatch(rows, want, scores, oracle.url_index)
    if why:
        ctx.wrong(f"op {op['id']} {op['kind']} {op['query']!r}: {why}")


def same_topk(a, b, tol: float = 1e-6) -> bool:
    """Two engine strategies agree: same length, equal scores rank by rank,
    and the same urls above the last score (ties may order differently)."""
    if len(a) != len(b):
        return False
    if any(abs(x[1] - y[1]) > tol * max(1.0, abs(y[1])) for x, y in zip(a, b)):
        return False
    if not a:
        return True
    floor = a[-1][1] + tol * max(1.0, abs(a[-1][1]))
    return {u for u, s in a if s > floor} == {u for u, s in b if s > floor}


def term_modes_agree(ctx: Ctx, handle, op: dict) -> None:
    """auto == wand == brute top-k on a sampled term query."""
    from engine.query import query_topk

    res = {}
    with ctx.tracer.span("check.term_modes"):
        for mode in ("auto", "wand", "brute"):
            res[mode] = [
                (r["url"], float(r["score"]))
                for r in query_topk(ctx.spark, handle, op["query"], k=K, mode=mode)
                .collect()
            ]
    if not (same_topk(res["auto"], res["wand"]) and same_topk(res["wand"], res["brute"])):
        ctx.wrong(f"auto/wand/brute disagree on {op['query']!r}: {res}")


def per_kind_latency(ctx: Ctx, lat: dict[str, list[float]]) -> None:
    """p50 per op kind, and p90 where at least 10 samples lie beyond it."""
    layer = {"term_auto": "query.term_auto", "term_wand": "query.term_wand",
             "phrase": "positional.phrase", "filtered": "phrase.filtered"}
    for kind, xs in lat.items():
        ms = [1000 * x for x in xs]
        ctx.put(f"{kind}_p50_ms", median(ms), "ms", f"n={len(ms)}")
        ctx.layer[f"{layer[kind]}.p50_ms"] = median(ms)
        if len(ms) >= 100:
            ctx.put(f"{kind}_p90_ms", statistics.quantiles(ms, n=10)[-1], "ms",
                    f"n={len(ms)}")
        else:
            ctx.put(f"{kind}_p90_ms", None, "ms",
                    f"n={len(ms)}: fewer than 10 samples beyond p90")


def term_layer_probes(ctx: Ctx, handle, ops: list[dict]) -> None:
    """Traced run only: term_stats latency, WAND fan-out and the work counts
    (postings and stored blocks of the query terms) of the term ops."""
    import pyarrow.dataset as ds

    from engine.query import term_stats, wand_shard_count

    dset = ds.dataset(handle.postings_path, format="parquet", partitioning="hive")
    st_s, shards, postings, blocks = [], [], [], []
    for op in ops:
        terms = list(dict.fromkeys(op["query"].split()))
        with ctx.tracer.span("query.term_stats"):
            t = time.perf_counter()
            st = term_stats(ctx.spark, handle, terms)
            st_s.append(time.perf_counter() - t)
        postings.append(sum(v["df"] for v in st.values()))
        blocks.append(
            dset.count_rows(filter=ds.field("term").isin(terms))
        )
        if op["kind"] == "term_wand":
            shards.append(wand_shard_count(handle, op["query"]))
    ctx.layer["query.term_stats_s"] = median(st_s)
    ctx.layer["query.wand_shards_mean"] = mean(shards)
    ctx.layer["query.postings_per_op"] = mean(postings)
    ctx.layer["query.blocks_per_op"] = mean(blocks)


def codec_probes(ctx: Ctx, handle, texts: list[str], ops: list[dict]) -> None:
    """Traced run only: the analyzer and codec kernels on the workload's own
    texts and stored blocks (the query terms' postings blocks)."""
    import pyarrow.dataset as ds

    from engine.analyzer import factorized_tokens
    from engine.codec import decode_concat, encode_blocks

    with ctx.tracer.span("analyzer.factorized_tokens", jobs=False):
        t = time.perf_counter()
        _, _, dls = factorized_tokens(texts)
        ctx.layer["analyzer.tokens_per_s"] = float(dls.sum()) / (
            time.perf_counter() - t
        )
    terms = sorted({w for op in ops for w in op["query"].split()})
    tbl = ds.dataset(handle.postings_path, format="parquet", partitioning="hive") \
        .to_table(
            columns=["n", "codec_ids", "ids_enc", "codec_tfs", "tfs_enc",
                     "codec_dls", "dls_enc"],
            filter=ds.field("term").isin(terms),
        )
    cols = {c: tbl[c].to_pylist() for c in tbl.column_names}
    ns = cols["n"]
    n_post = int(sum(ns))
    with ctx.tracer.span("codec.decode_concat", jobs=False):
        t = time.perf_counter()
        streams = [
            decode_concat(cols[f"codec_{c}"], cols[f"{c}_enc"], ns)
            for c in ("ids", "tfs", "dls")
        ]
        dec_s = time.perf_counter() - t
    starts = np.concatenate(([0], np.cumsum(ns)[:-1])).astype(np.int64)
    with ctx.tracer.span("codec.encode_blocks", jobs=False):
        t = time.perf_counter()
        encoded = [encode_blocks(v, starts) for v in streams]
        enc_s = time.perf_counter() - t
    for (codecs, bufs), c in zip(encoded, ("ids", "tfs", "dls")):
        if bufs != cols[f"{c}_enc"] or codecs != cols[f"codec_{c}"]:
            ctx.wrong(f"codec round trip of stored {c} blocks is not byte-identical")
    ctx.layer["codec.decode_postings_per_s"] = n_post / dec_s if dec_s else 0.0
    ctx.layer["codec.encode_postings_per_s"] = n_post / enc_s if enc_s else 0.0


def op_layer_metrics(ctx: Ctx) -> None:
    """Per-op job/task counts from the attributed spans."""
    tr = ctx.tracer
    auto, wand = tr.op_totals("term_auto"), tr.op_totals("term_wand")
    phr, flt = tr.op_totals("phrase"), tr.op_totals("filtered")
    L = ctx.layer
    L["query.term_auto.jobs_per_op"] = mean(o["jobs"] for o in auto)
    L["query.term_auto.local_share"] = mean(1.0 if o["jobs"] == 0 else 0.0 for o in auto)
    L["query.term_wand.jobs_per_op"] = mean(o["jobs"] for o in wand)
    L["query.term_wand.tasks_per_op"] = mean(o["tasks"] for o in wand)
    L["positional.phrase.jobs_per_op"] = mean(o["jobs"] for o in phr)
    L["positional.phrase.tasks_per_op"] = mean(o["tasks"] for o in phr)
    L["phrase.filtered.jobs_per_op"] = mean(o["jobs"] for o in flt)
    L["phrase.filtered.tasks_per_op"] = mean(o["tasks"] for o in flt)
    L["trace.unattributed_share"] = median(
        o["unattributed"] for o in auto + wand + phr + flt
    )
    builds = tr.named("build.build_index")
    L["build.jobs"] = median(s.get("jobs", 0) for s in builds)
    L["build.tasks"] = median(s.get("tasks", 0) for s in builds)
    L["build.failed_tasks"] = sum(s.get("failed_tasks", 0) for s in builds)
    L.update(build_phases(builds))
    pos = tr.named("positional.build_positions")
    L["positional.build.jobs"] = median(s.get("jobs", 0) for s in pos)
    L["positional.build.tasks"] = median(s.get("tasks", 0) for s in pos)


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------


def query_mix(ctx: Ctx) -> None:
    """Set-up builds one index plus its positions; then one closed-loop
    client runs a seeded stream of term_auto / term_wand / phrase /
    filtered ops in equal counts for the measured window."""
    from engine.positional import build_positions

    corpus, path, cur_path = load_corpus(ctx)
    oracle = Oracle(corpus.docs, corpus.vocab)
    ops = query_stream(corpus, ctx.seed, KINDS, 4000)
    spark, get_spark_s = start_session(ctx)
    wp, persist_s = persist_input(ctx, path)
    cur = spark.read.parquet(cur_path)  # one row per url: positions, phrase check
    ctx.put("setup_s", get_spark_s + persist_s, "s",
            f"get_spark {get_spark_s:.2f} s + median input persist {persist_s:.2f} s")

    h, cold = timed_build(ctx, wp, os.path.join(ctx.run_dir, "index"), index_config())
    ctx.put("cold_build_s", cold, "s", "first build_index of the session")
    check_hash(ctx, f"{corpus.spec.signature()}-{ctx.seed}-r0", postings_hash(ctx, h))
    with ctx.tracer.span("positional.build_positions"):
        t = time.perf_counter()
        pos = build_positions(spark, h, cur)
        positions_s = time.perf_counter() - t
    ctx.put("positions_s", positions_s, "s")
    ctx.layer["positional.build_s"] = positions_s
    index_shape(ctx, h, pos, corpus.text_bytes())

    lat: dict[str, list[float]] = {k: [] for k in KINDS}
    done = []
    t_start = time.perf_counter()
    deadline = t_start + ctx.seconds
    for op in ops:
        if time.perf_counter() >= deadline:
            break
        dt, rows = timed_op(ctx, op, h, pos_dir=pos, corpus_df=wp)
        if rows is not None:
            lat[op["kind"]].append(dt)
            done.append((op, rows))
    window = time.perf_counter() - t_start
    ctx.put("read_ops_per_s", len(done) / window, "1/s",
            f"{len(done)} ops in {window:.1f} s, one closed-loop client")
    per_kind_latency(ctx, lat)

    # correctness: every op against the oracle; engine strategies against
    # each other on sampled ops
    for op, rows in done:
        check_against_oracle(ctx, oracle, op, rows)
    by_kind = {k: [(o, r) for o, r in done if o["kind"] == k] for k in lat}
    for op, _ in (by_kind["term_auto"] + by_kind["term_wand"])[:1]:
        term_modes_agree(ctx, h, op)
    phrase_hit = [(o, r) for o, r in by_kind["phrase"] if r]
    if phrase_hit:
        from engine.phrase import phrase_topk

        op, rows = phrase_hit[0]
        with ctx.tracer.span("check.phrase_verify"):
            ver = [(r["url"], float(r["score"])) for r in
                   phrase_topk(spark, h, cur, op["query"], k=K).collect()]
        if not same_topk(rows, ver):
            ctx.wrong(f"positional phrase != phrase_topk on {op['query']!r}")
    if by_kind["filtered"]:
        from engine.phrase import filtered_topk

        op, _ = by_kind["filtered"][0]
        with ctx.tracer.span("check.filtered_modes"):
            got = {
                m: [(r["url"], float(r["score"])) for r in filtered_topk(
                    spark, h, wp, op["query"], predicate(op), k=K, mode=m
                ).collect()]
                for m in ("wand", "brute")
            }
        if not same_topk(got["wand"], got["brute"]):
            ctx.wrong(f"filtered wand != brute on {op['query']!r}")

    if ctx.tracer.enabled:
        term_ops = [o for o, _ in done if o["kind"].startswith("term_")]
        term_layer_probes(ctx, h, term_ops)
        d = corpus.docs
        texts = [corpus.render(d.toks[d.offs[i]:d.offs[i + 1]]) for i in range(len(d.urls))]
        codec_probes(ctx, h, texts, term_ops)
        flt = [o for o, _ in done if o["kind"] == "filtered"]
        ctx.layer["phrase.filtered.allowed_share"] = mean(
            float(np.mean((d.langs if o["filter"][0] == "lang" else d.hosts)
                          == o["filter"][1])) for o in flt
        )
        ctx.layer["positional.phrase.hit_share"] = mean(
            1.0 if r else 0.0 for o, r in done if o["kind"] == "phrase"
        )


# ---------------------------------------------------------------------------
# reindex_serve
# ---------------------------------------------------------------------------


def _ckpt_fingerprints(ckpt_dir: str) -> dict:
    path = os.path.join(ckpt_dir, "_partials_manifest.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f).get("pid_fingerprints", {})


def _manifest_version(root: str) -> str:
    with open(os.path.join(root, "_manifest.json")) as f:
        return json.load(f)["version"]


def reindex_serve(ctx: Ctx) -> None:
    """A writer thread loops checkpointed rebuilds of base + a fresh 1%
    recrawl into one index root (keeping two snapshots); the main thread
    serves term_auto / term_wand reads on the newest snapshot, re-opening
    the handle whenever the manifest moves."""
    from engine.build import open_index

    corpus, path, _ = load_corpus(ctx)
    base_oracle = Oracle(corpus.docs, corpus.vocab)
    # three term_auto per term_wand: roughly equal reader time on the
    # driver-local and the distributed path, and enough term_auto samples
    # for a steady median under the writer's contention
    ops = query_stream(
        corpus, ctx.seed, ("term_auto", "term_auto", "term_auto", "term_wand"), 4000
    )
    spark, get_spark_s = start_session(ctx)
    wp, persist_s = persist_input(ctx, path)
    ctx.put("setup_s", get_spark_s + persist_s, "s",
            f"get_spark {get_spark_s:.2f} s + median input persist {persist_s:.2f} s")

    root = os.path.join(ctx.run_dir, "serve")
    ckpt = os.path.join(ctx.run_dir, "ckpt")
    cfg = index_config(keep_snapshots=2)
    h, cold = timed_build(ctx, wp, root, cfg, checkpoint_dir=ckpt)
    ctx.put("cold_build_s", cold, "s",
            "first build_index of the session (checkpointed base snapshot)")
    sig = f"{corpus.spec.signature()}-{ctx.seed}"
    check_hash(ctx, f"{sig}-r0", postings_hash(ctx, h))
    index_shape(ctx, h, None, corpus.text_bytes())
    docs_of = {h.version_dir: corpus.docs}

    deadline = time.perf_counter() + ctx.seconds
    rounds, rewritten, errors = [], [], []

    def writer() -> None:
        # whole rounds until the window has passed; the reader reads only
        # while the writer runs, so every read has a rebuild beside it
        rnd = 1
        while time.perf_counter() < deadline:
            try:
                with ctx.tracer.span("input.recrawl"):
                    rows, docs = corpus.recrawl(rnd)
                    inp = wp.unionByName(
                        spark.createDataFrame(rows.to_pandas(), schema=wp.schema)
                    )
                before = _ckpt_fingerprints(ckpt)
                h2, dt = timed_build(ctx, inp, root, cfg, checkpoint_dir=ckpt)
                after = _ckpt_fingerprints(ckpt)
                rounds.append(dt)
                rewritten.append(
                    sum(before.get(p) != fp for p, fp in after.items()) / len(after)
                )
                docs_of[h2.version_dir] = docs
                check_hash(ctx, f"{sig}-r{rnd}", postings_hash(ctx, h2))
            except Exception:
                ctx.count_op(failed=True)
                errors.append(traceback.format_exc())
                return
            ctx.count_op(failed=False)
            rnd += 1

    w = threading.Thread(target=writer, name="perfbench-writer")
    w.start()
    lat = {"term_auto": [], "term_wand": []}
    reads, open_s = [], []
    version = _manifest_version(root)
    t_start = time.perf_counter()
    i = 0
    while w.is_alive():
        cur = _manifest_version(root)
        if cur != version:
            with ctx.tracer.span("publish.open_index", jobs=False):
                t = time.perf_counter()
                h = open_index(root)
                open_s.append(time.perf_counter() - t)
            version = cur
        op = ops[i % len(ops)]
        i += 1
        dt, rows = timed_op(ctx, op, h)
        if rows is not None:
            lat[op["kind"]].append(dt)
            reads.append((op, h.version_dir, rows))
    window = time.perf_counter() - t_start
    w.join()
    for e in errors:
        print(e, flush=True)

    ctx.put("read_ops_per_s", len(reads) / window, "1/s",
            f"{len(reads)} reads in {window:.1f} s beside {len(rounds)} rebuilds")
    per_kind_latency(ctx, lat)
    ctx.put("reindex_s", median(rounds) if rounds else None, "s",
            f"median of {len(rounds)} checkpointed rebuilds")
    ctx.put("ckpt_pids_rewritten_share", mean(rewritten) if rewritten else None,
            "ratio", "pids whose input fingerprint changed per round")

    oracles = {}
    for op, vdir, rows in reads:
        if vdir not in oracles:
            oracles[vdir] = Oracle(docs_of[vdir], corpus.vocab)
        check_against_oracle(ctx, oracles[vdir], op, rows)
    last = open_index(root)
    term_modes_agree(ctx, last, ops[0])

    if ctx.tracer.enabled:
        read_ops = [op for op, _, _ in reads]
        term_layer_probes(ctx, last, read_ops)
        d = corpus.docs
        texts = [corpus.render(d.toks[d.offs[i]:d.offs[i + 1]]) for i in range(len(d.urls))]
        codec_probes(ctx, last, texts, read_ops)
        ctx.layer["build.reindex_s"] = median(rounds)
        ctx.layer["build.ckpt_pids_rewritten_share"] = mean(rewritten)
        ctx.layer["publish.open_index_s"] = median(open_s)
        ctx.layer["publish.snapshots"] = sum(
            1 for d_ in os.listdir(root) if d_.startswith("v_")
        )


WORKLOADS = {"query_mix": query_mix, "reindex_serve": reindex_serve}


def finish_layers(ctx: Ctx) -> dict:
    """Attribute jobs, derive the per-op and per-build layer metrics, and
    fill every per-layer name (0 where this workload bypasses the layer)."""
    tr = ctx.tracer
    tr.finish()
    op_layer_metrics(ctx)
    wall = time.perf_counter() - tr.t0
    ctx.layer["trace.overhead_share"] = tr.self_s / wall
    return {k: float(ctx.layer.get(k, 0.0)) for k in PER_LAYER}
