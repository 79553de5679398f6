"""Positional-postings phrase search (engine/positional.py): rank identity
with the verification-based phrase path, adjacency semantics (repeated
terms, boundaries), multi-shard exactness, artifact determinism across
input partitioning, and the no-corpus-access plan property."""

from __future__ import annotations

import contextlib
import datetime
import random
import tempfile

import pytest


def _wp_rows():
    ts = datetime.datetime(2024, 1, 1)
    mk = lambda i, text: (  # noqa: E731
        f"https://t.example.com/doc/{i}", ts, None, text, "en"
    )
    return [
        mk(0, "alpha data table beta"),
        mk(1, "data x table"),
        mk(2, "data tables here"),
        mk(3, "table data"),
        mk(4, "data table data table data"),
        mk(5, "alpha beta gamma"),
        mk(6, "Data TABLE upper"),
    ]


def _tie_rows():
    """_wp_rows plus duplicate-text docs: "data table" then has a five-way
    exact score tie (doc 6 and the four copies, all dl 3, tf 1) below the
    top hits, so a top-k cut can straddle the tie group."""
    ts = datetime.datetime(2024, 1, 1)
    return _wp_rows() + [
        (f"https://t.example.com/dup/{i}", ts, None, "data table omega", "en")
        for i in range(4)
    ]


def _build(spark, index_cfg, rows):
    from engine.build import build_index
    from engine.positional import build_positions

    wp = spark.createDataFrame(
        rows,
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    h = build_index(spark, wp, tempfile.mkdtemp(prefix="idx_pos_"), index_cfg)
    pos_dir = build_positions(spark, h, wp)
    return h, wp, pos_dir


@pytest.fixture(scope="module")
def pos_index(spark, index_cfg):
    return _build(spark, index_cfg, _wp_rows())


@pytest.fixture(scope="module")
def tie_index(spark, index_cfg):
    return _build(spark, index_cfg, _tie_rows())


def _ranked(df):
    return [(r["url"], round(r["score"], 9)) for r in df.collect()]


@contextlib.contextmanager
def _positions_unreadable(pos_dir):
    """The pyarrow read of the position blocks raises, as on a store
    pyarrow cannot read: the shard runner falls back to applyInPandas."""
    import engine.query

    real = engine.query._local_blocks

    def read(handle, path, terms, columns):
        if path == pos_dir:
            raise OSError("store not readable by pyarrow")
        return real(handle, path, terms, columns)

    with pytest.MonkeyPatch.context() as m:
        m.setattr(engine.query, "_local_blocks", read)
        yield


# a repeated term, an absent term and a pair that co-occurs in doc 0 but
# never adjacently ("alpha table"), besides plain and reversed pairs
_PHRASES = (
    "data table", "table data", "data x table", "data table data", "alpha",
    "data zzznope", "alpha table",
)


def test_positional_rank_identical_to_verification(
    spark, pos_index, tie_index, spark_jobs
):
    """Positional phrase top-k equals the verification path on all three
    shard-runner executions: one shard on the driver (zero Spark jobs), the
    applyInPandas fallback and several shards. Covers a url tie-break
    across the kth score (tie_index at k=2)."""
    import engine.query
    from engine.phrase import phrase_topk
    from engine.positional import phrase_topk_positional

    for (h, wp, pos_dir), k in ((pos_index, 10), (tie_index, 2)):
        def run():
            return _ranked(
                phrase_topk_positional(spark, h, pos_dir, phrase, k))

        for phrase in _PHRASES:
            driver, jobs = spark_jobs(run)
            assert jobs == 0, phrase
            with _positions_unreadable(pos_dir):
                fallback, fb_jobs = spark_jobs(run)
            with pytest.MonkeyPatch.context() as m:
                m.setattr(engine.query, "WAND_SHARD_TARGET", 1)
                multi = run()
            ver = _ranked(phrase_topk(spark, h, wp, phrase, k=k))
            assert driver == fallback == multi == ver, phrase
            # a match launches a job, unless no adjacency check is needed
            assert (fb_jobs > 0) == (" " in phrase and "zzz" not in phrase)
    # the tie fixture really straddles k: the top-2 cut keeps one of the
    # five tied docs, the smallest url among them
    h, _, pos_dir = tie_index
    top = _ranked(phrase_topk_positional(spark, h, pos_dir, "data table", 6))
    assert len({s for _, s in top[1:]}) == 1
    assert top[1][0] == "https://t.example.com/doc/6"


def test_positional_adjacency_semantics(spark, pos_index):
    from engine.positional import phrase_topk_positional

    h, _, pos_dir = pos_index
    out = phrase_topk_positional(spark, h, pos_dir, "data table", k=10)
    assert {r["url"] for r in out.collect()} == {
        "https://t.example.com/doc/0",
        "https://t.example.com/doc/4",
        "https://t.example.com/doc/6",
    }
    # repeated-term phrase: needs data→table→data consecutively
    out = phrase_topk_positional(spark, h, pos_dir, "data table data", k=10)
    assert {r["url"] for r in out.collect()} == {
        "https://t.example.com/doc/4"
    }


def test_positional_degenerate_inputs(spark, pos_index):
    from engine.positional import phrase_topk_positional

    h, _, pos_dir = pos_index
    assert phrase_topk_positional(spark, h, pos_dir, "", 5).count() == 0
    assert (
        phrase_topk_positional(spark, h, pos_dir, "data zzznope", 5).count()
        == 0
    )


def test_positional_randomized_equivalence(spark, index_cfg):
    """Random corpora: the positional match set equals pure-Python token
    adjacency for every probed phrase (incl. stopword-grade and repeated
    tokens)."""
    from engine.analyzer import tokenize
    from engine.build import build_index
    from engine.positional import build_positions, phrase_match_docs

    rng = random.Random(7)
    vocab = ["the", "data", "a", "b", "c", "dd"]
    ts = datetime.datetime(2024, 1, 1)
    rows = [
        (
            f"https://r.example.com/doc/{i}",
            ts,
            None,
            " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 30))),
            "en",
        )
        for i in range(120)
    ]
    wp = spark.createDataFrame(
        rows,
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    h = build_index(spark, wp, tempfile.mkdtemp(prefix="idx_rnd_"), index_cfg)
    pos_dir = build_positions(spark, h, wp)
    docs = {
        r["doc_id"]: r["url"]
        for r in spark.read.parquet(h.docs_path).collect()
    }
    text_by_url = {u: t for u, _, _, t, _ in rows}
    for phrase in ("the data", "data the data", "a b c", "the the", "dd"):
        terms = tokenize(phrase)
        got = {
            docs[r["doc_id"]]
            for r in phrase_match_docs(spark, h, pos_dir, terms).collect()
        }
        want = set()
        for u, t_ in text_by_url.items():
            toks = tokenize(t_)
            if any(
                toks[i : i + len(terms)] == terms
                for i in range(len(toks) - len(terms) + 1)
            ):
                want.add(u)
        assert got == want, phrase


def test_positional_multi_shard_exact(spark, pos_index):
    """shard_target=1 forces the maximum doc-range fan-out; the sharded
    kernel (block replication + clipping) returns the identical match set."""
    from engine.analyzer import tokenize
    from engine.positional import phrase_match_docs

    h, _, pos_dir = pos_index
    terms = tokenize("data table")
    single = {
        r["doc_id"]
        for r in phrase_match_docs(spark, h, pos_dir, terms).collect()
    }
    sharded = {
        r["doc_id"]
        for r in phrase_match_docs(
            spark, h, pos_dir, terms, shard_target=1
        ).collect()
    }
    assert sharded == single and len(single) == 3


def test_positions_artifact_deterministic(spark, index_cfg):
    """The positions artifact is a pure function of (url set, config):
    building from a 1-partition and a 16-partition copy of the same corpus
    yields identical block bytes (xor of per-block hashes)."""
    import pyspark.sql.functions as F

    from engine.build import build_index
    from engine.positional import build_positions

    wp = spark.createDataFrame(
        _wp_rows(),
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    h = build_index(spark, wp, tempfile.mkdtemp(prefix="idx_det_"), index_cfg)

    def content_hash(pos_dir):
        return (
            spark.read.parquet(pos_dir)
            .select(
                F.xxhash64(
                    "term", "salt", "block_seq", "n", "first_doc_id",
                    "last_doc_id", "ids_enc", "cnts_enc", "pos_enc"
                ).alias("x")
            )
            .agg(F.expr("bit_xor(x)").alias("x"))
            .collect()[0]["x"]
        )

    d1 = build_positions(
        spark, h, wp.repartition(1), tempfile.mkdtemp(prefix="pos_a_")
    )
    d2 = build_positions(
        spark, h, wp.repartition(16), tempfile.mkdtemp(prefix="pos_b_")
    )
    assert content_hash(d1) == content_hash(d2)


def test_positional_plan_reads_only_positions(spark, pos_index, monkeypatch):
    """The phrase match reads only the positions artifact, pruned to the
    phrase's term buckets, and never the corpus or the main postings: the
    fanned-out Spark plan scans positions alone, and a one-shard match,
    which runs on the driver, reads positions blocks alone."""
    import engine.query
    from engine.analyzer import tokenize
    from engine.positional import phrase_match_docs

    h, _, pos_dir = pos_index
    plan = phrase_match_docs(
        spark, h, pos_dir, tokenize("data table"), shard_target=1
    )._jdf.queryExecution().executedPlan().toString()
    assert "positions" in plan
    # corpus (webpages) and main postings never appear in the scan set
    assert "text#" not in plan and "html#" not in plan
    assert "tfs_enc" not in plan

    reads = []
    real = engine.query._local_blocks

    def spy(handle, path, terms, columns):
        reads.append(path)
        return real(handle, path, terms, columns)

    monkeypatch.setattr(engine.query, "_local_blocks", spy)
    phrase_match_docs(spark, h, pos_dir, tokenize("data table")).collect()
    assert reads == [pos_dir]


def test_positional_rebuild_in_place(spark, index_cfg, spark_jobs):
    """build_positions into the same directory drops the handle's memoized
    scans of it (pyarrow dataset and Spark scan): the driver run and the
    applyInPandas fallback both read the new files after the rebuild."""
    from engine.positional import build_positions, phrase_topk_positional

    h, wp, pos_dir = _build(spark, index_cfg, _wp_rows())

    def both():
        def run():
            return _ranked(
                phrase_topk_positional(spark, h, pos_dir, "data table", 10))

        driver, jobs = spark_jobs(run)
        assert jobs == 0
        with _positions_unreadable(pos_dir):
            return driver, run()

    before = both()
    assert build_positions(spark, h, wp, pos_dir) == pos_dir
    after = both()
    assert before == after and before[0] == before[1] and len(before[0]) == 3
