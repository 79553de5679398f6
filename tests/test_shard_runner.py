"""The one shard runner (engine.query.ShardRunner) behind term WAND: the
three ways a WAND query can execute agree with each other and with the
brute and driver-local strategies to 1e-6 —

- one shard, scored on the driver (the default for a light query);
- the applyInPandas fallback, forced by making the pyarrow block read
  raise as it does on a store pyarrow cannot read;
- several shards, forced by shrinking WAND_SHARD_TARGET —

in heap mode, under tiebreak="url" where the floor rescan fires, with a
doc_filter and conjunctively. A one-shard query launches no Spark job."""

from __future__ import annotations

import contextlib

import numpy as np
import pytest

import engine.query as eq
from engine.query import query_topk

QUERIES = ("spark", "the", "spark join", "the data", "big data table",
           "sort merge join", "dup vector", "spark zzz")
PATHS = ("driver", "fallback", "multi")


@contextlib.contextmanager
def _forced(path):
    """Force one of the runner's three executions of mode="wand"."""
    with pytest.MonkeyPatch.context() as m:
        if path == "fallback":
            def unreadable(*_):
                raise OSError("store not readable by pyarrow")

            m.setattr(eq, "_local_blocks", unreadable)
        elif path == "multi":
            m.setattr(eq, "WAND_SHARD_TARGET", 8)
        yield


def _rows(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def _same(got, want):
    assert [d for d, _ in got] == [d for d, _ in want]
    assert all(abs(g - w) < 1e-6 for (_, g), (_, w) in zip(got, want))


def _ref(spark, h, q, mode, **kw):
    return _rows(query_topk(spark, h, q, mode=mode, with_url=False, **kw))


@pytest.mark.parametrize("path", PATHS)
def test_wand_paths_match_brute_and_local(spark, built_index, path,
                                          spark_jobs):
    for q in QUERIES:
        for conj in (False, True):
            with _forced(path):
                got, jobs = spark_jobs(lambda: _ref(
                    spark, built_index, q, "wand", k=10, conjunctive=conj))
            for ref in ("brute", "local"):
                _same(got, _ref(spark, built_index, q, ref, k=10,
                                conjunctive=conj))
            if path == "driver":
                assert jobs == 0, q
            elif not (conj and "zzz" in q):  # empty before any scan
                assert jobs > 0, (q, conj)


@pytest.mark.parametrize("path", PATHS)
def test_wand_paths_doc_filter(spark, built_index, path, spark_jobs):
    """doc_filter: the top-k of the allowed docs only — the brute and local
    rankings restricted to the filter."""
    n = built_index.stats["n_docs"]
    allowed = np.sort(
        np.random.default_rng(7).choice(n, size=n // 5, replace=False)
    ).astype(np.int64)
    keep = set(allowed.tolist())
    for q in QUERIES:
        with _forced(path):
            got, jobs = spark_jobs(lambda: _ref(
                spark, built_index, q, "wand", k=10, doc_filter=allowed))
        for ref in ("brute", "local"):
            full = _ref(spark, built_index, q, ref, k=n)
            _same(got, [r for r in full if r[0] in keep][:10])
        assert (jobs == 0) == (path == "driver"), q


@pytest.mark.parametrize("path", PATHS)
def test_wand_paths_url_tiebreak_floor_rescan(spark, tied_index, path,
                                              spark_jobs, monkeypatch):
    """Every doc ties: a heap of k < a shard's docs drops tie-group
    members, so the floor rescan must fire and the url order must still be
    the brute order. On the driver the rescan reuses the blocks already
    read and launches no job."""
    floors = []
    real = eq._wand_shard_scorer

    def spy(*a, floor=None, **kw):
        floors.append(floor)
        return real(*a, floor=floor, **kw)

    monkeypatch.setattr(eq, "_wand_shard_scorer", spy)

    def ranked(mode, k):
        return [(r["url"], r["score"]) for r in query_topk(
            spark, tied_index, "tie", k=k, mode=mode,
            tiebreak="url").collect()]

    for k in (1, 5, 17):
        floors.clear()
        with _forced(path):
            got, jobs = spark_jobs(lambda: ranked("wand", k))
        # 64 tied docs: one shard, or four when forced multi (one of which
        # holds >= 16); a shard holding more than k docs drops ties
        if path != "multi" or k < 16:
            assert any(f is not None for f in floors), k
        for ref in ("brute", "local"):
            want = ranked(ref, k)
            assert [u for u, _ in got] == [u for u, _ in want], (k, ref)
            assert all(abs(g - w) < 1e-6
                       for (_, g), (_, w) in zip(got, want))
        assert (jobs == 0) == (path == "driver"), k
