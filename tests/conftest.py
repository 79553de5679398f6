from __future__ import annotations

import os
import sys
import tempfile
import time
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_001 = "/root/testdata/sf0.001"
SF_DIR_01 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from engine.session import get_spark

    s = get_spark(master="local[4]", shuffle_partitions=8, app_name="tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def index_cfg():
    from engine.config import IndexConfig

    # P=8 matches tests/golden/queries.json; low hot threshold so the
    # salted-merge path is exercised by the fixture's stopword "the".
    return IndexConfig(
        n_build_partitions=8, n_doc_ranges=8, min_hot_df=50, n_term_buckets=8
    )


@pytest.fixture(scope="session")
def built_index(spark, index_cfg):
    """Index over sf0.001 webpages, built once per test session."""
    from engine.build import build_index
    from engine.webpages import load_webpages

    d = tempfile.mkdtemp(prefix="idx_")
    wp = load_webpages(spark, SF_DIR_001)
    return build_index(spark, wp, d, index_cfg)


@pytest.fixture(scope="session")
def tied_index(spark):
    """64 docs that all score identically on "tie", with urls sorting
    opposite to doc order (tests/test_tiebreak_url.py)."""
    from engine.build import build_index
    from engine.config import IndexConfig

    # urls descend as doc order ascends: url rank is anti-correlated with
    # insertion order, and doc_ids (partition-offset scheme) differ from
    # url order too
    rows = [
        (f"https://site-{999 - i:03d}.example.com/tie", "tie breaker corpus")
        for i in range(64)
    ]
    wp = spark.createDataFrame(rows, "url string, text string")
    cfg = IndexConfig(
        n_build_partitions=4, n_doc_ranges=4, min_hot_df=8, n_term_buckets=4
    )
    return build_index(
        spark, wp, tempfile.mkdtemp(prefix="idx_ties_"), cfg
    )


@pytest.fixture(scope="session")
def goldens():
    import json

    with open(os.path.join(os.path.dirname(__file__), "golden", "queries.json")) as f:
        return json.load(f)


@pytest.fixture
def spark_jobs(spark):
    """run(fn) -> (fn(), number of Spark jobs fn launched), counted by job
    group. The status tracker is fed asynchronously, in event order: once a
    sentinel job run after fn() is visible, so is every job of fn()."""
    sc = spark.sparkContext

    def run(fn):
        probe = f"probe-{uuid.uuid4().hex}"
        sentinel = f"sentinel-{uuid.uuid4().hex}"
        sc.setJobGroup(probe, "probe")
        try:
            out = fn()
        finally:
            sc.setJobGroup(sentinel, "sentinel")
            sc.parallelize([0], 1).count()
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        tracker = sc.statusTracker()
        deadline = time.monotonic() + 30
        while not tracker.getJobIdsForGroup(sentinel):
            assert time.monotonic() < deadline, "sentinel job never reported"
            time.sleep(0.05)
        return out, len(tracker.getJobIdsForGroup(probe))

    return run
