"""Building a query is re-entrant: two threads that build and run keys on
one SparkSession get the rows they get when the keys run one after the
other.  sim_topk_pq and sim_topk_pq_trained build the same SQL scan text
over different codebooks, so any session-global name in that text would
cross-wire their inputs.

Building a query also leaves the caller's session state alone: a SQL
program's frame arguments become views that PySpark drops after analysis,
and dropping a view uncaches any cached plan equal to it."""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark import StorageLevel

from experiments_datafusion_spark.io import table
from experiments_datafusion_spark.queries import all_queries

KEYS = ("sim_topk_pq", "sim_topk_pq_trained")
REPS = 3


def _rows(spark, sf_dir, key: str) -> list[tuple]:
    return sorted(tuple(r) for r in all_queries()[key].fn(spark, sf_dir).collect())


def test_concurrent_keys_match_sequential(spark, sf_dir):
    want = {k: _rows(spark, sf_dir, k) for k in KEYS}

    def run(key: str) -> list[list[tuple]]:
        return [_rows(spark, sf_dir, key) for _ in range(REPS)]

    with ThreadPoolExecutor(max_workers=len(KEYS)) as pool:
        futures = {k: pool.submit(run, k) for k in KEYS}
        got = {k: f.result(timeout=600) for k, f in futures.items()}
    wrong = {k: sum(g != want[k] for g in got[k]) for k in KEYS}
    assert not any(wrong.values()), f"wrong results out of {REPS} per key: {wrong}"


@pytest.mark.parametrize(
    "key, fixture",
    [
        ("tpch_q3", "lineitem"),
        ("tpch_q5", "lineitem"),
        ("tpch_q10", "lineitem"),
        ("grouping_sets", "customer"),
        ("udf_python_udtf", "documents"),
        ("docs_tfidf_cosine", "documents"),
        ("text_bpe_train", "documents"),
    ],
)
def test_building_a_key_keeps_a_cached_fixture_cached(spark, sf_dir, key, fixture):
    cached = table(spark, sf_dir, fixture).cache()
    cached.count()
    try:
        all_queries()[key].fn(spark, sf_dir)
        assert cached.storageLevel != StorageLevel(False, False, False, False)
        assert not spark._jsparkSession.sharedState().cacheManager().isEmpty()
    finally:
        cached.unpersist()
