"""Hash-knob equivalence for the fingerprint tier (round-5 VERDICT ask #4).

The oracled keys hash with T.hash64 (md5-derived, DuckDB-replayable); the
production path is T.fast_hash64 (xxhash64, whole-stage-codegen intrinsic,
~40% faster on the winnowing plan).  These tests pin the semantic claim that
makes the knob safe: WHICH documents pair up is hash-independent — only the
opaque fingerprint values differ.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from experiments_datafusion_spark.operators import text as T
from experiments_datafusion_spark.operators.dedup import doc_shingles
from experiments_datafusion_spark.io import table
from experiments_datafusion_spark.queries import llm_extras


def _fp_pairs(fps):
    """Distinct (a<b) doc pairs sharing >=1 winnowing fingerprint."""
    ex = fps.select("doc_id", F.explode("_f").alias("fp"))
    a, b = ex.alias("a"), ex.alias("b")
    pairs = (
        a.join(b, "fp")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("x"), F.col("b.doc_id").alias("y"))
        .distinct()
    )
    return {(r.x, r.y) for r in pairs.collect()}


def _guaranteed_pairs(spark, sf_dir):
    """Pairs the winnowing theorem GUARANTEES a shared fingerprint for:
    docs sharing any substring of length t = k + w - 1 = 11."""
    t = llm_extras._WIN_K + llm_extras._WIN_W - 1
    d = table(spark, sf_dir, "documents").where(F.length("text") >= t)
    grams = (
        d.select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.length("text") - F.lit(t - 1))
            ).alias("p"),
            "text",
        )
        .select("doc_id", F.col("text").substr(F.col("p"), F.lit(t)).alias("g"))
        .distinct()
    )
    a, b = grams.alias("a"), grams.alias("b")
    p = (
        a.join(b, "g")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("x"), F.col("b.doc_id").alias("y"))
        .distinct()
    )
    return {(r.x, r.y) for r in p.collect()}


def test_winnowing_pair_recall_hash_independent(spark, sf_dir):
    """Both sides of the hash knob achieve FULL recall of the pairs the
    winnowing guarantee covers (shared substring >= k+w-1 chars).  The raw
    candidate-pair sets may differ by coincidental sub-guarantee pairs —
    which hash wins a window's min on an 8-gram shared for <11 chars is
    hash-dependent — but the guaranteed tier, the one dedup decisions rest
    on, is identical by the winnowing theorem and checked here for both."""
    guaranteed = _guaranteed_pairs(spark, sf_dir)
    assert guaranteed, "fixture produced no guaranteed pairs (vacuous)"
    md5_pairs = _fp_pairs(llm_extras.winnowing_fps(spark, sf_dir, T.hash64))
    fast_pairs = _fp_pairs(llm_extras.winnowing_fps(spark, sf_dir, T.fast_hash64))
    assert guaranteed <= md5_pairs
    assert guaranteed <= fast_pairs


def test_winnowing_fast_twin_shape(spark, sf_dir):
    slow = llm_extras.docs_winnowing(spark, sf_dir)
    fast = llm_extras.docs_winnowing_fast(spark, sf_dir)
    assert fast.columns == slow.columns == ["doc_id", "n_fp", "fp_xor"]
    # same eligible documents under either hash (row identity on doc_id)
    s_ids = {r.doc_id for r in slow.select("doc_id").collect()}
    f_ids = {r.doc_id for r in fast.select("doc_id").collect()}
    assert s_ids == f_ids and s_ids


def test_shingle_posting_recall_hash_independent(spark, sf_dir):
    """doc_shingles joins only test hash EQUALITY, so the doc pairs sharing
    >=1 shingle are identical under either hash (collisions aside)."""
    docs = table(spark, sf_dir, "documents")

    def pairs(hash_fn):
        sh = doc_shingles(docs, hash_fn=hash_fn)
        a, b = sh.alias("a"), sh.alias("b")
        p = (
            a.join(b, "shingle")
            .where(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(F.col("a.doc_id").alias("x"), F.col("b.doc_id").alias("y"))
            .distinct()
        )
        return {(r.x, r.y) for r in p.collect()}

    p_md5 = pairs(T.hash64)
    p_fast = pairs(T.fast_hash64)
    assert p_md5, "fixture produced no shingle-sharing pairs (vacuous)"
    assert p_md5 == p_fast


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize(
    "slow_key, fast_key",
    [
        ("text_dup_spans", "text_dup_spans_fast"),
        ("docs_ngram_novelty", "docs_ngram_novelty_fast"),
        ("text_containment", "text_containment_fast"),
    ],
)
def test_posting_list_twins_identical_output(spark, sf_dir, slow_key, fast_key):
    """The round-7 production twins: unlike winnowing (whose fp_xor exposes
    hash VALUES), these outputs are pure functions of hash equality
    classes, so the xxhash64 twin must equal the md5 key ROW FOR ROW —
    the strongest hash-independence statement, and the reason the twins
    can share the md5 oracle."""
    from experiments_datafusion_spark.queries import all_queries

    q = all_queries()
    slow = q[slow_key].fn(spark, sf_dir)
    fast = q[fast_key].fn(spark, sf_dir)
    assert fast.columns == slow.columns
    assert _rows(fast) == _rows(slow)


def test_dup_spans_rejects_unknown_hash_fn(spark, sf_dir):
    """dup_spans supports exactly the two hash knobs; any other callable
    fails with a message that names them."""
    with pytest.raises(ValueError, match=r"T\.hash64 or T\.fast_hash64"):
        llm_extras.dup_spans(spark, sf_dir, T.fingerprint_md5)
