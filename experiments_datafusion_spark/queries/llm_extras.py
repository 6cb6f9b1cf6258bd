"""Second-wave LLM-pipeline operators: dedup cluster assignment (connected
components over the near-dup pair graph — the step that turns pairwise
similarity into keep/drop decisions) and TF-IDF term scoring.

The clustering oracle is a DuckDB RECURSIVE CTE over the same
shingle/jaccard constants as the Spark pipeline, so the iterative
distributed algorithm is checked against an independent fixed-point
formulation.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from experiments_datafusion_spark.io import spread, table
from experiments_datafusion_spark.operators import dedup as D
from experiments_datafusion_spark.operators import text as T
from experiments_datafusion_spark.operators.graph import connected_components
from experiments_datafusion_spark.queries import register
from experiments_datafusion_spark.queries.llm_dedup import _SQL_SHINGLE_CTE


@register(
    "dedup_clusters",
    tags=("llm", "dedup", "graph"),
    oracle=f"""
WITH RECURSIVE {_SQL_SHINGLE_CTE},
pairs AS (SELECT x, y FROM jac WHERE jaccard_raw >= 0.5),
edges AS (SELECT x AS src, y AS dst FROM pairs UNION SELECT y, x FROM pairs),
nodes AS (SELECT DISTINCT src AS node FROM edges),
walk(node, lbl) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.node
)
SELECT node AS doc_id, min(lbl) AS cluster FROM walk GROUP BY node
""",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup cluster assignment: connected components over the exact-Jaccard
    near-dup graph (threshold 0.5); cluster id = min doc_id in the
    component (the canonical keeper).  Spark runs iterative min-label
    propagation; the oracle reaches the same fixed point via a recursive
    CTE — two independent algorithms, one answer."""
    pairs = D.jaccard_pairs(table(spark, sf_dir, "documents"), 0.5).select("x", "y")
    return connected_components(pairs)


@register(
    "text_tfidf",
    tags=("llm", "text"),
    oracle="""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(text, '\\s+'), w -> w <> '')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, term, tf * ln((n_docs + 1.0) / (df + 1.0)) AS score
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
),
ranked AS (
  SELECT doc_id, term, score,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
  FROM scored
)
SELECT doc_id, term, round(score, 4) AS tfidf, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 3
""",
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (smoothed idf = ln((N+1)/(df+1))).
    All JVM-side: explode -> two hash aggregations -> broadcast of the
    one-row corpus count -> per-doc window.  The df table is term-keyed
    (high cardinality, no skew) and the final window partitions by doc."""
    docs = table(spark, sf_dir, "documents")
    toks = spread(docs).select(
        "doc_id", F.explode(T.words(F.col("text"))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            (
                F.col("tf")
                * F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0)))
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select(
            "doc_id",
            "term",
            F.round("score", 4).alias("tfidf"),
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


# --- substring-level exact-duplication detection (round 3) -----------------
#
# The word-shingle ops above catch document-level near-dups; training
# corpora ALSO need passage-level exact-dup detection (boilerplate headers,
# license blocks, templated spans — the Lee et al. "Deduplicating Training
# Data" substring regime).  Full suffix arrays don't fit the relational
# model, so the standard scalable approximation: stride-aligned fixed-width
# character windows, hashed, posting-list-joined.  Stride 16 over width 32
# guarantees any duplicated region >= 47 chars yields at least one aligned
# common window in both copies ONLY when copies are stride-aligned; the
# documented recall trade (halve the stride to raise recall) — exact full
# duplicates always match at every window.

SPAN_W = 32
SPAN_STRIDE = 16


# Shared by text_dup_spans (md5 key, here) and its production-hash twin
# text_dup_spans_fast (round6.py): the output is a pure function of span-hash
# EQUALITY classes — no hash value ever reaches a column — so ONE md5 oracle
# replays BOTH sides of the hash knob exactly (collisions aside, ~1e-6 odds
# at sf0.1 for a 60-bit space).
DUP_SPANS_ORACLE = f"""
WITH spans0 AS (
  SELECT DISTINCT doc_id, substring(text, p, {SPAN_W}) AS span
  FROM documents,
       unnest(generate_series(1, len(text) - {SPAN_W - 1}, {SPAN_STRIDE})) AS t(p)
  WHERE len(text) >= {SPAN_W}
),
spans AS (
  SELECT doc_id, CAST(('0x' || substr(md5(span), 1, 15)) AS BIGINT) AS s
  FROM spans0
),
posting AS (SELECT s, count(DISTINCT doc_id) AS nd FROM spans GROUP BY s),
per_doc AS (
  SELECT sp.doc_id,
         count(*) AS n_spans,
         CAST(sum(CASE WHEN p.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
  FROM spans sp JOIN posting p USING (s)
  GROUP BY sp.doc_id
)
SELECT doc_id, n_spans, n_dup,
       round(n_dup * 1.0 / n_spans, 4) AS dup_frac
FROM per_doc WHERE n_dup > 0
"""


@register(
    "text_dup_spans",
    tags=("llm", "dedup", "text"),
    oracle=DUP_SPANS_ORACLE,
)
def text_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-span fraction: stride-16 char-32 windows,
    portable-hashed, counted against a corpus-wide posting list.  Shape at
    100 TB: explode -> two hash aggregations -> one posting-list equi-join
    keyed by a 60-bit hash (high cardinality, no skew) — the same dataflow
    as the n-gram Jaccard join, never all-pairs.  Hash knob: this oracled
    key uses T.hash64 (md5 parity); pass T.fast_hash64 to dup_spans() for
    the production xxhash64 path (identical output distribution — the
    posting-list join only tests hash equality)."""
    return dup_spans(spark, sf_dir, T.hash64)


def dup_spans(spark: SparkSession, sf_dir: str, hash_fn) -> DataFrame:
    # explode the POSITIONS, not an array of substrings: substr/md5 then
    # run whole-stage-codegen'd per row, instead of interpreted inside a
    # higher-order transform() (measured 4.0s -> ~1s at sf0.1).
    # Posting-list occupancy as ONE window pass over the hash-partitioned
    # spans (round 13), replacing the groupBy(s) + self-join-back pair: on
    # DISTINCT (doc_id, s) rows, count(*) over (partition by s) IS each
    # span's distinct-doc count, with the identical hash(s) partitioning
    # the join would have used (high-cardinality, no skew change) and one
    # exchange less.  Interleaved A/B at sf0.1, 5 rounds: join form
    # 0.88-0.97 s, window form 0.63-0.80 s; rows identical.
    # Round 14: the chain is ONE spark.sql() program (same tree, one
    # analysis pass) instead of ~8 DataFrame ops — the hash knob arrives
    # as a SQL expression fragment (md5-parity vs xxhash64).
    hash_sql = {
        T.hash64: "CAST(conv(substring(md5({x}), 1, 15), 16, 10) AS BIGINT)",
        T.fast_hash64: "xxhash64({x})",
    }.get(hash_fn)
    if hash_sql is None:
        raise ValueError(
            f"dup_spans: unsupported hash_fn {hash_fn!r}; "
            "pass T.hash64 or T.fast_hash64"
        )
    hash_sql = hash_sql.format(x=f"substring(text, p, {SPAN_W})")
    return spark.sql(f"""
WITH spans AS (
  SELECT DISTINCT doc_id, {hash_sql} AS s FROM (
    SELECT doc_id, text,
           explode(sequence(1, length(text) - {SPAN_W - 1}, {SPAN_STRIDE})) AS p
    FROM {{docs}} WHERE length(text) >= {SPAN_W}
  )
),
wnd AS (SELECT doc_id, count(1) OVER (PARTITION BY s) AS nd FROM spans),
per_doc AS (
  SELECT doc_id, count(1) AS n_spans,
         sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS n_dup
  FROM wnd GROUP BY doc_id
)
SELECT doc_id, n_spans, n_dup, round(n_dup / n_spans, 4) AS dup_frac
FROM per_doc WHERE n_dup > 0
""", docs=spread(table(spark, sf_dir, "documents")))


# ---- round 4: winnowing fingerprints, fractional-epoch mixing, novelty ----

_WIN_K = 8  # character k-gram length (winnowing)
_WIN_W = 4  # window of consecutive k-gram hashes per fingerprint

# just the sh_str/sh CTEs of the shared shingle fragment (everything up to
# the pairwise `sizes`/`common`/`jac` stages, which novelty doesn't need)
_SQL_SH_ONLY = _SQL_SHINGLE_CTE.split(",\nsizes")[0]


@register(
    "docs_winnowing",
    tags=("llm", "dedup", "text"),
    oracle=f"""
WITH grams AS (
  SELECT doc_id, p.i AS pos,
         CAST(('0x' || substr(md5(substr(text, p.i, {_WIN_K})), 1, 15)) AS BIGINT) AS g
  FROM documents, UNNEST(generate_series(1, len(text) - {_WIN_K} + 1)) AS p(i)
  WHERE len(text) >= {_WIN_K}
),
wins AS (
  SELECT doc_id, pos,
         min(g) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN {_WIN_W - 1} PRECEDING AND CURRENT ROW) AS fp
  FROM grams
),
fps AS (
  SELECT DISTINCT doc_id, fp FROM wins WHERE pos >= {_WIN_W}
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_fp,
       bit_xor(fp)              AS fp_xor
FROM fps
GROUP BY doc_id
""",
)
def docs_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the
    MOSS local-fingerprinting algorithm): hash every 8-char k-gram, keep
    the minimum hash of each window of 4 consecutive k-grams, and reduce
    the distinct fingerprint set per doc to (count, order-insensitive
    bit_xor).  Winnowing guarantees any shared substring of length
    k + w - 1 = 11 yields a shared fingerprint — the recall guarantee the
    stride-sampled text_dup_spans trades away.

    Shape: fingerprints are computed ENTIRELY WITHIN the document row —
    the window-of-4 min is a zip_with/least reduction over four aligned
    array slices (the operators/text.shingles trick), so beyond the
    spread() repartition of the one-file fixture scan the whole op is a
    single projection: embarrassingly parallel at any scale.
    Measured A/B at sf0.1: this beats the explode + window + distinct
    3-shuffle formulation 3.2 s vs 3.5 s; wall time in BOTH is dominated
    by the portable md5 hash — kept HERE because the DuckDB oracle must
    replay the hashes bit-for-bit; docs_winnowing_fast is the production
    twin on the hash knob (T.fast_hash64 = xxhash64, same plan, ~40%
    faster, identical pair recall pinned in tests/test_hash_knob.py)."""
    return _winnowing_agg(winnowing_fps(spark, sf_dir, T.hash64))


def winnowing_fps(spark: SparkSession, sf_dir: str, hash_fn) -> DataFrame:
    """(doc_id, _f: array<long>) winnowing fingerprint sets over the
    fixture documents table; see winnowing_fps_df for the df-level form.

    spread() first (round 13): the fixture corpus is ONE parquet file, so
    without it the entire hash-dominated fingerprint projection ran as a
    single task — one core busy, 31 idle.  A/B at sf0.1 (3 reps): md5 path
    3.29 s -> 0.96 s, xxhash64 path 2.27 s -> 0.71 s, outputs identical.
    Same device every other hash-heavy documents pipeline here uses
    (dup_spans, tfidf, rrf); at 100 TB the input is already
    many-partitioned and the repartition is dwarfed by the hash work."""
    return winnowing_fps_df(spread(table(spark, sf_dir, "documents")), hash_fn)


def winnowing_fps_df(docs: DataFrame, hash_fn) -> DataFrame:
    """(doc_id, _f: array<long>) winnowing fingerprint sets; ``hash_fn``
    is the hash knob — T.hash64 (md5, oracle-replayable) or T.fast_hash64
    (xxhash64, production).  Df-level so bench.py's analytics decade sweep
    can run it over generated corpora."""
    d = docs.where(F.length("text") >= _WIN_K + _WIN_W - 1)
    n = F.length("text") - (_WIN_K - 1)
    grams = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: hash_fn(F.substring("text", i, F.lit(_WIN_K))),
    )
    hc = F.col("_h")
    m = F.size(hc) - (_WIN_W - 1)
    slices = [F.slice(hc, j + 1, m) for j in range(_WIN_W)]
    mins = slices[0]
    for s in slices[1:]:
        mins = F.zip_with(mins, s, lambda a, b: F.least(a, b))
    fps = F.array_distinct(mins)
    return d.select("doc_id", grams.alias("_h")).select("doc_id", fps.alias("_f"))


def _winnowing_agg(fps: DataFrame) -> DataFrame:
    return fps.select(
        "doc_id",
        F.size("_f").cast("long").alias("n_fp"),
        F.aggregate("_f", F.lit(0).cast("long"), lambda a, x: a.bitwiseXOR(x)).alias(
            "fp_xor"
        ),
    )


def _winnowing_fast_oracle() -> str:
    from experiments_datafusion_spark.oracle_xxhash import xxh64_8byte_ctes

    return f"""
-- the PRODUCTION hash replayed bit-exactly: XXH64(seed 42) of each 8-char
-- gram, computed in DuckDB as exact 128-bit wrap-around arithmetic
-- (oracle_xxhash.py; ASCII fixture verified, chars == UTF-8 bytes)
WITH grams AS (
  SELECT doc_id, p.i AS pos, substr(text, p.i, {_WIN_K}) AS g8
  FROM documents, UNNEST(generate_series(1, len(text) - {_WIN_K} + 1)) AS p(i)
  WHERE len(text) >= {_WIN_K}
),
{xxh64_8byte_ctes("grams", "g8")},
wins AS (
  SELECT doc_id, pos,
         min(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN {_WIN_W - 1} PRECEDING AND CURRENT ROW) AS fp
  FROM xxf
),
fps AS (
  SELECT DISTINCT doc_id, fp FROM wins WHERE pos >= {_WIN_W}
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_fp,
       bit_xor(fp)              AS fp_xor
FROM fps
GROUP BY doc_id
"""


@register(
    "docs_winnowing_fast",
    tags=("llm", "dedup", "text", "fast-twin"),
    # FULLY ORACLED since round 7: the xxhash64 values themselves are
    # replayed in DuckDB via oracle_xxhash.py's 128-bit wrap-around SQL
    # (this key's output EXPOSES hash values through fp_xor, so unlike the
    # posting-list twins it could not share the md5 oracle; now it needs
    # neither — the production hash has its own exact replay).
    oracle=_winnowing_fast_oracle(),
)
def docs_winnowing_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """docs_winnowing on the production side of the hash knob: the SAME
    zero-shuffle winnowing plan with T.fast_hash64 (xxhash64) instead of
    the md5-derived portable hash.  Winnowing's recall guarantee (shared
    substrings of length >= k+w-1 share a fingerprint) holds for ANY hash,
    and since round 7 the xxhash64 values are ALSO bit-exactly replayed by
    the DuckDB oracle (XXH64 short path as exact HUGEINT arithmetic —
    oracle_xxhash.py), so the production path is value-verified end to
    end, retiring this key's rows-only status.  Pair-recall
    hash-independence stays pinned in tests/test_hash_knob.py; the ~40%
    wall-time cut of the knob is recorded in BENCH_NOTES.md."""
    return _winnowing_agg(winnowing_fps(spark, sf_dir, T.fast_hash64))


@register(
    "mix_epochs_fractional",
    tags=("llm", "pipeline", "sampling"),
    oracle="""
WITH w AS (
  SELECT source,
         1000 + (CAST(('0x' || substr(md5(source), 1, 15)) AS BIGINT) % 20) * 100
           AS w_milli
  FROM (SELECT DISTINCT source FROM documents)
),
per_doc AS (
  SELECT d.doc_id, d.source,
         w.w_milli // 1000
         + CASE WHEN CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || '#epoch'), 1, 15)) AS BIGINT) % 1000
                     < w.w_milli % 1000
                THEN 1 ELSE 0 END AS copies
  FROM documents d JOIN w USING (source)
),
expanded AS (
  SELECT per_doc.doc_id, per_doc.source
  FROM per_doc, UNNEST(generate_series(1, copies)) AS t(i)
)
SELECT source,
       CAST(count(DISTINCT doc_id) AS BIGINT)      AS n_docs,
       CAST(count(*) AS BIGINT)                    AS n_copies,
       CAST(count(*) * 1000 // count(DISTINCT doc_id) AS BIGINT)
                                                   AS epochs_milli
FROM expanded
GROUP BY source
""",
)
def mix_epochs_fractional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fractional-epoch dataset mixing: each source gets a deterministic
    weight in [1.0, 2.9] epochs (milli-units from a hash of the source
    name); every doc is replicated floor(w) times and one extra time for a
    hash-selected frac(w) fraction of docs — the standard way a training
    mix upsamples high-quality sources by a NON-integer factor with zero
    RNG state (reshard-stable, resumable).  Shape: broadcast the per-source
    weight table, explode a sequence — row counts multiply, nothing
    shuffles until the audit aggregate."""
    d = table(spark, sf_dir, "documents")
    w = (
        d.select("source")
        .distinct()
        .select(
            "source",
            (1000 + F.pmod(T.hash64(F.col("source")), F.lit(20)) * 100).alias("w_milli"),
        )
    )
    extra = (
        F.pmod(T.hash64(F.concat(F.col("doc_id").cast("string"), F.lit("#epoch"))), F.lit(1000))
        < F.col("w_milli") % 1000
    )
    per_doc = d.join(F.broadcast(w), "source").select(
        "doc_id",
        "source",
        (
            ((F.col("w_milli") - F.col("w_milli") % 1000) / 1000).cast("long")
            + F.when(extra, 1).otherwise(0)
        ).alias("copies"),
    )
    expanded = per_doc.select(
        "doc_id", "source", F.explode(F.sequence(F.lit(1), F.col("copies"))).alias("i")
    )
    total = F.count(F.lit(1))
    ndocs = F.countDistinct("doc_id")
    return expanded.groupBy("source").agg(
        ndocs.alias("n_docs"),
        total.alias("n_copies"),
        ((total * 1000 - (total * 1000) % ndocs) / ndocs).cast("long").alias("epochs_milli"),
    )


# Hash-knob-shareable for the same reason as DUP_SPANS_ORACLE: novelty is a
# pure function of shingle-hash equality classes (first-doc argmin + counts).
NGRAM_NOVELTY_ORACLE = f"""
WITH {_SQL_SH_ONLY},
firsts AS (SELECT s, min(doc_id) AS first_doc FROM sh GROUP BY s)
SELECT sh.doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       CAST(sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) * 1000
            // count(*) AS BIGINT) AS novelty_milli
FROM sh JOIN firsts f USING (s)
GROUP BY sh.doc_id
"""


def ngram_novelty(spark: SparkSession, sf_dir: str, hash_fn) -> DataFrame:
    """docs_ngram_novelty's dataflow with the shingle hash as a knob —
    T.hash64 (md5, oracled key below) or T.fast_hash64 (xxhash64, the
    production twin registered in round6.py)."""
    # No checkpoint (round 14): the r13 window rewrite below left the
    # shingle relation with ONE consumer, so the eager pin's blocking job
    # + plan->RDD conversion bought zero reuse — pure construction floor.
    # (The multi-consumer dedup pins in operators/dedup.py stay eager.)
    sh = D.doc_shingles(table(spark, sf_dir, "documents"), hash_fn=hash_fn)
    # First-seen doc per shingle as a window MIN over the hash(shingle)
    # partitioning (round 13) instead of groupBy + join-back: one exchange
    # and no aggregate branch, same high-cardinality key.  Interleaved A/B
    # at sf0.1, 5 rounds: join form 1.05-1.62 s, window form 0.80-1.04 s;
    # rows identical.
    from pyspark.sql import Window as _W

    joined = sh.withColumn(
        "first_doc", F.min("doc_id").over(_W.partitionBy("shingle"))
    )
    novel = F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0))
    total = F.count(F.lit(1))
    return joined.groupBy("doc_id").agg(
        total.alias("n_grams"),
        novel.alias("n_novel"),
        ((novel * 1000 - (novel * 1000) % total) / total).cast("long").alias("novelty_milli"),
    )


@register(
    "docs_ngram_novelty",
    tags=("llm", "text", "dedup"),
    oracle=NGRAM_NOVELTY_ORACLE,
)
def docs_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram NOVELTY against the corpus ordered by doc_id:
    the share of a doc's distinct 3-word shingles whose FIRST occurrence
    (min doc_id) is this doc — the curriculum/dedup signal 'how much of
    this document is new text'.  Shape: one posting list, one keyed min,
    one join back on the shingle hash — identical scale behaviour to the
    Jaccard posting-list join, never all-pairs.  Hash knob: md5 here;
    docs_ngram_novelty_fast (round6.py) is the xxhash64 production twin."""
    return ngram_novelty(spark, sf_dir, T.hash64)


_BM25_TERMS = ("data", "model", "system", "learning")
_BM25_K1 = 1.2
_BM25_B = 0.75

# shared tokenize / doc-length / corpus-stat CTEs (composed by text_bm25 here
# and by search.search_rrf_fusion, which scores TWO term sets over one corpus)
_BM25_BASE_CTES = """toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(text, '\\s+'), w -> w <> '')) AS term
  FROM documents
),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
corpus AS (
  SELECT CAST(sum(dl) AS BIGINT) AS total_dl,
         CAST(count(*) AS BIGINT) AS n_docs
  FROM dl
)"""


def _bm25_scored_ctes(terms: tuple[str, ...], sfx: str = "") -> str:
    """CTE fragment `per_doc{sfx}(doc_id, score_u)`: Okapi BM25 of every doc
    against `terms`, per-term scores floor-quantized to integer micro-units
    before the cross-term sum (integer addition is associative, so the one
    cross-row accumulation cannot diverge between engines).  Expects the
    `toks`/`dl`/`corpus` CTEs from _BM25_BASE_CTES in scope."""
    tlist = ", ".join(f"'{t}'" for t in terms)
    return f"""tf{sfx} AS (
  SELECT doc_id, term, count(*) AS tf FROM toks
  WHERE term IN ({tlist}) GROUP BY doc_id, term
),
dfreq{sfx} AS (SELECT term, count(*) AS df FROM tf{sfx} GROUP BY term),
scored{sfx} AS (
  SELECT tf{sfx}.doc_id,
         CAST(floor(
           ln((c.n_docs - d.df + 0.5) / (d.df + 0.5) + 1)
           * (tf{sfx}.tf * ({_BM25_K1} + 1))
           / (tf{sfx}.tf + {_BM25_K1} * (1 - {_BM25_B}
              + {_BM25_B} * dl.dl / (CAST(c.total_dl AS DOUBLE) / c.n_docs)))
           * 1000000) AS BIGINT) AS s_u
  FROM tf{sfx}
  JOIN dl USING (doc_id)
  JOIN dfreq{sfx} d USING (term)
  CROSS JOIN corpus c
),
per_doc{sfx} AS (
  SELECT doc_id, CAST(sum(s_u) AS BIGINT) AS score_u FROM scored{sfx} GROUP BY doc_id
)"""


def _bm25_oracle() -> str:
    return f"""
WITH {_BM25_BASE_CTES},
{_bm25_scored_ctes(_BM25_TERMS)}
SELECT doc_id, score_u, score_u / 1000000.0 AS bm25
FROM per_doc
ORDER BY score_u DESC, doc_id
LIMIT 50
"""


def bm25_tok_stats(docs: DataFrame):
    """(toks, dl, corpus) DataFrames shared by every BM25 scoring pass."""
    toks = spread(docs).select("doc_id", F.explode(T.words(F.col("text"))).alias("term"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    corpus = dl.agg(F.sum("dl").alias("total_dl"), F.count(F.lit(1)).alias("n_docs"))
    return toks, dl, corpus


def bm25_per_doc(toks: DataFrame, dl: DataFrame, corpus: DataFrame,
                 terms: tuple[str, ...]) -> DataFrame:
    """Per-doc BM25 (doc_id, score_u) against `terms` — the Spark twin of
    _bm25_scored_ctes: tokenize -> two keyed aggregates -> broadcast
    (terms x df, 1-row corpus stats) -> keyed integer sum."""
    tf = (
        toks.where(F.col("term").isin(*terms))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    avgdl = F.col("total_dl").cast("double") / F.col("n_docs")
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1
    )
    s = (
        idf
        * (F.col("tf") * (_BM25_K1 + 1))
        / (F.col("tf") + _BM25_K1 * (1 - _BM25_B + _BM25_B * F.col("dl") / avgdl))
    )
    scored = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(corpus))
        .select("doc_id", F.floor(s * 1_000_000).cast("long").alias("s_u"))
    )
    return scored.groupBy("doc_id").agg(F.sum("s_u").alias("score_u"))


@register("text_bm25", tags=("llm", "text", "search"), oracle=_bm25_oracle())
def text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 full-text relevance (k1=1.2, b=0.75) of every document against
    a fixed query-term set; top-50 docs.  The Okapi formula runs on
    identical per-row inputs in both engines (avgdl is an exact
    integer-sum / count division, idf a single ln on identical doubles),
    and per-term scores are floor-quantized to integer micro-units before
    the cross-term sum — integer addition is associative, so the one
    accumulation that crosses rows cannot diverge.  Shape: tokenize ->
    two keyed aggregates -> broadcast (terms x df, 1-row corpus stats) ->
    keyed sum; the df/corpus tables are tiny by construction."""
    docs = table(spark, sf_dir, "documents")
    toks, dl, corpus = bm25_tok_stats(docs)
    per_doc = bm25_per_doc(toks, dl, corpus, _BM25_TERMS)
    return (
        per_doc.select("doc_id", "score_u", (F.col("score_u") / 1_000_000.0).alias("bm25"))
        .orderBy(F.desc("score_u"), "doc_id")
        .limit(50)
    )


@register(
    "docs_paragraph_dedup",
    tags=("llm", "dedup", "text"),
    oracle="""
WITH paras0 AS (
  SELECT doc_id, trim(p.part) AS para
  FROM documents, UNNEST(string_split_regex(text, '\\.\\s+')) AS p(part)
),
paras AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(lower(para)), 1, 15)) AS BIGINT) AS h
  FROM paras0 WHERE len(para) >= 40
),
posting AS (SELECT h, count(DISTINCT doc_id) AS nd FROM paras GROUP BY h)
SELECT p.doc_id,
       CAST(count(*) AS BIGINT) AS n_paras,
       CAST(sum(CASE WHEN po.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
       CAST(sum(CASE WHEN po.nd >= 2 THEN 1 ELSE 0 END) * 1000 // count(*) AS BIGINT)
         AS shared_milli
FROM paras p JOIN posting po USING (h)
GROUP BY p.doc_id
""",
)
def docs_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph/sentence-level exact dedup (the C4 recipe: drop text
    units repeated across documents): split on sentence boundaries, hash
    units >= 40 chars case-insensitively, count each doc's units that
    appear in >= 2 documents.  Shape: explode -> posting list -> join
    back, the same never-all-pairs dataflow as text_dup_spans but on
    SEMANTIC units rather than fixed windows (catches boilerplate the
    stride sampler can only see when aligned)."""
    d = table(spark, sf_dir, "documents")
    paras = (
        spread(d)
        .select(
            "doc_id",
            F.posexplode(F.split("text", r"\.\s+")).alias("pidx", "para0"),
        )
        .select("doc_id", "pidx", F.trim("para0").alias("para"))
        .where(F.length("para") >= 40)
        .select("doc_id", "pidx", T.hash64(F.lower(F.col("para"))).alias("h"))
    )
    posting = paras.groupBy("h").agg(F.countDistinct("doc_id").alias("nd"))
    shared = F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0))
    total = F.count(F.lit(1))
    return (
        paras.join(posting, "h")
        .groupBy("doc_id")
        .agg(
            total.alias("n_paras"),
            shared.alias("n_shared"),
            ((shared * 1000 - (shared * 1000) % total) / total).cast("long").alias("shared_milli"),
        )
    )


# shingle CTEs through `common` (sh_str/sh/sizes/common) for containment
_SQL_SH_COMMON = _SQL_SHINGLE_CTE.split(",\njac")[0]

_CONT_MILLI = 600  # report pairs where either containment >= 60%


# Hash-knob-shareable: containment counts are pure equality-class
# functionals of the shingle hash (see DUP_SPANS_ORACLE).
CONTAINMENT_ORACLE = f"""
WITH {_SQL_SH_COMMON},
pairs AS (
  SELECT x, y, c,
         sa.n_sh AS n_x, sb.n_sh AS n_y,
         c * 1000 // sa.n_sh AS cont_x_milli,
         c * 1000 // sb.n_sh AS cont_y_milli
  FROM common
  JOIN sizes sa ON x = sa.doc_id
  JOIN sizes sb ON y = sb.doc_id
)
SELECT x, y,
       CAST(c AS BIGINT) AS n_common,
       CAST(n_x AS BIGINT) AS n_x, CAST(n_y AS BIGINT) AS n_y,
       CAST(cont_x_milli AS BIGINT) AS cont_x_milli,
       CAST(cont_y_milli AS BIGINT) AS cont_y_milli
FROM pairs
WHERE cont_x_milli >= {_CONT_MILLI} OR cont_y_milli >= {_CONT_MILLI}
"""


def containment_pairs(spark: SparkSession, sf_dir: str, hash_fn) -> DataFrame:
    """text_containment's dataflow with the shingle hash as a knob —
    T.hash64 (md5, oracled key below) or T.fast_hash64 (xxhash64, the
    production twin registered in round6.py)."""
    # Round 14: post-pin chain as ONE spark.sql() program (same
    # construction-floor fix as jaccard_pairs; integer div arithmetic is
    # term-identical).  Rows proven identical.
    sh = D.doc_shingles(
        table(spark, sf_dir, "documents"), hash_fn=hash_fn
    ).localCheckpoint(eager=True)
    return spark.sql(f"""
WITH sizes AS (SELECT doc_id, count(1) AS n_sh FROM {{sh}} GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS x, b.doc_id AS y, count(1) AS c
  FROM {{sh}} a JOIN {{sh}} b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT x, y,
       CAST(c AS BIGINT) AS n_common,
       CAST(sa.n_sh AS BIGINT) AS n_x,
       CAST(sb.n_sh AS BIGINT) AS n_y,
       CAST((c * 1000) div sa.n_sh AS BIGINT) AS cont_x_milli,
       CAST((c * 1000) div sb.n_sh AS BIGINT) AS cont_y_milli
FROM common
JOIN sizes sa ON x = sa.doc_id
JOIN sizes sb ON y = sb.doc_id
WHERE ((c * 1000) div sa.n_sh) >= {_CONT_MILLI}
   OR ((c * 1000) div sb.n_sh) >= {_CONT_MILLI}
""", sh=sh)


@register(
    "text_containment",
    tags=("llm", "dedup", "text"),
    oracle=CONTAINMENT_ORACLE,
)
def text_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC containment near-dup detection: |A ∩ B| / |A| — the
    direction-aware measure that catches quote/substring duplication a
    symmetric Jaccard misses (a short doc fully quoted inside a long one
    has low Jaccard but containment ~1 in one direction).  Reports every
    pair where EITHER direction's containment >= 60%, with exact integer
    milli-unit scores (c * 1000 // |side| — no float division anywhere).

    Shape: identical scale behaviour to the exact-Jaccard join — one
    posting-list self-join on 60-bit shingle hashes (high-cardinality
    partitioning, no all-pairs), two broadcast-size size joins; the only
    change vs jaccard_pairs is the denominator.  Hash knob: md5 here;
    text_containment_fast (round6.py) is the xxhash64 production twin."""
    return containment_pairs(spark, sf_dir, T.hash64)


# --- sparse TF-IDF cosine document-similarity join ---------------------------

_TC_SCALE = 1000  # tf-idf weights quantized to integer milli-units
_TC_MAX_DF_X2 = True  # df-cap: drop terms present in > 50% of docs


@register(
    "docs_tfidf_cosine",
    tags=("llm", "text", "similarity"),
    oracle="""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(text, '\\s+'), w -> w <> '')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
kept AS (
  SELECT tf.doc_id, tf.term,
         CAST(floor(tf * ln((n_docs + 1.0) / (df + 1.0)) * 1000) AS BIGINT) AS w_u
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
  WHERE df >= 2 AND df * 2 <= n_docs
),
norms AS (SELECT doc_id, CAST(sum(w_u * w_u) AS BIGINT) AS n_u FROM kept GROUP BY 1),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(sum(a.w_u * b.w_u) AS BIGINT) AS num
  FROM kept a JOIN kept b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, num,
       round(CAST(num AS DOUBLE)
             / (sqrt(CAST(na.n_u AS DOUBLE)) * sqrt(CAST(nb.n_u AS DOUBLE))), 6) AS cos_r
FROM pairs
JOIN norms na ON na.doc_id = doc_a
JOIN norms nb ON nb.doc_id = doc_b
WHERE 4.0 * (CAST(num AS DOUBLE) * CAST(num AS DOUBLE))
      >= CAST(na.n_u AS DOUBLE) * CAST(nb.n_u AS DOUBLE)
""",
)
def docs_tfidf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-to-document SPARSE cosine similarity (tf-idf weighted bag
    of words) via an inverted-index self-join — the lexical complement of
    the embedding-space near-dup tiers: pairs sharing informative terms
    score by sum(w_a * w_b) / (|w_a| |w_b|), reported for cos >= 0.5.

    Determinism by construction: weights are floor-quantized to integer
    milli-units (tf * smoothed-idf, the text_tfidf convention), so the
    cross-term dot product and both norms are EXACT integer sums; the
    0.5 threshold is applied as 4*num^2 >= n_a*n_b — all operands exact
    int64 converted losslessly to double (< 2^53), so the predicate is
    the same boolean in both engines and no pair can flip at the
    boundary.  Only the REPORTED cosine rounds a division (6dp).

    Scale: the posting-list self-join with the 50%-df cap is the
    jaccard_pairs shape — candidates are bounded by posting-list length,
    never all pairs; norms join back on doc_id (hash-partitioned).  A
    100 TB run adds the hot-term frequency cap jaccard documents.

    Round 14: the whole dataflow is ONE spark.sql() program over two
    DataFrame arguments instead of ~14 chained DataFrame ops — each
    PySpark op pays a py4j round trip plus an eager re-analysis of the
    growing tree (measured ~30-80 ms/op at sf0.1, ~0.7 s of pure driver
    time for this key), while one SQL string parses and analyzes the
    identical tree once (~0.2 s).  Rows proven identical at sf0.1 and the oracle is
    unchanged.  The round-13 eager localCheckpoint on `kept` is gone with
    the rewrite: its three consumers read the same canonical
    exchange-rooted subtree, which runtime exchange reuse computes once
    (the dedup_minhash_lsh r13 precedent) — and the checkpoint call
    itself cost more driver time (plan->RDD conversion + a blocking job)
    than the reuse saves."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    # Expression-level replica of the former DataFrame chain: double
    # literals carry an explicit DOUBLE cast (a bare 1.0 parses as
    # DECIMAL in Spark SQL and would change the idf arithmetic), ln ==
    # F.log, floor/round/sqrt map 1:1.
    return spark.sql(f"""
WITH toks AS (
  SELECT doc_id, explode(filter(split(text, '\\\\s+'), w -> w != '')) AS term
  FROM {{docs_sp}}
),
tf AS (SELECT doc_id, term, count(1) AS tf FROM toks GROUP BY doc_id, term),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM {{docs}}),
wdf AS (SELECT doc_id, term, tf, count(1) OVER (PARTITION BY term) AS df FROM tf),
kept AS (
  SELECT /*+ BROADCAST(n) */ doc_id, term,
         CAST(floor(tf * ln((n_docs + CAST(1.0 AS DOUBLE))
                            / (df + CAST(1.0 AS DOUBLE))) * {_TC_SCALE})
              AS BIGINT) AS w_u
  FROM wdf CROSS JOIN n
  WHERE df >= 2 AND df * 2 <= n_docs
),
norms AS (SELECT doc_id, sum(w_u * w_u) AS n_u FROM kept GROUP BY doc_id),
pairs AS (
  SELECT a.doc_a, b.doc_b, sum(a.wa * b.wb) AS num
  FROM (SELECT term, doc_id AS doc_a, w_u AS wa FROM kept) a
  JOIN (SELECT term, doc_id AS doc_b, w_u AS wb FROM kept) b ON a.term = b.term
  WHERE a.doc_a < b.doc_b
  GROUP BY a.doc_a, b.doc_b
)
SELECT p.doc_a, p.doc_b, CAST(p.num AS BIGINT) AS num,
       round(CAST(p.num AS DOUBLE)
             / (sqrt(CAST(na.n_u AS DOUBLE)) * sqrt(CAST(nb.n_u AS DOUBLE))),
             6) AS cos_r
FROM pairs p
JOIN (SELECT doc_id AS doc_a, n_u FROM norms) na USING (doc_a)
JOIN (SELECT doc_id AS doc_b, n_u FROM norms) nb USING (doc_b)
WHERE CAST(4.0 AS DOUBLE) * (CAST(p.num AS DOUBLE) * CAST(p.num AS DOUBLE))
      >= CAST(na.n_u AS DOUBLE) * CAST(nb.n_u AS DOUBLE)
""", docs_sp=spread(docs), docs=docs)
