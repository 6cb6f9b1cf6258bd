"""Retrieval-layer operators on top of the text suite: reciprocal-rank
fusion of multiple BM25 rankings (the standard way multi-query retrieval —
query rewrites, hybrid lexical+dense — combines ranked lists into one), and
frequent token-pair co-occurrence mining (association mining over the
document corpus, the market-basket shape).

Both are integer-exact end to end: RRF contributions are 1e6 div (k + rank)
integer divisions over deterministic (score desc, doc_id) rankings, and the
co-occurrence support/lift columns are pure counts and integer divisions —
nothing for cross-engine float accumulation to diverge on.

Scale notes are per-operator; the common theme is top-k via
TakeOrderedAndProject (never a global sort), broadcast of provably-small
sides only (query-term df rows, 1-row corpus stats), and a document-frequency
cap bounding the co-occurrence join fan-out.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from experiments_datafusion_spark.io import spread, table
from experiments_datafusion_spark.operators import text as T
from experiments_datafusion_spark.queries import register
from experiments_datafusion_spark.queries.llm_extras import (
    _BM25_BASE_CTES,
    _BM25_K1,
    _BM25_B,
    _BM25_TERMS,
    _bm25_scored_ctes,
)

_RRF_K = 60  # the conventional RRF damping constant
_RRF_TOPN = 50  # fuse the top-50 of each ranking
_RRF_SCALE = 1_000_000  # contributions in integer micro-units
# second query variant: physical-operator vocabulary, disjoint from
# _BM25_TERMS' modelling vocabulary — two genuinely different lexical angles
_TERMS_B = ("join", "hash", "scan", "filter")

_PAIR_MIN_DF = 5  # drop ultra-rare terms (noise)
# df-cap: drop terms present in > 80% of docs (stop-word shaped; also THE
# scale knob — bounds every posting list and the per-doc pair fan-out)
_PAIR_MAX_DF_PCT = 80
_PAIR_MIN_SUPPORT_PCT = 60  # report pairs co-occurring in >= 60% of docs


def _ranked_sql(sfx: str) -> str:
    return f"""rank{sfx} AS (
  SELECT doc_id, rnk FROM (
    SELECT doc_id,
           row_number() OVER (ORDER BY score_u DESC, doc_id) AS rnk
    FROM per_doc{sfx})
  WHERE rnk <= {_RRF_TOPN}
)"""


@register(
    "search_rrf_fusion",
    tags=("llm", "text", "search"),
    oracle=f"""
WITH {_BM25_BASE_CTES},
{_bm25_scored_ctes(_BM25_TERMS, "_a")},
{_bm25_scored_ctes(_TERMS_B, "_b")},
{_ranked_sql("_a")},
{_ranked_sql("_b")}
SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
       CAST(coalesce({_RRF_SCALE} // ({_RRF_K} + a.rnk), 0)
            + coalesce({_RRF_SCALE} // ({_RRF_K} + b.rnk), 0) AS BIGINT) AS rrf_u,
       CAST((CASE WHEN a.rnk IS NULL THEN 0 ELSE 1 END)
            + (CASE WHEN b.rnk IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_lists
FROM rank_a a FULL JOIN rank_b b ON a.doc_id = b.doc_id
""",
)
def search_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Buettcher RRF, k=60) of two
    BM25 rankings of the corpus — one per query-term set (a modelling
    vocabulary and a physical-operator vocabulary), the standard recipe for
    fusing multi-query / hybrid retrieval.  Each list contributes
    1e6 div (60 + rank) integer micro-units; docs in both lists sum.

    Shape — ONE pass over the token explode for BOTH rankings: because the
    two vocabularies are disjoint and a term's document frequency does not
    depend on which list it belongs to, per-doc length AND every query
    term's tf come out of a single doc_id-keyed conditional aggregation
    (map-side combined — the tokenize explode never shuffles), and that
    ~n_docs-row table feeds corpus stats, dfs and scoring.  The earlier
    two-pass form (shared subtree, one orderBy+limit per list, full-outer
    fusion join) re-ran the explode per ranking — same-window A/B at
    sf0.1: 2.5 s two-pass vs 2.1 s single-pass, and one fewer
    corpus-sized shuffle (the tf aggregate now rides the dl one).
    Ranking is a window over the per-list
    scored docs (rows = docs matching >= 1 term, not the corpus), and the
    fusion join collapses to a doc_id-keyed pivot over the two rank rows.
    Per-term scores are floor-quantized to integer micro-units before any
    cross-row sum, so nothing can diverge from the two-pass oracle.

    Round 14: the dataflow is ONE spark.sql() program instead of ~12
    chained DataFrame ops — each PySpark op pays a py4j round trip plus
    an eager re-analysis of the growing tree (this key measured ~1.0 s of
    pure construction at sf0.1); one SQL string analyzes the identical
    tree once.  Expression-level replica of the former chain: double
    literals carry the exact repr of the Python-folded constants (k1+1,
    1-b) so the IEEE arithmetic is bit-identical, the list tag is a CASE
    on the term index (the 8-row lst_map relation and its broadcast join
    fold away — same rows by construction since list a is exactly the
    first len(_BM25_TERMS) indices), and the r13 eager localCheckpoint on
    the wide tf table is gone: its consumers read the same canonical
    aggregate subtree, deduped at runtime by exchange reuse."""
    all_terms = list(_BM25_TERMS) + list(_TERMS_B)
    tf_cols = ",\n         ".join(
        f"sum(CAST((term = '{t}') AS BIGINT)) AS tf_{i}"
        for i, t in enumerate(all_terms)
    )
    tf_arr = ", ".join(f"tf_{i}" for i in range(len(all_terms)))
    k1p1 = repr(_BM25_K1 + 1)  # Python folds these before F.lit did too —
    one_mb = repr(1 - _BM25_B)  # repr is the shortest exact double form
    return spark.sql(f"""
WITH toks AS (
  SELECT doc_id, explode(filter(split(text, '\\\\s+'), w -> w != '')) AS term
  FROM {{docs}}
),
wide AS (
  SELECT doc_id, count(1) AS dl,
         {tf_cols}
  FROM toks GROUP BY doc_id
),
corpus AS (SELECT sum(dl) AS total_dl, count(1) AS n_docs FROM wide),
longx AS (
  SELECT doc_id, dl, ti, tf FROM (
    SELECT doc_id, dl, posexplode(array({tf_arr})) AS (ti, tf) FROM wide
  ) WHERE tf > 0
),
dfreq AS (SELECT ti, count(1) AS df FROM longx GROUP BY ti),
per AS (
  SELECT /*+ BROADCAST(dfreq), BROADCAST(corpus) */
         CASE WHEN l.ti < {len(_BM25_TERMS)} THEN 'a' ELSE 'b' END AS lst,
         l.doc_id,
         CAST(floor(
           ln((n_docs - df + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE)) + 1)
           * (l.tf * CAST({k1p1} AS DOUBLE))
           / (l.tf + CAST({_BM25_K1!r} AS DOUBLE)
              * (CAST({one_mb} AS DOUBLE)
                 + CAST({_BM25_B!r} AS DOUBLE) * l.dl
                   / (CAST(total_dl AS DOUBLE) / n_docs)))
           * {_RRF_SCALE}) AS BIGINT) AS s_u
  FROM longx l JOIN dfreq ON l.ti = dfreq.ti CROSS JOIN corpus
),
scored AS (SELECT lst, doc_id, sum(s_u) AS score_u FROM per GROUP BY lst, doc_id),
rnk AS (
  SELECT lst, doc_id, rnk FROM (
    SELECT lst, doc_id,
           row_number() OVER (PARTITION BY lst ORDER BY score_u DESC, doc_id) AS rnk
    FROM scored)
  WHERE rnk <= {_RRF_TOPN}
),
fused AS (
  SELECT doc_id,
         max(CASE WHEN lst = 'a' THEN rnk END) AS rnk_a,
         max(CASE WHEN lst = 'b' THEN rnk END) AS rnk_b
  FROM rnk GROUP BY doc_id
)
SELECT doc_id,
       CAST(coalesce({_RRF_SCALE} div ({_RRF_K} + rnk_a), 0)
            + coalesce({_RRF_SCALE} div ({_RRF_K} + rnk_b), 0) AS BIGINT) AS rrf_u,
       CAST(CAST(rnk_a IS NOT NULL AS INT)
            + CAST(rnk_b IS NOT NULL AS INT) AS BIGINT) AS n_lists
FROM fused
""", docs=spread(table(spark, sf_dir, "documents")))


@register(
    "freq_token_pairs",
    tags=("llm", "text", "analytics"),
    oracle=f"""
WITH toks AS (
  SELECT DISTINCT doc_id,
         unnest(list_filter(string_split_regex(text, '\\s+'), w -> w <> '')) AS term
  FROM documents
),
stats AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM toks),
d AS (SELECT term, count(*) AS df FROM toks GROUP BY term),
kept AS (
  SELECT t.doc_id, t.term, d.df
  FROM toks t JOIN d USING (term) CROSS JOIN stats s
  WHERE d.df >= {_PAIR_MIN_DF} AND d.df * 100 <= s.n_docs * {_PAIR_MAX_DF_PCT}
),
pairs AS (
  SELECT a.term AS term_a, b.term AS term_b,
         any_value(a.df) AS df_a, any_value(b.df) AS df_b,
         count(*) AS support
  FROM kept a JOIN kept b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
)
SELECT term_a, term_b,
       CAST(support AS BIGINT) AS support,
       CAST(support * 1000 // s.n_docs AS BIGINT) AS support_milli,
       CAST(support * s.n_docs * 1000000 // (df_a * df_b) AS BIGINT) AS lift_micro
FROM pairs CROSS JOIN stats s
WHERE support * 100 >= s.n_docs * {_PAIR_MIN_SUPPORT_PCT}
""",
)
def freq_token_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent token-pair co-occurrence mining (the A-priori first pass /
    market-basket shape): distinct (doc, term) pairs, document-frequency
    cap, per-document pair expansion via a doc-keyed self-join, then
    support counting with relative-threshold filtering plus integer lift
    (support * n_docs / (df_a * df_b), micro-units).

    Scale: the df-cap is the load-bearing knob — dropping terms in > 80% of
    docs (stop-word shaped) bounds both posting-list length and the O(k^2)
    per-doc pair fan-out of the self-join, exactly the hot-shingle cap the
    jaccard posting-list join documents.  The pair join itself is
    hash-partitioned on doc_id (co-located, no broadcast of the big side);
    only the 1-row n_docs stats relation broadcasts.  Document frequency is
    a window count over partitionBy(term) on the distinct (doc, term) rows
    (round 13) — this removed the vocab-sized dfreq broadcast the old form
    built, at the cost of shuffling the posting list by the Zipfian term
    key BEFORE the df-cap applies: a stop-word term's full posting list
    lands in one WindowExec group (bounded by n_docs rows of (doc_id, term)
    — distinct per doc — and spills rather than OOMs, but serially).  The
    r14 skew probe (OPTIMIZATION_r14.md: one synthetic term in every doc)
    measures that trade directly; a two-level (term, salt) pre-aggregate +
    term-keyed join is the §2.3 escape hatch if a real corpus ever makes
    the window group the wall.  All thresholds are relative to corpus
    size, so the same constants hold at any scale factor."""
    # Round 14: ONE spark.sql() program replaces the ~12-op DataFrame chain
    # (one analysis pass instead of a py4j round trip + eager re-analysis
    # per op).  Two structural notes, rows proven identical:
    # - the round-12 eager localCheckpoint on toks is gone: corpus stats
    #   (n_docs) now count distinct doc_ids over the WINDOWED relation
    #   (same rows — the window only appends df), so the stats branch and
    #   the kept branch share the term-keyed exchange as their canonical
    #   subtree and runtime exchange reuse tokenizes the corpus ONCE —
    #   the materialization the checkpoint bought, without its blocking
    #   job + plan->RDD driver cost (and without pinning an n_tokens-row
    #   relation in the block manager at 100 TB);
    # - document frequency stays the round-13 window count over
    #   partitionBy(term) (no vocab-sized broadcast; skew posture in the
    #   docstring above).
    return spark.sql(f"""
WITH toks AS (
  SELECT doc_id,
         explode(array_distinct(filter(split(text, '\\\\s+'), w -> w != ''))) AS term
  FROM {{docs}}
),
wdf AS (
  SELECT doc_id, term, count(1) OVER (PARTITION BY term) AS df FROM toks
),
stats AS (SELECT count(DISTINCT doc_id) AS n_docs FROM wdf),
kept AS (
  SELECT /*+ BROADCAST(stats) */ doc_id, term, df
  FROM wdf CROSS JOIN stats
  WHERE df >= {_PAIR_MIN_DF} AND df * 100 <= n_docs * {_PAIR_MAX_DF_PCT}
),
pairs AS (
  SELECT a.term_a, b.term_b,
         any_value(a.df_a) AS df_a, any_value(b.df_b) AS df_b,
         count(1) AS support
  FROM (SELECT doc_id, term AS term_a, df AS df_a FROM kept) a
  JOIN (SELECT doc_id, term AS term_b, df AS df_b FROM kept) b
    ON a.doc_id = b.doc_id
  WHERE a.term_a < b.term_b
  GROUP BY a.term_a, b.term_b
)
SELECT /*+ BROADCAST(stats) */ term_a, term_b,
       CAST(support AS BIGINT) AS support,
       CAST((support * 1000) div n_docs AS BIGINT) AS support_milli,
       CAST((support * n_docs * 1000000) div (df_a * df_b) AS BIGINT) AS lift_micro
FROM pairs CROSS JOIN stats
WHERE support * 100 >= n_docs * {_PAIR_MIN_SUPPORT_PCT}
""", docs=spread(table(spark, sf_dir, "documents")))
