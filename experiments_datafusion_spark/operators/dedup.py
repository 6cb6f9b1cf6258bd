"""Deduplication operators for training-data pipelines (north-star
extension, SURVEY.md §2B last row): exact, normalized-exact, exact n-gram
Jaccard, MinHash+LSH, SimHash with banded candidate generation.

Scale design (the point of doing this on Spark):
  * all-pairs work is NEVER materialized; candidate pairs come from
    posting-list / band-bucket self-joins that shuffle on the bucket key —
    the standard MinHash-LSH shape (Broder '97; Leskovec et al., MMDS ch.3);
  * hashing is a portable md5->int64 recipe (operators/text.py:hash64) so a
    DuckDB oracle can replay the ENTIRE pipeline bit-for-bit — the LSH
    output is differential-tested, not just eyeballed;
  * SimHash banding uses t+1 bands for a Hamming threshold t (pigeonhole:
    t flips cannot touch all t+1 bands), so banded candidate generation is
    provably complete vs the brute-force oracle.
"""

from __future__ import annotations

import random

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from experiments_datafusion_spark.io import spread
from experiments_datafusion_spark.operators import text as T

# --- MinHash constants (shared with oracle-SQL generation) -----------------

MINHASH_P = 2_147_483_647  # 2^31 - 1 (Mersenne prime)
NUM_HASHES = 32
BANDS = 8
ROWS_PER_BAND = NUM_HASHES // BANDS

_rng = random.Random(42)
MINHASH_A = [_rng.randrange(1, MINHASH_P) for _ in range(NUM_HASHES)]
MINHASH_B = [_rng.randrange(0, MINHASH_P) for _ in range(NUM_HASHES)]

# --- SimHash constants -----------------------------------------------------

SIMHASH_BITS = 48  # hash64 yields 60 bits; 48 keeps 2^b safely in int64
SIMHASH_HAMMING_T = 3
SIMHASH_BANDS = SIMHASH_HAMMING_T + 1  # pigeonhole-complete banding
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS


def exact_dedup(df: DataFrame, cols: list[str]) -> DataFrame:
    """Exact dedup keeping any representative (hash-shuffle on the key)."""
    return df.dropDuplicates(cols)


# --- shingle posting lists --------------------------------------------------

def doc_shingles(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn=None,
) -> DataFrame:
    """(doc, distinct hashed shingle) posting rows — the unit all
    set-similarity ops join on. Shingles are 60-bit hashes, not strings:
    8-byte join keys shuffle ~4x less than 30-byte text 3-grams and compare
    in one instruction (collision odds over a 27k-shingle vocab are ~1e-10;
    MinHash hashes anyway). At 100 TB this is the shuffle-heavy step; it
    partitions by shingle hash — naturally high-cardinality, no skew.

    ``hash_fn`` is the hash knob (default T.hash64 = md5-derived, DuckDB
    replayable; pass T.fast_hash64 = xxhash64 for production — the join
    only tests hash equality so results are recall-identical)."""
    hash_fn = hash_fn or T.hash64
    return (
        spread(df)
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(T.shingles(F.col(text_col))).alias("sh_str"),
        )
        .select("doc_id", hash_fn(F.col("sh_str")).alias("shingle"))
    )


def jaccard_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int | None = None,
) -> DataFrame:
    """EXACT n-gram Jaccard similarity join: pairs sharing >=1 shingle are
    candidates (posting-list self-join grouped on the pair), then
    |A ∩ B| / (|A| + |B| - |A ∩ B|) filters by threshold.

    ``max_df`` is the 100 TB knob: shingles appearing in more than
    ``max_df`` documents (boilerplate headers, license blurbs — the
    posting-list join's skew AND its fan-out bomb: a shingle shared by f
    docs emits f^2/2 candidate rows) are dropped BEFORE the self-join, and
    Jaccard is computed exactly over the CAPPED shingle universe.  The
    heavy-hitter set is bounded by |hot| <= total_postings / max_df and
    ships as a broadcast anti-join — no extra shuffle.  Broadcast-safety
    caveat: that bound is only broadcast-small when max_df is LARGE (the
    production setting — hot shingles are the tiny vocabulary of truly
    frequent boilerplate).  A small max_df on a huge corpus makes the
    bound a constant fraction of all postings; in that regime drop the
    broadcast hint (Spark runs the same left_anti as a shuffled join,
    identical semantics) or let AQE demote it via
    autoBroadcastJoinThreshold.
    Semantics trade, documented: similarity that lives ONLY in
    boilerplate no longer counts (those pairs drop — usually the goal),
    while pairs whose overlap is in body text keep their score to within
    the share of capped shingles (tests/test_dedup.py pins both
    directions on a boilerplate fixture)."""
    # EAGER local checkpoint: the posting list feeds 3+ DAG branches (both
    # join sides + sizes); checkpointing computes it once instead of per
    # branch (~16s CPU per evaluation at sf0.1).  Eager, not lazy: lazy
    # checkpoints under AQE let two branches race to materialize the same
    # RDD — the losing stage attempt is canceled and its zombie tasks spam
    # "non-existent accumulator" errors (the BENCH_r01 noise).
    sh = doc_shingles(df, id_col, text_col).localCheckpoint(eager=True)
    if max_df is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") > max_df)
            .select("shingle")
        )
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti").localCheckpoint(
            eager=True
        )
    # Round 14: the post-pin chain (sizes + posting self-join + verify) is
    # ONE spark.sql() program over the pinned postings, passed in as the
    # {sh} argument — one parse+analysis pass instead of ~10 chained ops
    # (the py4j + eager-re-analysis construction floor).  Threshold is cast
    # to DOUBLE explicitly (a bare SQL 0.5 is DECIMAL); the long/long
    # division is double in both forms.  Rows proven identical.
    jac = "common / (sa.n_sh + sb.n_sh - common)"
    return df.sparkSession.sql(f"""
WITH sizes AS (SELECT doc_id, count(1) AS n_sh FROM {{sh}} GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS x, b.doc_id AS y, count(1) AS common
  FROM {{sh}} a JOIN {{sh}} b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT x, y, round({jac}, 4) AS jaccard
FROM common
JOIN sizes sa ON x = sa.doc_id
JOIN sizes sb ON y = sb.doc_id
WHERE {jac} >= CAST({threshold!r} AS DOUBLE)
""", sh=sh)


# --- MinHash + LSH ----------------------------------------------------------

def minhash_signatures_from_postings(sh: DataFrame) -> DataFrame:
    """K=32 minhash values per doc from (doc_id, shingle-hash) postings:
    h_i(s) = (a_i * (s mod P) + b_i) mod P, minimized over the doc's
    shingles. One shuffle (groupBy doc)."""
    h = F.col("shingle") % MINHASH_P
    mins = [
        F.min((F.lit(MINHASH_A[i]) * h + F.lit(MINHASH_B[i])) % MINHASH_P).alias(f"mh{i}")
        for i in range(NUM_HASHES)
    ]
    return sh.groupBy("doc_id").agg(*mins)


def _band_hash(band: int) -> Column:
    cols = [
        F.col(f"mh{band * ROWS_PER_BAND + r}").cast("string") for r in range(ROWS_PER_BAND)
    ]
    out = cols[0]
    for c in cols[1:]:
        out = F.concat(out, F.lit(","), c)
    return F.md5(out)


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MinHash-LSH near-dup join: band the signature (8 bands x 4 rows),
    bucket-join on (band, band_hash) for candidates, then verify ONLY the
    candidates with exact Jaccard.

    Plan shape: signatures computed once, bands emitted in one pass via
    posexplode (not an 8-way union that would recompute the aggregation);
    the bucket self-join shuffles on (band, band_hash) — high cardinality,
    no skew; verification joins candidates back to the posting lists."""
    sh = doc_shingles(df, id_col, text_col).localCheckpoint(eager=True)
    # sig is NOT pinned (round 13): its only consumer is the bands
    # self-join, whose two sides are the same canonical subtree — the
    # signature aggregate's exchange is computed once and read twice via
    # exchange reuse, so an eager checkpoint here only added a blocking
    # job.  A/B at sf0.1 (3 reps): pin-both best 2.11 s, pin-sh-only best
    # 1.72 s, pin-none 2.01 s (sh has two real consumers — sig and the
    # verify join — so ITS pin earns the md5 shingle scan once).
    # Round 14: the whole post-pin pipeline (signatures -> bands ->
    # candidate bucket join -> exact-Jaccard verify) is ONE spark.sql()
    # program over the pinned postings — one parse+analysis pass
    # instead of the ~20-op chain whose 32 min-expressions and 8 md5 band
    # hashes dominated this key's Python-side construction (~1.3-1.7 s at
    # sf0.1).  Expression replicas: the flat SQL concat equals the nested
    # DF concat on strings; integer minhash arithmetic is term-identical.
    mins = ",\n         ".join(
        f"min(({MINHASH_A[i]} * (shingle % {MINHASH_P}) + {MINHASH_B[i]})"
        f" % {MINHASH_P}) AS mh{i}"
        for i in range(NUM_HASHES)
    )
    band_exprs = ", ".join(
        "md5(concat("
        + ", ',', ".join(
            f"CAST(mh{j * ROWS_PER_BAND + r} AS STRING)" for r in range(ROWS_PER_BAND)
        )
        + "))"
        for j in range(BANDS)
    )
    jac = "common / (sa.n_sh + sb.n_sh - common)"
    return df.sparkSession.sql(f"""
WITH sig AS (
  SELECT doc_id,
         {mins}
  FROM {{sh}} GROUP BY doc_id
),
bands AS (
  SELECT doc_id, posexplode(array({band_exprs})) AS (band, bh) FROM sig
),
cand AS (
  SELECT DISTINCT a.doc_id AS x, b.doc_id AS y
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(1) AS n_sh FROM {{sh}} GROUP BY doc_id),
common AS (
  SELECT x, y, count(1) AS common
  FROM cand c
  JOIN {{sh}} a ON c.x = a.doc_id
  JOIN {{sh}} b ON c.y = b.doc_id AND a.shingle = b.shingle
  GROUP BY x, y
)
SELECT x, y, round({jac}, 4) AS jaccard
FROM common
JOIN sizes sa ON x = sa.doc_id
JOIN sizes sb ON y = sb.doc_id
WHERE {jac} >= CAST({threshold!r} AS DOUBLE)
""", sh=sh)


# --- SimHash ----------------------------------------------------------------

def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """48-bit SimHash over whitespace tokens (with multiplicity): per bit,
    sum +1/-1 votes of each token's hash bit; bit set iff the sum is
    positive (Charikar '02)."""
    tok = spread(df).select(
        F.col(id_col).alias("doc_id"),
        F.explode(T.words(F.col(text_col))).alias("w"),
    ).withColumn("h", T.hash64(F.col("w")))
    votes = [
        F.sum(2 * F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) - 1).alias(f"s{b}")
        for b in range(SIMHASH_BITS)
    ]
    agg = tok.groupBy("doc_id").agg(*votes)
    sim = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
        sim = term if sim is None else sim + term
    return agg.select("doc_id", sim.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    hamming_t: int = SIMHASH_HAMMING_T,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= t via banded candidate
    generation: t+1 disjoint bit-chunks; any pair within t flips shares at
    least one intact chunk (pigeonhole), so the bucket-join is complete —
    no quadratic scan."""
    sig = simhash(df, id_col, text_col).localCheckpoint(eager=True)
    chunk_exprs = [
        F.shiftright(F.col("simhash"), j * SIMHASH_BAND_BITS).bitwiseAND(
            F.lit((1 << SIMHASH_BAND_BITS) - 1)
        )
        for j in range(SIMHASH_BANDS)
    ]
    # one pass over the signatures (posexplode), not a t+1-way union
    chunks = sig.select(
        "doc_id", "simhash", F.posexplode(F.array(*chunk_exprs)).alias("band", "ck")
    )
    a = chunks.alias("a")
    b = chunks.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.ck") == F.col("b.ck"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where(ham <= hamming_t)
        .select(
            F.col("a.doc_id").alias("x"),
            F.col("b.doc_id").alias("y"),
            ham.cast("bigint").alias("hamming"),
        )
        .distinct()
    )
