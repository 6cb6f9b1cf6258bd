"""Round-7 operators: BPE tokenizer-merge training + corpus tokenization
(the tokenizer dataflow a 100 TB text pipeline runs before anything else),
snapshot VACUUM and right-to-be-forgotten DELETE (the retention and
governance halves of the time-travel story), and the perceptual-dedup
family — image dHash pairs and audio energy-contour fingerprint pairs,
both real-decode + pigeonhole-complete banded Hamming joins.

Same contract as every other module: each key is the Spark plan you would
ship at 100 TB with a DuckDB oracle replaying the semantics exactly; all
counts are exact integers, so nothing can diverge on accumulation order."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from experiments_datafusion_spark.io import materialize_then_rmtree, table
from experiments_datafusion_spark.queries import register

# ---- BPE merge training -------------------------------------------------------
#
# Byte-pair-encoding training (Sennrich et al. '16) with BATCHED merge
# selection (round 9; VERDICT r7/r8 ask): per counting round, rank adjacent
# symbol pairs (weighted by word freq, count desc then pair asc), then
# accept up to `need` candidates under the BLOCKING RULE — a candidate is
# accepted iff it shares NO symbol with any HIGHER-RANKED candidate in the
# top-_BPE_CAND window.  Accepted pairs are mutually symbol-disjoint, so
# (a) no pair's application can create or destroy another's occurrences —
# merging (a,b) joins an `a` to a `b`, which can neither make two other
# symbols adjacent nor consume them — and (b) matches of different pairs
# are never at consecutive positions (that would force a shared symbol),
# so the even-offset run rule below applies per pair unchanged.  Applying
# the batch in ONE window pass therefore equals applying its pairs
# sequentially, and each round needs ONE counting job + ONE O(1) collect
# (the SentencePiece-style batching; sequential argmax was 3 collects).
# On the fixture the top-16 window always yields 3 disjoint pairs, so
# training is a single counting round; the worst case is _BPE_ROUNDS
# rounds (rank-1 is always accepted, so >=1 merge per round).
#
# The relational trick that makes the merge application a PLAIN WINDOW
# dataflow (no per-row fold, same plan in both engines): for pair (a, b) a
# position merges iff it matches and sits at an EVEN OFFSET within its run
# of consecutive matches — for a != b runs are singletons (a match at i
# forces s[i+1] = b != a, so i+1 cannot match) and every match merges; for
# a == b a run of L equal symbols merges floor(L/2) pairs exactly like the
# greedy scan.  Within a batch, runs of consecutive matches are always
# same-pair (disjointness), so the rule is computed once over the union of
# matches.
#
# Scale shape: pair counting is the canonical tokenizer-training shuffle
# (groupBy pair, sum freq) over the DISTINCT-WORD table (corpus-frequency
# weighted — orders of magnitude smaller than the corpus); candidate
# selection is O(1) driver state per round (the kmeans/PQ-trainer
# pattern); merge application is a per-word window pass, embarrassingly
# parallel.  A corpus with no adjacent pairs at all (every word one char)
# trains zero merges and degrades to the vocabulary report — same behavior
# in the DuckDB oracle, which unrolls the identical idempotent program.

_BPE_ROUNDS = 3
_BPE_TOPK = 10  # final-vocab report rows
_BPE_CAND = 16  # ranked-candidate window per counting round (both engines)


def _bpe_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(w, freq, pos, sym): each distinct word exploded to dense 1-based
    character positions, carrying its corpus frequency.  Round 14: one
    spark.sql() program (identical tree, one analysis pass)."""
    return spark.sql("""
SELECT w, freq, p0 + 1 AS pos, sym FROM (
  SELECT w, freq,
         posexplode(transform(sequence(1, length(w)),
                              i -> substring(w, i, 1))) AS (p0, sym)
  FROM (
    SELECT w, count(1) AS freq FROM (
      SELECT explode(filter(split(text, '\\\\s+'), x -> x != '')) AS w
      FROM {docs}
    ) GROUP BY w
  )
)
""", docs=table(spark, sf_dir, "documents").select("text"))


def _bpe_rank_candidates(sym: DataFrame) -> list[tuple[str, str, int]]:
    """Top-``_BPE_CAND`` adjacent pairs (weighted by word freq, count desc
    then pair asc) — one shuffle + an O(1) driver collect.  Empty when the
    corpus has no adjacent pairs at all (degenerate all-1-char input):
    the caller stops training instead of raising (VERDICT r8 defect #4 —
    the old argmax IndexError'd where the oracle degraded gracefully).
    Round 14: one spark.sql() program per counting round (the merge APPLY
    stays a DataFrame chain — its pair literals come from corpus text and
    belong in Column objects, not interpolated SQL)."""
    rows = sym.sparkSession.sql(f"""
SELECT sym, nxt, cnt FROM (
  SELECT sym, nxt, sum(freq) AS cnt FROM (
    SELECT freq, sym, lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt
    FROM {{sym}}
  ) WHERE nxt IS NOT NULL GROUP BY sym, nxt
)
ORDER BY cnt DESC, sym, nxt
LIMIT {_BPE_CAND}
""", sym=sym).collect()
    return [(r["sym"], r["nxt"], int(r["cnt"])) for r in rows]


def _bpe_select_batch(
    cand: list[tuple[str, str, int]], need: int
) -> list[tuple[str, str, int]]:
    """Blocking rule over the ranked candidate window: a candidate is
    accepted iff it shares no symbol with ANY higher-ranked candidate;
    the first ``need`` accepted (in rank order) form the batch.  Pure
    driver arithmetic on <= _BPE_CAND rows, replayed in SQL as an
    anti-join on the same window (t{i} CTEs)."""
    out: list[tuple[str, str, int]] = []
    for i, (a, b, cnt) in enumerate(cand):
        blocked = any(x in (a, b) for a2, b2, _ in cand[:i] for x in (a2, b2))
        if not blocked:
            out.append((a, b, cnt))
            if len(out) == need:
                break
    return out


def _bpe_apply_batch(
    sym: DataFrame, pairs: list[tuple[str, str, int]]
) -> DataFrame:
    """Merge the greedy non-overlapping occurrences of every pair in one
    symbol-disjoint batch via a SINGLE even-offset-run window pass;
    positions re-densified.  Disjointness guarantees runs of consecutive
    matches are same-pair, so one run key serves the whole batch (module
    comment)."""
    if not pairs:
        return sym
    win = Window.partitionBy("w").orderBy("pos")
    mt = F.lit(False)
    for a, b, _cnt in pairs:
        mt = mt | ((F.col("sym") == a) & (F.col("nxt") == b))
    m = sym.withColumn("nxt", F.lead("sym").over(win)).withColumn("mt", mt)
    # run key: pos minus the running match count is constant inside a run
    # of consecutive matches (positions are dense)
    m = m.withColumn(
        "rk", F.col("pos") - F.sum(F.when(F.col("mt"), 1).otherwise(0)).over(win)
    )
    mwin = Window.partitionBy("w", "mt", "rk").orderBy("pos")
    m = m.withColumn(
        "do_merge", F.col("mt") & ((F.row_number().over(mwin) - 1) % 2 == 0)
    ).withColumn("consumed", F.coalesce(F.lag("do_merge").over(win), F.lit(False)))
    out = (
        m.where(~F.col("consumed"))
        .select(
            "w",
            "freq",
            "pos",
            F.when(F.col("do_merge"), F.concat(F.col("sym"), F.col("nxt")))
            .otherwise(F.col("sym"))
            .alias("sym"),
        )
        .withColumn("pos", F.row_number().over(Window.partitionBy("w").orderBy("pos")))
    )
    return out


def _bpe_train_merges(sym: DataFrame) -> tuple[DataFrame, list[tuple[str, str, int]]]:
    """Run the batched training loop: at most ``_BPE_ROUNDS`` counting
    rounds (>= 1 merge accepted per non-empty round), stopping early when
    ``_BPE_ROUNDS`` merges are learned or no pairs remain.  Returns the
    final symbol table and the merges in selection order — the exact
    program the oracle unrolls as _BPE_ROUNDS idempotent iterations."""
    merges: list[tuple[str, str, int]] = []
    for _ in range(_BPE_ROUNDS):
        cand = _bpe_rank_candidates(sym)
        if not cand:
            break
        batch = _bpe_select_batch(cand, _BPE_ROUNDS - len(merges))
        merges.extend(batch)
        sym = _bpe_apply_batch(sym, batch)
        if len(merges) >= _BPE_ROUNDS:
            # done training: the applied table flows lazily into the ONE
            # downstream consumer (vocab / wtok aggregate), so the final
            # round's eager checkpoint was a pure blocking job (round 14)
            break
        # mid-loop: the applied table feeds two SEQUENTIAL jobs (the next
        # round's candidate collect, then the next apply) — pin it so the
        # window chain isn't recomputed per round (eager, not lazy: the
        # dedup.py zombie-race note)
        sym = sym.localCheckpoint(eager=True)
    return sym, merges


def _bpe_train_ctes() -> str:
    """The shared WITH-body: word freqs, char symbols, and _BPE_ROUNDS
    chained IDEMPOTENT batched iterations ending in CTE ``s{_BPE_ROUNDS}``
    (the final symbol table) with ``t{i}`` holding round i's accepted
    batch (empty once _BPE_ROUNDS merges are selected — the LEFT JOIN
    makes an empty batch a no-op pass, so the unrolled program equals the
    early-stopping Spark loop, including on degenerate corpora with no
    pairs at all)."""
    sym_cte = """wf AS (
  SELECT w, count(*) AS freq FROM (
    SELECT unnest(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS w
    FROM documents
  ) GROUP BY w
),
s0 AS (
  SELECT w, freq, p.i AS pos, substr(w, p.i, 1) AS sym
  FROM wf, UNNEST(generate_series(1, len(w))) AS p(i)
)"""

    def iteration(i: int) -> str:
        s, t, nxt = f"s{i - 1}", f"t{i}", f"s{i}"
        prev_sel = " - ".join(
            ["0"] + [f"(SELECT count(*) FROM t{j})" for j in range(1, i)]
        )
        need = f"{_BPE_ROUNDS} + ({prev_sel})"
        return f"""p{i} AS (
  SELECT w, freq, pos, sym,
         lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt
  FROM {s}
),
c{i} AS (
  SELECT sym AS a, nxt AS b, CAST(sum(freq) AS BIGINT) AS cnt
  FROM p{i} WHERE nxt IS NOT NULL
  GROUP BY sym, nxt
),
g{i} AS (
  SELECT a, b, cnt, row_number() OVER (ORDER BY cnt DESC, a, b) AS rn
  FROM c{i}
  QUALIFY rn <= {_BPE_CAND}
),
{t} AS (
  SELECT a, b, cnt, rn,
         row_number() OVER (ORDER BY rn) AS sel_rn
  FROM g{i} x
  WHERE NOT EXISTS (
    SELECT 1 FROM g{i} y
    WHERE y.rn < x.rn AND (y.a IN (x.a, x.b) OR y.b IN (x.a, x.b))
  )
  QUALIFY sel_rn <= {need}
),
m{i} AS (
  SELECT p.w, p.freq, p.pos, p.sym, p.nxt, (t.a IS NOT NULL) AS mt
  FROM p{i} p LEFT JOIN {t} t ON p.sym = t.a AND p.nxt = t.b
),
r{i} AS (
  SELECT *, pos - sum(CASE WHEN mt THEN 1 ELSE 0 END)
                  OVER (PARTITION BY w ORDER BY pos) AS rk
  FROM m{i}
),
d{i} AS (
  SELECT *, (mt AND (row_number() OVER (PARTITION BY w, mt, rk ORDER BY pos) - 1) % 2 = 0)
              AS do_merge
  FROM r{i}
),
k{i} AS (
  SELECT *, coalesce(lag(do_merge) OVER (PARTITION BY w ORDER BY pos), FALSE)
              AS consumed
  FROM d{i}
),
{nxt} AS (
  SELECT w, freq,
         row_number() OVER (PARTITION BY w ORDER BY pos) AS pos,
         CASE WHEN do_merge THEN sym || nxt ELSE sym END AS sym
  FROM k{i} WHERE NOT consumed
)"""

    its = ",\n".join(iteration(i) for i in range(1, _BPE_ROUNDS + 1))
    return f"{sym_cte},\n{its}"


def _bpe_oracle() -> str:
    merge_rows = "\nUNION ALL\n".join(
        f"SELECT {i} AS rnd, sel_rn, a, b, CAST(cnt AS BIGINT) AS cnt FROM t{i}"
        for i in range(1, _BPE_ROUNDS + 1)
    )
    return f"""
WITH {_bpe_train_ctes()},
allsel AS (
  {merge_rows}
),
mranked AS (
  SELECT row_number() OVER (ORDER BY rnd, sel_rn)::BIGINT AS rank,
         a AS "left", b AS "right", cnt
  FROM allsel
),
n_merges AS (SELECT count(*) AS n FROM allsel),
vocab AS (
  SELECT sym, CAST(sum(freq) AS BIGINT) AS cnt FROM s{_BPE_ROUNDS} GROUP BY sym
),
topv AS (
  SELECT sym, cnt, row_number() OVER (ORDER BY cnt DESC, sym) AS rnk
  FROM vocab
)
SELECT * FROM (
  SELECT rank, "left", "right", cnt FROM mranked
  UNION ALL
  SELECT ((SELECT n FROM n_merges) + rnk)::BIGINT, sym, NULL, cnt FROM topv
  WHERE rnk <= {_BPE_TOPK}
)
"""


@register(
    "text_bpe_train",
    tags=("llm", "text", "tokenizer", "iterative"),
    oracle=_bpe_oracle(),
)
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer-merge TRAINING with batched selection: adjacent-pair
    counting over the corpus-frequency-weighted distinct-word table ->
    blocking-rule batch of up to 3 symbol-disjoint top pairs (count desc,
    pair asc — exact-integer ties; module comment for why batch == the
    sequential application) -> greedy
    left-to-right non-overlapping merge applied as a pure window dataflow
    (the even-offset-within-run rule; see the module comment for why that
    equals the greedy scan), repeated.  Output: the 3 learned merges
    (rank, left, right, weighted pair count) plus the top-10 tokens of the
    post-merge vocabulary — the latter computed distributively from the
    final symbol table, so the oracle verifies the merge APPLICATIONS, not
    just the argmax choices.  The DuckDB oracle replays all 3 rounds as
    one chained-CTE program with zero driver state."""
    sym = _bpe_symbols(spark, sf_dir).localCheckpoint(eager=True)
    sym, merges = _bpe_train_merges(sym)
    vocab = (
        sym.groupBy("sym")
        .agg(F.sum("freq").cast("bigint").alias("cnt"))
        .orderBy(F.desc("cnt"), "sym")
        .limit(_BPE_TOPK)
        .select(
            (
                F.lit(len(merges))
                + F.row_number().over(
                    Window.orderBy(F.desc("cnt"), "sym")
                )
            ).cast("bigint").alias("rank"),
            F.col("sym").alias("left"),
            F.lit(None).cast("string").alias("right"),
            "cnt",
        )
    )
    mdf = spark.createDataFrame(
        [(i + 1, a, b, cnt) for i, (a, b, cnt) in enumerate(merges)],
        "rank bigint, left string, right string, cnt bigint",
    )
    return mdf.unionByName(vocab)


# ---- snapshot VACUUM (the retention half of time travel) ----------------------

_VAC_CUT = "1995-06-01"


def vacuum_unreferenced(root: str, live_files: set[str]) -> list[str]:
    """Delete every data file under ``root`` that the live manifest does
    not reference; returns the removed paths.  This is all a lakehouse
    VACUUM is: the manifest pins the live version's immutable files, and
    retention reclaims everything copy-on-write left behind.  Driver-side
    file ops by design — at scale this is a metadata walk over the
    manifest diff, never a data read."""
    import os

    removed = []
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            if f.endswith(".parquet") and p not in live_files:
                os.remove(p)
                removed.append(p)
    return removed


@register(
    "table_vacuum",
    tags=("io", "maintenance", "dimensional"),
    oracle=f"""
WITH v1 AS (
  SELECT o_custkey AS k, o_orderstatus AS status,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_c
  FROM orders
  QUALIFY row_number() OVER (PARTITION BY o_custkey
                             ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
)
SELECT status,
       CAST(count(*) AS BIGINT)     AS n,
       CAST(sum(price_c) AS BIGINT) AS price_units
FROM v1 GROUP BY status
""",
)
def table_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot VACUUM — the retention pass that completes the
    time-travel story: materialize v0 (pre-cutover latest state), merge
    the changelog copy-on-write into v1 (all-new files; v0 untouched),
    then vacuum every data file the LIVE manifest (v1) does not reference
    and read the surviving table.  The oracle recomputes v1's state from
    raw orders, proving the vacuum removed ONLY dead files; the pytest
    twin (tests/test_round7.py) additionally pins that v0's files are
    gone, the old version no longer reads, and exactly v1's file set
    survives.  Snapshot plumbing lives in operators/table_format.py
    (SnapshotLog.vacuum = the same manifest-diff walk, now driven by the
    log instead of a hand-built live set) since round 10."""
    import tempfile

    from experiments_datafusion_spark.operators.table_format import (
        SnapshotLog,
        merge_upsert,
    )

    root = tempfile.mkdtemp(prefix="vacuum_")
    log = SnapshotLog(root)
    orders = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )

    def latest(df):
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select(
                F.col("o_custkey").alias("k"),
                F.col("o_orderstatus").alias("status"),
                F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("price_c"),
            )
        )

    log.commit(latest(orders.where(F.col("o_orderdate") < _VAC_CUT)), note="v0")
    changes = latest(orders.where(F.col("o_orderdate") >= _VAC_CUT))
    log.commit(merge_upsert(log.read(spark, 0), changes, key="k"), note="merge")
    log.vacuum(keep={1})
    out = (
        log.read(spark, 1)
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("price_c").cast("bigint").alias("price_units"),
        )
    )
    return materialize_then_rmtree(out, root)


def _bpe_apply_oracle() -> str:
    return f"""
WITH {_bpe_train_ctes()},
wtok AS (
  SELECT w, CAST(count(*) AS BIGINT) AS n_tok FROM s{_BPE_ROUNDS} GROUP BY w
),
docw AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS w
  FROM documents
)
SELECT d.doc_id,
       CAST(count(*) AS BIGINT)        AS n_words,
       CAST(sum(t.n_tok) AS BIGINT)    AS n_tokens,
       CAST(sum(len(d.w)) AS BIGINT)   AS n_chars,
       CAST(sum(t.n_tok) * 1000 // sum(len(d.w)) AS BIGINT) AS tok_per_kchar
FROM docw d JOIN wtok t USING (w)
GROUP BY d.doc_id
"""


@register(
    "text_bpe_apply",
    tags=("llm", "text", "tokenizer"),
    oracle=_bpe_apply_oracle(),
)
def text_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKENIZE the corpus with the trained BPE merges — the apply half of
    text_bpe_train, and the honest way a tokenizer runs at 100 TB: the
    merge loop touches only the DISTINCT-WORD table (orders of magnitude
    smaller than the corpus), producing a word -> token-count dictionary
    that joins back to the corpus' word occurrences (a broadcast-size
    dictionary at real vocabulary sizes).  Output per document: word,
    BPE-token and character counts plus exact integer tokens-per-kilochar
    — the token-budget signal text_token_budget estimates with a regex,
    now computed from an actual learned tokenizer.  The oracle replays
    training AND application in one chained-CTE program.  Batched
    selection makes the embedded training a single counting round + one
    O(1) collect on the fixture (VERDICT r7/r8 ask: the old per-merge
    argmax floor dominated this key's bench time)."""
    sym = _bpe_symbols(spark, sf_dir).localCheckpoint(eager=True)
    sym, _merges = _bpe_train_merges(sym)
    wtok = sym.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("n_tok"))
    docs = table(spark, sf_dir, "documents")
    docw = docs.select(
        "doc_id",
        F.explode(F.filter(F.split("text", r"\s+"), lambda x: x != "")).alias("w"),
    )
    return (
        docw.join(F.broadcast(wtok), "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
            F.sum(F.length("w")).cast("bigint").alias("n_chars"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_tokens",
            "n_chars",
            F.expr("(n_tokens * 1000) div n_chars").cast("bigint").alias("tok_per_kchar"),
        )
    )


# ---- perceptual-hash image near-dup pairs --------------------------------------
#
# The multimodal dedup tier beyond byte checksums (mm_dedup_payload catches
# only exact copies): decode the REAL PNG payloads, nearest-neighbor
# 8x8 thumbnail (the resize_thumbnail kernel), difference-hash the
# horizontal gradients (8 rows x 7 comparisons = 56 bits — dHash, invariant
# to constant brightness shifts), and pair images at Hamming <= 3 via
# PIGEONHOLE-COMPLETE banding: 4 disjoint 14-bit chunks, a pair within 3
# flips shares >= 1 intact chunk, so the bucket join provably finds every
# pair — never all-pairs (the simhash_pairs argument applied to images).
# The corpus is built with REAL near-dup family structure (the shared
# attach_png_media ramp degenerates here: its gradients are monotone, so
# every image dHashes alike and all pairs match — observed, rejected):
# family f = doc_id % 200 fixes dimensions and a quadratic pixel pattern;
# members differ by a small constant brightness shift (doc_id % 7).  Same
# family => near-identical dHash (brightness invariance; only mod-256 wrap
# positions flip), different family => different dims sample different
# quadratic values => diverse hashes.  Checksums see family members as
# DISTINCT files; the perceptual tier pairs them.

_PH_BITS = 56
_PH_T = 3
_PH_BANDS = _PH_T + 1  # pigeonhole-complete
_PH_BAND_BITS = _PH_BITS // _PH_BANDS
_PH_FAMILIES = 200


def _phash_params(doc_id: int) -> tuple[int, int, int, int]:
    """(w, h, base, shift): family-determined dims + pattern offset, plus
    the per-member brightness shift."""
    f = doc_id % _PH_FAMILIES
    return 16 + f % 17, 16 + f % 13, (f * 31) % 256, doc_id % 7


def _phash_coef(doc_id: int) -> int:
    """Family-dependent odd quadratic coefficient: distinct families get
    distinct gradient patterns, not just shifted copies of one ramp."""
    return 3 + 2 * (doc_id % _PH_FAMILIES)


def attach_phash_png_media(docs: DataFrame) -> DataFrame:
    """REAL PNG payloads with near-dup family structure:
    pixel[k] = (base + shift + coef(f)*k*k) % 256 over family dims."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from experiments_datafusion_spark.operators.multimodal import _encode_png_gray8

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                w, h, base, shift = _phash_params(int(did))
                k = np.arange(w * h, dtype=np.int64)
                px = ((base + shift + _phash_coef(int(did)) * k * k) % 256).reshape(h, w)
                payloads.append(_encode_png_gray8(px))
            yield pd.DataFrame({"media_id": pdf["doc_id"], "payload": payloads})

    return docs.select("doc_id").mapInPandas(gen, "media_id bigint, payload binary")


def _dhash_media(media: DataFrame) -> DataFrame:
    """(media_id, dhash): REAL PNG decode -> 8x8 NN thumbnail -> 56-bit
    horizontal-gradient hash, per Arrow batch."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from experiments_datafusion_spark.operators.multimodal import _decode_png_gray8

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        s = 8
        for pdf in batches:
            out = {"media_id": [], "dhash": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                w, h, px = _decode_png_gray8(bytes(payload))
                img = px.reshape(h, w)
                yi = (np.arange(s, dtype=np.int64) * h) // s
                xj = (np.arange(s, dtype=np.int64) * w) // s
                thumb = img[np.ix_(yi, xj)].astype(np.int64)
                bits = (thumb[:, 1:] > thumb[:, :-1]).astype(np.int64)  # 8x7
                val = int((bits.reshape(-1) << np.arange(_PH_BITS)).sum())
                out["media_id"].append(mid)
                out["dhash"].append(val)
            yield pd.DataFrame(out)

    return media.mapInPandas(run, "media_id bigint, dhash bigint")


def _phash_oracle() -> str:
    # thumbnail sample (i, j) of doc d: value (c + 3*idx^2) % 256 with
    # idx(i, j) = ((i*h)//8)*w + (j*w)//8 and c = base + shift
    # (attach_phash_png_media's closed form); dHash bit (i, j) compares
    # the j+1 and j samples of row i.
    def tval(i: int, j: int) -> str:
        return (
            f"(c + q * ((({i}*h)//8)*w + (({j}*w)//8)) "
            f"* ((({i}*h)//8)*w + (({j}*w)//8))) % 256"
        )

    bit_terms = " + ".join(
        f"(CASE WHEN {tval(i, j + 1)} > {tval(i, j)} "
        f"THEN {1 << (i * 7 + j)} ELSE 0 END)"
        for i in range(8)
        for j in range(7)
    )
    return f"""
WITH d AS (
  SELECT doc_id,
         16 + (doc_id % {_PH_FAMILIES}) % 17 AS w,
         16 + (doc_id % {_PH_FAMILIES}) % 13 AS h,
         ((doc_id % {_PH_FAMILIES}) * 31) % 256 + doc_id % 7 AS c,
         3 + 2 * (doc_id % {_PH_FAMILIES}) AS q
  FROM documents
),
hashes AS (
  SELECT doc_id, CAST({bit_terms} AS BIGINT) AS dh FROM d
)
SELECT a.doc_id AS x, b.doc_id AS y,
       CAST(bit_count(xor(a.dh, b.dh)) AS BIGINT) AS hamming
FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.dh, b.dh)) <= {_PH_T}
"""


@register(
    "mm_phash_pairs",
    tags=("llm", "multimodal", "dedup", "similarity"),
    oracle=_phash_oracle(),
)
def mm_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image NEAR-dup pairs by perceptual hash — the dedup tier byte
    checksums cannot reach: decode the real PNG payloads, 8x8-thumbnail,
    56-bit dHash (horizontal gradients; constant-brightness invariant),
    then pair at Hamming <= 3 via pigeonhole-complete 4-band bucketing —
    a pair within 3 flips shares an intact 14-bit chunk, so the banded
    join provably finds every pair without an all-pairs scan.  The corpus
    carries genuine near-dup structure (brightness-shifted family members
    whose CHECKSUMS differ — see the module comment).  The oracle replays
    the thumbnails' closed-form pixel algebra and brute-forces all pairs,
    so the differential check proves BOTH the real-decode hash values and
    the banding's completeness."""
    media = attach_phash_png_media(table(spark, sf_dir, "documents"))
    # The eager pin on the decoded hashes stays (PNG decode feeds both
    # sides of the banded self-join); round 14 builds the post-pin chain
    # as ONE spark.sql() program — integer shift/mask/xor expressions are
    # dialect-identical, rows proven identical.
    hashes = _dhash_media(media).localCheckpoint(eager=True)
    mask = (1 << _PH_BAND_BITS) - 1
    chunk_sql = ", ".join(
        f"(shiftright(dhash, {k * _PH_BAND_BITS}) & {mask})" for k in range(_PH_BANDS)
    )
    return spark.sql(f"""
WITH chunks AS (
  SELECT media_id, dhash, posexplode(array({chunk_sql})) AS (band, ck)
  FROM {{hashes}}
)
SELECT DISTINCT a.media_id AS x, b.media_id AS y,
       CAST(bit_count(a.dhash ^ b.dhash) AS BIGINT) AS hamming
FROM chunks a JOIN chunks b
  ON a.band = b.band AND a.ck = b.ck AND a.media_id < b.media_id
WHERE bit_count(a.dhash ^ b.dhash) <= {_PH_T}
""", hashes=hashes)


# ---- right-to-be-forgotten delete (data governance) ----------------------------

_RTBF_MOD = 101  # forget custkeys ≡ 0 (mod 101) — deterministic cohort


@register(
    "table_delete_compliance",
    tags=("io", "maintenance", "governance"),
    oracle=f"""
WITH c AS (
  SELECT count(*) AS before_n,
         CAST(sum(CASE WHEN c_custkey % {_RTBF_MOD} = 0 THEN 1 ELSE 0 END) AS BIGINT) AS del_n,
         CAST(sum(CASE WHEN c_custkey % {_RTBF_MOD} <> 0 THEN c_custkey ELSE 0 END) AS BIGINT) AS key_sum
  FROM customer
),
o AS (
  SELECT count(*) AS before_n,
         CAST(sum(CASE WHEN o_custkey % {_RTBF_MOD} = 0 THEN 1 ELSE 0 END) AS BIGINT) AS del_n,
         CAST(sum(CASE WHEN o_custkey % {_RTBF_MOD} <> 0 THEN o_custkey ELSE 0 END) AS BIGINT) AS key_sum
  FROM orders
)
SELECT 'customer' AS tbl, CAST(before_n AS BIGINT) AS rows_before,
       CAST(before_n - del_n AS BIGINT) AS rows_after, del_n AS deleted,
       0::BIGINT AS remaining_forgotten, key_sum FROM c
UNION ALL
SELECT 'orders', CAST(before_n AS BIGINT), CAST(before_n - del_n AS BIGINT),
       del_n, 0::BIGINT, key_sum FROM o
""",
)
def table_delete_compliance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten DELETE — the compliance dataflow every
    lakehouse needs: a deterministic cohort of customers is erased from
    BOTH the dimension and its fact table by copy-on-write rewrite
    (anti-filter -> new immutable snapshot; the original files are never
    edited), and the audit row per table is computed by READING THE
    REWRITE BACK — rows_after, a content-sensitive surviving-key checksum,
    and remaining_forgotten (provably 0) all come from the new files, so
    the oracle's raw-table arithmetic genuinely verifies the rewrite
    dropped exactly the cohort and nothing else.  At 100 TB this is the
    standard DELETE pattern: partition-pruned rewrite of affected files
    plus a manifest swap (table_vacuum reclaims the old ones).  Snapshot
    plumbing lives in operators/table_format.py since round 10 — one
    SnapshotLog per table, the rewrite is a commit.  The PRUNED rewrite
    this docstring appeals to is demonstrated with machine evidence by
    round10.table_delete_pruned (manifest-pruned affected set +
    commit_rewrite carrying untouched files by reference); this key keeps
    the cross-table erasure + audit shape."""
    import tempfile

    from experiments_datafusion_spark.operators.table_format import SnapshotLog

    root = tempfile.mkdtemp(prefix="rtbf_")
    out = []
    for tbl, key in (("customer", "c_custkey"), ("orders", "o_custkey")):
        df = table(spark, sf_dir, tbl)
        before = df.count()
        kept = df.where(F.col(key) % _RTBF_MOD != 0)
        log = SnapshotLog(f"{root}/{tbl}")
        v = log.commit(kept, note="RTBF copy-on-write rewrite")
        back = log.read(spark, v)
        audit = back.agg(
            F.count(F.lit(1)).alias("rows_after"),
            F.sum(F.when(F.col(key) % _RTBF_MOD == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("remaining_forgotten"),
            F.sum(key).cast("bigint").alias("key_sum"),
        ).withColumns(
            {
                "tbl": F.lit(tbl),
                "rows_before": F.lit(before).cast("bigint"),
            }
        )
        out.append(
            audit.select(
                "tbl",
                "rows_before",
                F.col("rows_after").cast("bigint"),
                (F.lit(before) - F.col("rows_after")).cast("bigint").alias("deleted"),
                F.coalesce(F.col("remaining_forgotten"), F.lit(0)).alias(
                    "remaining_forgotten"
                ),
                "key_sum",
            )
        )
    return materialize_then_rmtree(out[0].unionByName(out[1]), root)


# ---- audio fingerprint near-dup pairs ------------------------------------------
#
# The audio member of the perceptual-dedup family (mm_phash_pairs is the
# image one): REAL RIFF/WAVE payloads decoded with the stdlib wave codec,
# mean-abs energy per 25-sample frame, then a 32-bit energy-CONTOUR hash
# (sign of consecutive-frame deltas — the shape of Haitsma-Kalker /
# Shazam-class fingerprints, invariant to small level shifts) paired at
# Hamming <= 3 via pigeonhole-complete 4x8-bit banding.  Family structure:
# family f = doc_id % 150 fixes the waveform coefficient; members differ
# by a small DC offset (doc_id % 7), so byte checksums differ while the
# contour stays near-identical.

_AF_FRAME = 25
_AF_NFRAMES = 33  # -> 32 delta bits
_AF_BITS = _AF_NFRAMES - 1
_AF_T = 3
_AF_BANDS = _AF_T + 1
_AF_BAND_BITS = _AF_BITS // _AF_BANDS
_AF_FAMILIES = 150


def _af_params(doc_id: int) -> tuple[int, int]:
    """(coef, dc): family waveform coefficient + member DC offset."""
    # dc modulus 7 is COPRIME with the family count 150, so family
    # members genuinely differ in dc (did%5 made them all equal — caught
    # by the vacuousness guard in tests/test_round7.py)
    return 17 + 2 * (doc_id % _AF_FAMILIES), doc_id % 7


def attach_fingerprint_wav_media(docs: DataFrame) -> DataFrame:
    """REAL PCM16 WAV payloads with a family-specific per-frame amplitude
    ENVELOPE (the thing the contour hash actually fingerprints):
    sample[i] = A(i // frame) * ((i*13) % 7 - 3) + dc, where
    A(k) = (coef*(k+1)^2) % 199 — a pseudorandom family walk, so frame
    energies rise and fall in a family-specific pattern while the member
    DC offset perturbs them only slightly.  (A plain sawtooth gave nearly
    constant frame energies, and a LINEAR envelope mod 200 a monotone ramp
    whose contour bits differ only at wrap positions — both measured and
    rejected; the quadratic envelope leaves 94% of Hamming<=3 pairs
    same-family on the fixture.)"""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io
        import wave

        from experiments_datafusion_spark.operators.multimodal import WAV_RATE

        n = _AF_FRAME * _AF_NFRAMES
        i = np.arange(n, dtype=np.int64)
        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                coef, dc = _af_params(int(did))
                k1 = i // _AF_FRAME + 1
                amp = (coef * k1 * k1) % 199
                samples = (amp * ((i * 13) % 7 - 3) + dc).astype("<i2")
                buf = io.BytesIO()
                with wave.open(buf, "wb") as wv:
                    wv.setnchannels(1)
                    wv.setsampwidth(2)
                    wv.setframerate(WAV_RATE)
                    wv.writeframes(samples.tobytes())
                payloads.append(buf.getvalue())
            yield pd.DataFrame({"media_id": pdf["doc_id"], "payload": payloads})

    return docs.select("doc_id").mapInPandas(gen, "media_id bigint, payload binary")


def _af_hash_media(media: DataFrame) -> DataFrame:
    """(media_id, fph): REAL wave decode -> per-frame abs-energy sums ->
    32-bit sign-of-delta contour hash."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io
        import wave

        for pdf in batches:
            out = {"media_id": [], "fph": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                with wave.open(io.BytesIO(bytes(payload)), "rb") as wv:
                    raw = wv.readframes(wv.getnframes())
                s = np.frombuffer(raw, dtype="<i2").astype(np.int64)
                e = np.abs(s).reshape(_AF_NFRAMES, _AF_FRAME).sum(axis=1)
                bits = (e[1:] > e[:-1]).astype(np.int64)
                out["media_id"].append(mid)
                out["fph"].append(int((bits << np.arange(_AF_BITS)).sum()))
            yield pd.DataFrame(out)

    return media.mapInPandas(run, "media_id bigint, fph bigint")


def _af_oracle() -> str:
    # frame k energy of doc d: sum_{i in [k*25, (k+1)*25)}
    # |A(k)*((i*13)%7 - 3) + dc| with A(k) = (coef*(k+1)^2) % 199 —
    # exact integers, replayed by unnesting sample indexes.
    return f"""
WITH d AS (
  SELECT doc_id, 17 + 2 * (doc_id % {_AF_FAMILIES}) AS coef, doc_id % 7 AS dc
  FROM documents
),
s AS (
  SELECT d.doc_id, t.i // {_AF_FRAME} AS frame,
         abs(((d.coef * (t.i // {_AF_FRAME} + 1) * (t.i // {_AF_FRAME} + 1)) % 199)
             * ((t.i * 13) % 7 - 3) + d.dc) AS a
  FROM d, UNNEST(generate_series(0, {_AF_FRAME * _AF_NFRAMES - 1})) AS t(i)
),
e AS (
  SELECT doc_id, frame, CAST(sum(a) AS BIGINT) AS e FROM s GROUP BY doc_id, frame
),
bits AS (
  SELECT doc_id, frame,
         CASE WHEN lead(e) OVER (PARTITION BY doc_id ORDER BY frame) > e
              THEN 1::BIGINT ELSE 0::BIGINT END AS b
  FROM e
),
hashes AS (
  SELECT doc_id, CAST(sum(b * (1::BIGINT << frame)) AS BIGINT) AS fph
  FROM bits WHERE frame < {_AF_BITS} GROUP BY doc_id
)
SELECT a.doc_id AS x, b.doc_id AS y,
       CAST(bit_count(xor(a.fph, b.fph)) AS BIGINT) AS hamming
FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.fph, b.fph)) <= {_AF_T}
"""


@register(
    "mm_wav_fingerprint_pairs",
    tags=("llm", "multimodal", "dedup", "similarity"),
    oracle=_af_oracle(),
)
def mm_wav_fingerprint_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio NEAR-dup pairs by energy-contour fingerprint — the audio twin
    of mm_phash_pairs: decode the real WAV payloads with the stdlib codec,
    sum abs amplitude per 25-sample frame, hash the 32 consecutive-frame
    delta signs (level-shift tolerant), and pair at Hamming <= 3 via
    pigeonhole-complete 4x8-bit banding.  Family members differ by a DC
    offset, so their BYTES (and checksums) differ while the contour
    matches; the brute-force closed-form oracle proves both the decoded
    hash values and the banding's completeness."""
    media = attach_fingerprint_wav_media(table(spark, sf_dir, "documents"))
    hashes = _af_hash_media(media).localCheckpoint(eager=True)
    chunk_exprs = [
        F.shiftright(F.col("fph"), k * _AF_BAND_BITS).bitwiseAND(
            F.lit((1 << _AF_BAND_BITS) - 1)
        )
        for k in range(_AF_BANDS)
    ]
    chunks = hashes.select(
        "media_id", "fph", F.posexplode(F.array(*chunk_exprs)).alias("band", "ck")
    )
    a, b = chunks.alias("a"), chunks.alias("b")
    ham = F.bit_count(F.col("a.fph").bitwiseXOR(F.col("b.fph")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.ck") == F.col("b.ck"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .where(ham <= _AF_T)
        .select(
            F.col("a.media_id").alias("x"),
            F.col("b.media_id").alias("y"),
            ham.cast("bigint").alias("hamming"),
        )
        .distinct()
    )


# ---- distribution window functions ---------------------------------------------


@register(
    "win_distribution",
    tags=("window", "analytic"),
    oracle="""
SELECT l_orderkey, l_linenumber,
       CAST(ntile(4) OVER w AS BIGINT)            AS quartile,
       round(percent_rank() OVER w, 6)            AS pct_rank,
       round(cume_dist() OVER w, 6)               AS cume
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1995-03-01'
WINDOW w AS (PARTITION BY l_returnflag
             ORDER BY l_extendedprice, l_orderkey, l_linenumber)
""",
)
def win_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distribution window-function trio — ntile(4), percent_rank,
    cume_dist — over a TOTAL order (price, orderkey, linenumber), the one
    precondition that makes all three deterministic across engines:
    percent_rank = (rank-1)/(n-1) and cume_dist = peers<=/n are single
    IEEE divisions of exact integers (identical in both engines; rounded
    6dp only for hash stability), and ntile's floor-division bucketing is
    spec-identical.  Shape: one hash exchange on the partition key, one
    sort — the plain window pattern."""
    from pyspark.sql import Window as W

    li = table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1995-01-01") & (F.col("l_shipdate") < "1995-03-01")
    )
    w = W.partitionBy("l_returnflag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )
