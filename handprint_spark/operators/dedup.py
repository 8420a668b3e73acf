"""Deduplication family for large-scale corpus curation.

Beyond the reference's operator set (its dedup is the S4 filename
window, SURVEY.md §2.1), a 100 TB training-data pipeline needs
content-level dedup. Seven strategies — five doc-level pairwise, plus
benchmark decontamination (train×eval n-gram overlap) and exact
W-word-window substring duplication (Lee et al. 2022), defined at
their own section headers below. The five pairwise forms,
each Spark-first:

  * exact        — hash-groupBy on md5(text); map-side partial agg,
                   one shuffle on the hash key.
  * n-gram Jaccard — word-bigram shingles, exploded + self-joined on
                   shingle; each posting row CARRIES its doc's shingle
                   count, so the union-size denominator falls out of
                   the pair aggregation itself — no per-doc sizes
                   table, no second join (a broadcast of one-row-per-
                   doc state is an OOM at corpus scale, not a
                   broadcast). Quadratic only within shingle buckets,
                   never a full cross join.
  * MinHash+LSH  — K min-hash signatures (lexicographic min of keyed
                   md5 over shingles — string mins, portable to any
                   SQL engine), banded into B buckets; candidate pairs
                   are an equi-join on (band_id, band_key). This is
                   the scale path: cost ~ bucket sizes, not n².
  * SimHash      — 60-bit simhash from per-word md5 bits (bitwise agg
                   in pure Catalyst expressions); near-dup candidates
                   by PIGEONHOLE BANDING: the signature splits into
                   HAMMING_MAX+1 bit chunks, and any pair within
                   hamming distance HAMMING_MAX must agree exactly on
                   at least one chunk, so candidates are an equi-join
                   on (chunk_id, chunk_value) — exact recall, no n²
                   compare. 60 bits (not 64) is deliberate: it is the
                   widest signature whose value AND md5-prefix word
                   hashes stay inside SIGNED int64 on both engines
                   (Spark `conv(..,16,10)::bigint` and DuckDB
                   `('0x'||..)::BIGINT` both return NULL/error past
                   2^63), so the oracle recomputes the identical
                   signature; the 20/20/20 chunks give the same
                   hamming<=2 pigeonhole guarantee as 64/21-21-22.
  * embedding    — LSH-banded candidate generation + exact cosine
                   verify: pairs sharing at least one 4-plane
                   random-hyperplane band bucket, scored vectorized
                   (numpy matmul in a pandas UDF) and kept at
                   cos >= EMB_COS_THRESHOLD. The standard
                   candidates-then-verify near-dup shape: recall is
                   the banded-LSH tradeoff, cost ~ bucket sizes.

At 10^12 docs: exact/minhash/simhash shuffle once on a well-spread
key; the Jaccard self-join is bounded by shingle-frequency capping
(drop shingles that occur in > MAX_DF docs — standard posting-list
pruning, applied here too); the two near-dup pair queries join only
within chunk/band buckets (asserted by tests/test_plans.py: no
CartesianProduct / BroadcastNestedLoopJoin in either plan).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

MAX_DF = 50  # drop shingles occurring in more docs than this (posting cap)
JACCARD_THRESHOLD = 0.5
MINHASH_K = 4  # demo/oracle width: 2 bands x 2 rows (portable SQL)
MINHASH_BANDS = 2
# production banding (exercised in tests/test_curation.py; the oracle
# keeps the portable K=4 form — a 128-way min-agg DuckDB oracle adds
# nothing to plan verification): K=128 hashes, 16 bands x 8 rows,
# half-recall threshold (1/16)^(1/8) ≈ 0.707 with a sharp S-curve
MINHASH_K_PROD = 128
MINHASH_BANDS_PROD = 16
SIM_BITS = 60  # production width; 60 not 64: signed-int64-safe on both engines
SIM_HEX_CHARS = SIM_BITS // 4  # md5 prefix chars for the per-word hash
HAMMING_MAX = 2
# pigeonhole chunks: HAMMING_MAX+1 chunks covering the SIM_BITS bits;
# <= HAMMING_MAX differing bits can dirty at most HAMMING_MAX chunks
SIMHASH_CHUNK_BITS = (20, 20, 20)
EMB_BANDS = 4
EMB_BAND_BITS = 4
EMB_COS_THRESHOLD = 0.3
# Oversized-bucket guard for the embedding-LSH candidate join: a
# (band, key) bucket larger than this is hash-salted into
# ceil(nb / EMB_MAX_BUCKET) sub-chunks before in-bucket scoring, so
# the per-task n x n matmul is bounded by ~EMB_MAX_BUCKET^2 and total
# in-bucket work degrades to O(nb * EMB_MAX_BUCKET) — LINEAR in the
# bucket, never quadratic. 10_000 vectors => a 10k x 10k x 64 matmul
# (~6 GFLOP, ~1 s of one core) per chunk; grow (bands, bits) first —
# salting is the backstop for the hot bucket banding cannot predict,
# at the documented cost of cross-chunk recall inside that bucket.
EMB_MAX_BUCKET = 10_000
# Row-block width for in-bucket scoring: bounds per-task transient
# memory at O(block * nb) (~100 MB at the max_bucket ceiling) instead
# of the O(nb^2) multi-GB temporaries a single dense pass allocates.
EMB_SCORE_BLOCK = 1024


def _docs(spark: SparkSession, sf_dir: str, spread: bool = False) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    if spread:
        # Pre-explode hash partitioning on the groupBy key: the shingle
        # explode fans each doc into ~n_words rows, and the signature
        # groupBy(doc_id) that follows would shuffle that fan-out. By
        # partitioning on doc_id *before* the explode, the exploded
        # output keeps hashpartitioning(doc_id) and the aggregation
        # needs no second exchange — the only shuffled rows are the
        # small pre-explode docs. At 10^12 docs this is the difference
        # between shuffling docs and shuffling shingles (~100x).
        # Measured at sf0.1 (warm min-of-5): spread 1.365s vs
        # unspread 1.862s for the LSH pair query — the r02 bench
        # "regression" (1.349 -> 1.755) was host noise, not this plan.
        df = df.repartition(df.sparkSession.sparkContext.defaultParallelism, "doc_id")
    return df


def _shingles_col():
    """Distinct word-bigram shingles of ``text`` (JVM-side).

    zip_with over two slices beats transform(sequence, element_at) ~2x
    in interpreted higher-order-function eval (no per-element index
    array or bounds-checked element_at)."""
    words = F.split(F.col("text"), " ")
    n = F.size(words)
    return F.array_distinct(
        F.zip_with(
            F.slice(words, 1, n - 1),
            F.slice(words, 2, n - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    )


# --- exact dedup -----------------------------------------------------------

def q_dd_exact(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return (
        docs.select("doc_id", F.md5(F.col("text").cast("binary")).alias("h"))
        .groupBy("h")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keeper"))
    )


SQL_DD_EXACT = """
SELECT md5(text) AS h, CAST(count(*) AS BIGINT) AS n_docs,
       min(doc_id) AS keeper
FROM documents GROUP BY md5(text)
"""


# --- n-gram Jaccard ---------------------------------------------------------

def ngram_jaccard_pairs(docs: DataFrame, threshold: float) -> DataFrame:
    """Exact pair Jaccard at ANY floor — the core behind
    ``q_dd_ngram_jaccard`` (production floor) and the measured
    banding-recall curve (low floor, so partial-recall deciles
    actually populate)."""
    docs = docs.select("doc_id", _shingles_col().alias("sh"))
    posting = (
        docs.select("doc_id", F.size("sh").alias("n_sh"), F.explode("sh").alias("s"))
        # posting-list cap: drop ubiquitous shingles (bounded join fan-out)
        .withColumn("df", F.count("*").over(Window.partitionBy("s")))
        .filter(F.col("df") <= MAX_DF)
        .select("doc_id", "n_sh", "s")
    )
    a = posting.alias("a")
    b = posting.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(
            F.count("*").alias("n_inter"),
            F.min(F.col("a.n_sh")).alias("n1"),
            F.min(F.col("b.n_sh")).alias("n2"),
        )
    )
    return (
        inter.withColumn(
            "jaccard",
            F.round(
                F.col("n_inter") / (F.col("n1") + F.col("n2") - F.col("n_inter")), 4
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("d1", "d2", "jaccard")
    )


def q_dd_ngram_jaccard(spark, sf_dir):
    """Pair Jaccard without any per-doc sizes join: every posting row
    carries its document's total shingle count (``n_sh`` is constant
    per doc, so ``min()`` inside the pair aggregation recovers it
    exactly), and the union size is n1 + n2 - |intersection|. One
    self-join on the capped posting list + one aggregation — at corpus
    scale there is no one-row-per-document side table to broadcast
    (the round-2 plan broadcast exactly that; at 10^12 docs the
    "small" side would be the whole corpus)."""
    return ngram_jaccard_pairs(_docs(spark, sf_dir, spread=True), JACCARD_THRESHOLD)


def _sql_jaccard(threshold: float) -> str:
    return f"""
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(string_split(text, ' '))),
             i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1])) AS s
  FROM documents
), sizes AS (
  SELECT doc_id, len(s) AS n_sh FROM sh
), posting AS (
  SELECT doc_id, unnest(s) AS s FROM sh
), capped AS (
  SELECT doc_id, s FROM (
    SELECT doc_id, s, count(*) OVER (PARTITION BY s) AS df FROM posting)
  WHERE df <= {MAX_DF}
), inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_inter
  FROM capped a JOIN capped b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT d1, d2, round(n_inter::DOUBLE / (s1.n_sh + s2.n_sh - n_inter), 4) AS jaccard
FROM inter
JOIN sizes s1 ON s1.doc_id = d1
JOIN sizes s2 ON s2.doc_id = d2
WHERE round(n_inter::DOUBLE / (s1.n_sh + s2.n_sh - n_inter), 4) >= {threshold}
"""


SQL_DD_JACCARD = _sql_jaccard(JACCARD_THRESHOLD)


# --- MinHash + LSH -----------------------------------------------------------

MINHASH_PRIME = 2_147_483_647  # 2^31 - 1 (Mersenne): universal-hash modulus


def _mh_constants(k: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs for the multiply-shift family.
    a_i < 2^30 and the reduced base hash < 2^31 keep a_i*x + b_i under
    2^62 — no int64 overflow, so the expression is ANSI-mode safe."""
    import random

    rng = random.Random(0x5EED_B10C)
    return [(rng.randrange(1, 1 << 30), rng.randrange(0, 1 << 30)) for _ in range(k)]


def _minhash_sigs(
    docs: DataFrame, k: int = MINHASH_K, numeric: bool | None = None
) -> DataFrame:
    """K min-hash signatures per doc. ``k`` is the signature width:
    the registered query/oracle use the portable demo width
    MINHASH_K=4, production runs pass k=128 (see ``minhash_lsh_pairs``)
    — the plan is width-independent (k min aggregates over ONE shingle
    explode, still a single shuffle on doc_id).

    Two hash families, chosen by ``numeric`` (default: strings at the
    demo width, numeric above it):

    * strings — lexicographic-min of keyed md5 per hash index.
      Portable (the DuckDB oracle recomputes it exactly), but costs K
      md5 evaluations per shingle and 32-char shuffle rows.
    * numeric — ONE md5 per shingle reduced to a 31-bit base hash x,
      then h_i = (a_i*x + b_i) mod (2^31-1) (multiply-mod-prime
      universal family, the standard datasketch/Kirsch-Mitzenmacher
      construction): K integer multiply-adds instead of K md5s, and
      8-byte signature values instead of 32-char strings — at K=128
      this is the difference between 128 md5s/shingle and 1, and a 4x
      smaller signature shuffle. Measured at sf0.1 x local[32], warm
      best-of-3, identical 256 candidate pairs: 3.28 s (strings) ->
      2.45 s (numeric) for the full K=128/16-band pair query."""
    if numeric is None:
        numeric = k > MINHASH_K
    exploded = docs.select("doc_id", F.explode(_shingles_col()).alias("s"))
    if numeric:
        x = (
            F.conv(F.substring(F.md5(F.col("s").cast("binary")), 1, 8), 16, 10)
            .cast("long")
            % MINHASH_PRIME
        )
        base = exploded.select("doc_id", x.alias("x"))
        aggs = [
            F.min((F.lit(a) * F.col("x") + F.lit(b)) % MINHASH_PRIME).alias(f"sig{i}")
            for i, (a, b) in enumerate(_mh_constants(k))
        ]
        return base.groupBy("doc_id").agg(*aggs)
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("s")).cast("binary"))).alias(f"sig{i}")
        for i in range(k)
    ]
    return exploded.groupBy("doc_id").agg(*aggs)


def minhash_band_posting(
    docs: DataFrame | None = None,
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, band_key) posting rows — the LSH banding of
    ``_minhash_sigs`` factored out so batch pair-generation
    (``minhash_lsh_pairs``: self-join) and incremental index probing
    (``incremental_dedup``: semi-join against a materialized index)
    share one banding definition. The sig table is materialized once
    (lazy localCheckpoint) so the shingle-explode + min-agg subtree
    isn't re-evaluated per consumer of the posting rows."""
    if k % bands != 0:
        raise ValueError(f"k={k} must divide into bands={bands}")
    rows = k // bands
    if sigs is None:
        if docs is None:
            raise ValueError("minhash_band_posting: pass docs or sigs")
        sigs = _minhash_sigs(docs, k).localCheckpoint(eager=False)
    band_cols = [
        F.concat_ws(
            "|",
            F.lit(f"b{b}"),
            *[F.col(f"sig{b * rows + r}") for r in range(rows)],
        )
        for b in range(bands)
    ]
    return sigs.select("doc_id", F.explode(F.array(*band_cols)).alias("band_key"))


def minhash_lsh_pairs(
    docs: DataFrame, k: int = MINHASH_K, bands: int = MINHASH_BANDS
) -> DataFrame:
    """LSH candidate pairs at ANY (k, bands) banding — the
    parameterized core behind ``q_dd_minhash_lsh_pairs``. ``k`` hashes
    split into ``bands`` bands of r = k/bands rows; a pair is a
    candidate when ALL r sigs of some band collide, so the candidate
    probability for Jaccard j is 1 - (1 - j^r)^bands with the
    half-recall threshold at ~(1/bands)^(1/r) — the demo (k=4, b=2,
    r=2) catches from j≈0.7, the production curve (k=128, b=16, r=8)
    centers at j≈0.707 with a much sharper S (fewer false candidates
    per true near-dup). The PLAN is parameter-independent: one shingle
    explode + k min-aggs (single shuffle), band keys exploded to
    bands rows/doc, candidates from ONE equi-join on band_key."""
    return _band_pairs(minhash_band_posting(docs, k, bands))


def _band_pairs(bands_df: DataFrame) -> DataFrame:
    """(d1, d2) candidate pairs from a (doc_id, band_key) posting —
    the one banded self-join, shared by the batch pair query and the
    signature-side estimator."""
    a, b = bands_df.alias("a"), bands_df.alias("b")
    return (
        a.join(b, (F.col("a.band_key") == F.col("b.band_key"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )


def q_dd_minhash_sigs(spark, sf_dir):
    return _minhash_sigs(_docs(spark, sf_dir, spread=True))


SQL_DD_MINHASH_SIGS = """
WITH posting AS (
  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(string_split(text, ' '))),
           i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]))) AS s
  FROM documents
)
SELECT doc_id,
       min(md5('0|' || s)) AS sig0, min(md5('1|' || s)) AS sig1,
       min(md5('2|' || s)) AS sig2, min(md5('3|' || s)) AS sig3
FROM posting GROUP BY doc_id
"""


def q_dd_minhash_lsh_pairs(spark, sf_dir):
    """LSH candidate pairs: 2 bands of 2 rows; a pair is a candidate
    when it collides in either band. The join key is (band, key) so
    the shuffle spreads across bands — no n² compare. The sig table
    ((doc_id, 4 hex strings) per doc) is materialized once (lazy
    localCheckpoint) so the shingle-explode + min-agg subtree isn't
    evaluated on both sides of the self-join — same rationale as
    ``q_dd_simhash_pairs``. Durability: unlike the iterative CC rounds
    (which offer ``reliable=True``), losing an executor here just
    fails-and-retries this ONE query from source — nothing
    partially-computed is wasted, so executor-memory blocks are the
    right default. Delegates to ``minhash_lsh_pairs`` at the demo
    (MINHASH_K, MINHASH_BANDS) banding the DuckDB oracle mirrors;
    production runs call it at (MINHASH_K_PROD, MINHASH_BANDS_PROD)."""
    return minhash_lsh_pairs(_docs(spark, sf_dir, spread=True))


SQL_DD_MINHASH_LSH = """
WITH posting AS (
  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(string_split(text, ' '))),
           i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]))) AS s
  FROM documents
), sigs AS (
  SELECT doc_id,
         min(md5('0|' || s)) AS sig0, min(md5('1|' || s)) AS sig1,
         min(md5('2|' || s)) AS sig2, min(md5('3|' || s)) AS sig3
  FROM posting GROUP BY doc_id
), bands AS (
  SELECT doc_id, 'b0|' || sig0 || '|' || sig1 AS band_key FROM sigs
  UNION ALL
  SELECT doc_id, 'b1|' || sig2 || '|' || sig3 AS band_key FROM sigs
)
SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
"""


# --- SimHash ------------------------------------------------------------------

def _simhash_col():
    """SIM_BITS-wide simhash over the word multiset: bit k of the
    result is 1 when more words hash (md5 SIM_BITS-bit prefix) with
    bit k set than not. Pure Catalyst, ONE traversal of the word
    array: the fold accumulates a SIM_BITS-long bit-count vector
    (zip_with add), and the finish lambda votes each bit against the
    word count. (Measured against the codegen alternative — explode +
    groupBy with SIM_BITS conditional sums — the fold is ~2.5x faster
    at 60 bits: 61 aggregation buffer fields push the hash aggregate
    out of whole-stage codegen.)"""
    return F.expr(
        f"""
        aggregate(
          transform(split(text, ' '),
                    w -> cast(conv(substring(md5(cast(w as binary)), 1, {SIM_HEX_CHARS}), 16, 10) as bigint)),
          array_repeat(cast(0 as bigint), {SIM_BITS}),
          (acc, h) -> zip_with(acc,
                               transform(sequence(0, {SIM_BITS - 1}), b -> shiftright(h, b) & 1),
                               (c, bit) -> c + bit),
          counts -> aggregate(
            zip_with(counts, sequence(0, {SIM_BITS - 1}),
                     (c, b) -> if(2 * c >= size(split(text, ' ')),
                                  shiftleft(cast(1 as bigint), b), cast(0 as bigint))),
            cast(0 as bigint), (a, x) -> a + x)
        )
        """
    )


def q_dd_simhash(spark, sf_dir):
    """Signatures are PINNED behind a trivial per-doc aggregate:
    Catalyst's CollapseProject inlines a bare projection expression
    into every downstream reference — the banded pairs query
    references the signature several times per join side and was
    measured recomputing the fold ~8x. An Aggregate output is an
    attribute, so consumers reference the computed value exactly once
    per row. With ``spread=True`` upstream the groupBy(doc_id) is
    exchange-free (doc_id is already the partitioning key)."""
    sigs = _docs(spark, sf_dir, spread=True).select(
        "doc_id", _simhash_col().alias("simhash")
    )
    return sigs.groupBy("doc_id").agg(F.min("simhash").alias("simhash"))


def _simhash_sql_expr() -> str:
    bits = []
    for b in range(SIM_BITS):
        bits.append(
            f"(CASE WHEN 2 * list_sum(list_transform(hs, h -> (h >> {b}) & 1)) "
            f">= len(hs) THEN {2 ** b} ELSE 0 END)"
        )
    return " + ".join(bits)


SQL_DD_SIMHASH = f"""
WITH h AS (
  SELECT doc_id,
         list_transform(string_split(text, ' '),
                        w -> ('0x' || substr(md5(w), 1, {SIM_HEX_CHARS}))::BIGINT) AS hs
  FROM documents
)
SELECT doc_id, CAST({_simhash_sql_expr()} AS BIGINT) AS simhash FROM h
"""


def q_dd_simhash_pairs(spark, sf_dir):
    """Pigeonhole-banded hamming join: split the signature into
    HAMMING_MAX+1 chunks; any pair within hamming HAMMING_MAX agrees
    exactly on >= 1 chunk, so an equi-join on (chunk_id, chunk_value)
    generates candidates with EXACT recall (same output set as the
    all-pairs compare the DuckDB oracle runs), then the hamming filter
    verifies. No cross join anywhere — cost ~ sum of chunk-bucket
    sizes squared, not n².

    The signature table is materialized ONCE (lazy localCheckpoint —
    (doc_id, 1 long) per doc, trivially small): a plain self-join
    would evaluate the 60-bit fold subtree on BOTH sides. On a
    cluster this is the sig table an incremental dedup pipeline
    persists anyway; executor loss just retries this one query from
    source (the multi-round durability concern is specific to
    iterative CC, which has ``reliable=True``)."""
    sigs = q_dd_simhash(spark, sf_dir).localCheckpoint(eager=False)
    chunks, off = [], 0
    for k, width in enumerate(SIMHASH_CHUNK_BITS):
        chunks.append(
            F.struct(
                F.lit(k).alias("ck"),
                F.shiftright(F.col("simhash"), off)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("cv"),
            )
        )
        off += width
    banded = sigs.select(
        "doc_id", "simhash", F.explode(F.array(*chunks)).alias("c")
    ).select("doc_id", "simhash", F.col("c.ck").alias("ck"), F.col("c.cv").alias("cv"))
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.ck") == F.col("b.ck"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            F.col("a.simhash").alias("s1"),
            F.col("b.simhash").alias("s2"),
        )
        .distinct()  # a pair may collide on several chunks
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("s1").bitwiseXOR(F.col("s2"))).cast("int")
        )
        .filter(F.col("hamming") <= HAMMING_MAX)
        .select("d1", "d2", "hamming")
    )


SQL_DD_SIMHASH_PAIRS = f"""
WITH s AS ({SQL_DD_SIMHASH})
SELECT a.doc_id AS d1, b.doc_id AS d2,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_MAX}
"""


# --- embedding cosine near-dup ------------------------------------------------

def _emb_planes(bands: int = EMB_BANDS, bits: int = EMB_BAND_BITS):
    """bands x bits deterministic hyperplanes (disjoint from the
    similarity module's 8 index planes via the seed offset). The
    banding is PARAMETERIZED exactly like ``minhash_band_posting``:
    production grows ``bits`` with corpus size (buckets per band =
    2^bits, expected bucket population n/2^bits) so the in-bucket
    candidate work tracks a target chunk size instead of a constant."""
    from .similarity import _plane

    return [_plane(100 + i) for i in range(bands * bits)]


def _band_keys_udf(bands: int = EMB_BANDS, bits: int = EMB_BAND_BITS):
    """Vectorized banded-LSH signature: one numpy matmul against the
    (bands*bits) x DIM plane matrix per Arrow batch, then a bit-fold
    per band — no interpreted per-row HOF work."""
    import numpy as np

    P = np.asarray(_emb_planes(bands, bits), dtype=np.float64)
    weights = 1 << np.arange(bits)

    @F.pandas_udf("array<int>")
    def band_keys(v: pd.Series) -> pd.Series:
        import numpy as np

        M = np.stack(v.values).astype(np.float64)
        S = (M @ P.T) >= 0.0  # n x (bands*bits) sign bits
        keys = np.stack(
            [(S[:, b * bits : (b + 1) * bits] * weights).sum(axis=1) for b in range(bands)],
            axis=1,
        ).astype("int32")
        return pd.Series(list(keys))

    return band_keys


def _score_bucket_fn(threshold: float, first_band_dedup: bool):
    """applyInPandas kernel for one LSH bucket (or salted sub-chunk):
    score every in-group pair with ONE n x n matmul; each vector
    crosses to Python once per band it lands in, never once per
    candidate pair.

    ``first_band_dedup=True`` (the exact, unsalted plan): a pair
    colliding in several bands is emitted only by its FIRST colliding
    band — cross-band dedup without a second shuffle. With salting
    active the first-band rule is UNSOUND (the first colliding band
    may have split the pair across salt chunks, so no band would emit
    it); the salted path emits from every co-grouped collision and
    dedups with one distinct() over the sparse pair set instead."""
    import numpy as np

    def score_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "v1": pd.Series(dtype="int64"),
                "v2": pd.Series(dtype="int64"),
                "cos": pd.Series(dtype="float64"),
            }
        )
        n = len(pdf)
        if n < 2:
            return empty
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        ids = pdf["vec_id"].to_numpy()
        M = np.stack(pdf["v"].values).astype(np.float64)
        norms = np.sqrt((M * M).sum(axis=1))
        if first_band_dedup:
            band = int(pdf["band"].iloc[0])
            K = np.stack(pdf["keys"].values)  # n x bands
        # Score in row blocks: a single dense n x n pass at the
        # max_bucket ceiling would allocate several O(n^2) float64
        # temporaries (S, the norm outer product, triu index and
        # gather arrays — multi-GB per task at n = 10^4) and OOM the
        # executor; per block the transient footprint is
        # O(EMB_SCORE_BLOCK * n) (~100 MB) and only threshold
        # survivors — the actual result — are ever materialized.
        out = []
        for s in range(0, n - 1, EMB_SCORE_BLOCK):
            e = min(s + EMB_SCORE_BLOCK, n)
            Sb = np.round((M[s:e] @ M.T) / np.outer(norms[s:e], norms), 4)
            bi, bj = np.nonzero(Sb >= threshold)
            gi = bi + s
            keep = gi < bj  # vec_id-sorted upper triangle: v1 < v2
            gi, gj, cos = gi[keep], bj[keep], Sb[bi[keep], bj[keep]]
            if first_band_dedup and len(gi):
                first = (K[gi] == K[gj]).argmax(axis=1)  # first colliding band
                keep2 = first == band
                gi, gj, cos = gi[keep2], gj[keep2], cos[keep2]
            if len(gi):
                out.append(
                    pd.DataFrame({"v1": ids[gi], "v2": ids[gj], "cos": cos})
                )
        return pd.concat(out, ignore_index=True) if out else empty

    return score_bucket


_PAIR_SCHEMA = "v1 bigint, v2 bigint, cos double"


def embedding_neardup(
    emb: DataFrame,
    bands: int = EMB_BANDS,
    bits: int = EMB_BAND_BITS,
    threshold: float = EMB_COS_THRESHOLD,
    max_bucket: int = EMB_MAX_BUCKET,
) -> DataFrame:
    """Near-duplicate embedding pairs at ANY (bands, bits) banding,
    candidates-then-verify: candidate = the pair shares >= 1 of
    ``bands`` random-hyperplane band buckets (grouped equi-keys —
    never an all-pairs compare); verify = exact cosine >= threshold,
    scored in-bucket by a vectorized matmul. Recall below 1.0 on
    non-colliding pairs is the standard banded-LSH tradeoff.

    Oversized-bucket guard (adaptive, like ``duplicate_clusters``):
    bucket sizes are measured from ONE aggregation over the
    checkpointed keyed frame; when every bucket is within
    ``max_bucket`` the exact first-band plan runs unchanged (no salt
    column, no distinct — the common case the banding is sized for).
    When any bucket exceeds it — the hot-bucket degeneracy that made
    the unguarded in-bucket matmul quadratic — the oversized buckets
    are hash-salted into ceil(nb / max_bucket) sub-chunks
    (xxhash64(vec_id) spread, adversarial-id safe), every co-grouped
    collision is scored, and the sparse pair set is deduped with one
    distinct(). In-bucket work is then O(nb * max_bucket) per hot
    bucket, never O(nb^2), at the cost of cross-chunk recall INSIDE
    oversized buckets only — ``q_dd_emb_lsh_stats`` is the pre-join
    gate that reports exactly which buckets pay that cost.

    Production sizing note: at 10^12 vectors the keyed frame should be
    a materialized table (the ``ann_index.py`` pattern), and (bands,
    bits) grown so expected bucket population n/2^bits sits well under
    ``max_bucket``; the salt is the backstop for the buckets a real
    corpus concentrates anyway (null/zero embeddings, template pages)."""
    keys_udf = _band_keys_udf(bands, bits)
    keyed = emb.withColumn("keys", keys_udf(F.col("v"))).localCheckpoint(eager=False)
    banded = keyed.select(
        "vec_id", "v", "keys", F.posexplode("keys").alias("band", "key")
    )
    sizes = banded.groupBy("band", "key").agg(F.count("*").alias("nb"))
    max_nb = sizes.agg(F.max("nb")).first()[0] or 0
    if max_nb <= max_bucket:
        return banded.groupBy("band", "key").applyInPandas(
            _score_bucket_fn(threshold, first_band_dedup=True), _PAIR_SCHEMA
        )
    over = sizes.filter(F.col("nb") > max_bucket).select(
        "band",
        "key",
        F.ceil(F.col("nb") / max_bucket).cast("int").alias("n_salts"),
    )
    salted = (
        banded.join(over, ["band", "key"], "left")  # AQE broadcasts when small
        .withColumn(
            "salt",
            F.when(F.col("n_salts").isNull(), F.lit(0)).otherwise(
                F.pmod(F.xxhash64("vec_id"), F.col("n_salts")).cast("int")
            ),
        )
    )
    pairs = salted.groupBy("band", "key", "salt").applyInPandas(
        _score_bucket_fn(threshold, first_band_dedup=False), _PAIR_SCHEMA
    )
    return pairs.distinct()


def _emb_source(spark, sf_dir) -> DataFrame:
    # One definition of the (vec_id, v) source projection for the
    # whole repo: a schema/cast change must not be able to diverge
    # the dedup and similarity families.
    from .similarity import _emb

    return _emb(spark, sf_dir)


def q_dd_embedding_neardup(spark, sf_dir):
    """Registered default banding (EMB_BANDS x EMB_BAND_BITS); the
    DuckDB oracle computes the identical banded semantics from the
    same plane constants. Sandbox buckets sit far under EMB_MAX_BUCKET
    so the exact first-band plan runs — the salted path is covered by
    tests/test_emb_guard.py with a deliberately degenerate bucket."""
    return embedding_neardup(_emb_source(spark, sf_dir))


def q_dd_emb_neardup_wide(spark, sf_dir):
    """The SAME operator at a second banding (2 bands x 6 bits = 64
    buckets/band): proves (bands, bits) actually plumb through — the
    round-4 scale-killer was a hardcoded 16-buckets/band constant.
    Fewer, finer bands = fewer candidate pairs per true near-dup and
    lower recall on weak pairs; its oracle derives from the same
    parameterized plane/key generator."""
    return embedding_neardup(_emb_source(spark, sf_dir), bands=2, bits=6)


def emb_lsh_stats(
    emb: DataFrame,
    bands: int = EMB_BANDS,
    bits: int = EMB_BAND_BITS,
    max_bucket: int = EMB_MAX_BUCKET,
) -> DataFrame:
    """The pre-join cost gate at ANY (bands, bits, max_bucket) — it
    MUST accept the same parameters as ``embedding_neardup``, or the
    counts it reports describe a different join than the one that
    will execute (the gate exists to size that exact join)."""
    keys_udf = _band_keys_udf(bands, bits)
    banded = emb.withColumn("keys", keys_udf(F.col("v"))).select(
        "vec_id", F.posexplode("keys").alias("band", "key")
    )
    buckets = banded.groupBy("band", "key").agg(F.count("*").alias("nb"))
    return buckets.groupBy("band").agg(
        F.count("*").alias("n_buckets"),
        F.sum("nb").cast("long").alias("n_vecs"),
        F.max("nb").cast("long").alias("max_bucket"),
        F.sum(F.expr("nb * (nb - 1) DIV 2")).cast("long").alias("n_cand_pairs"),
        F.sum((F.col("nb") > max_bucket).cast("long")).alias("n_oversized"),
    )


def q_dd_emb_lsh_stats(spark, sf_dir):
    """Embedding analog of ``q_dd_lsh_stats`` — the pre-join cost gate
    for the in-bucket matmul: per band, bucket count, population,
    largest bucket, the EXACT candidate-pair count the scoring stage
    would face (sum nb*(nb-1)/2), and how many buckets the
    ``EMB_MAX_BUCKET`` guard would salt. A 10^12-row run reads this
    BEFORE ``dd_embedding_neardup`` AT THE BANDING IT WILL RUN
    (``emb_lsh_stats`` takes the same (bands, bits, max_bucket) as the
    join): n_cand_pairs is the join's true cost and n_oversized tells
    whether to grow (bands, bits) or accept salted recall in the
    listed hot buckets. Registered at the default banding; the
    parameterized form is pytest-pinned against the wide banding's
    actual bucket population."""
    return emb_lsh_stats(_emb_source(spark, sf_dir))


def _sql_emb_band_key(
    vec_expr: str, band: int, bands: int = EMB_BANDS, bits: int = EMB_BAND_BITS
) -> str:
    from .similarity import _sql_dot

    planes = _emb_planes(bands, bits)
    parts = [
        f"(CASE WHEN {_sql_dot(vec_expr, planes[band * bits + i])} >= 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i in range(bits)
    ]
    return "(" + " + ".join(parts) + ")"


def _sql_emb_banded_cte(bands: int = EMB_BANDS, bits: int = EMB_BAND_BITS) -> str:
    rows = "\n  UNION ALL\n".join(
        f"  SELECT vec_id, v, CAST({b} AS INT) AS band, "
        f"CAST({_sql_emb_band_key('v', b, bands, bits)} AS INT) AS key FROM e"
        for b in range(bands)
    )
    return f"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
banded AS (
{rows}
)"""


def _sql_dd_emb(
    bands: int = EMB_BANDS,
    bits: int = EMB_BAND_BITS,
    threshold: float = EMB_COS_THRESHOLD,
) -> str:
    return f"""
WITH {_sql_emb_banded_cte(bands, bits)},
cand AS (
  SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id
)
SELECT c.v1, c.v2, round(list_cosine_similarity(ea.v, eb.v), 4) AS cos
FROM cand c JOIN e ea ON ea.vec_id = c.v1 JOIN e eb ON eb.vec_id = c.v2
WHERE round(list_cosine_similarity(ea.v, eb.v), 4) >= {threshold}
"""


def _sql_dd_emb_lsh_stats() -> str:
    return f"""
WITH {_sql_emb_banded_cte()},
buckets AS (
  SELECT band, key, count(*) AS nb FROM banded GROUP BY band, key
)
SELECT band,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(sum(nb) AS BIGINT) AS n_vecs,
       CAST(max(nb) AS BIGINT) AS max_bucket,
       CAST(sum((nb * (nb - 1)) // 2) AS BIGINT) AS n_cand_pairs,
       CAST(sum(CASE WHEN nb > {EMB_MAX_BUCKET} THEN 1 ELSE 0 END) AS BIGINT) AS n_oversized
FROM buckets GROUP BY band
"""


# --- benchmark-contamination check (train vs eval n-gram overlap) ------------
#
# The cross-corpus variant of dedup every training run needs: before a
# corpus ships, its documents are screened against the held-out
# eval/benchmark set for shared word n-grams (the standard
# decontamination step — GPT-3 appendix C / PaLM-style 8-13-gram
# overlap). Same posting-list shape as the Jaccard join, but A×B
# instead of a self-join: the eval side collapses to a DISTINCT gram
# set (tiny next to the corpus — AQE broadcasts it when it fits, and
# the equi-join on the well-spread gram key is safe when it does not),
# so the cost is one explode + one equi-join, never n².

CONTAM_N = 3  # word n-gram width. Sandbox value: the synthetic vocab is
#     small enough that 3-grams collide across docs (signal to test);
#     production decontamination uses 8-13-gram windows — only this
#     constant changes, the plan is width-independent.
CONTAM_EVAL_MOD = 37  # doc_id % MOD == 0 -> the held-out "benchmark" slice
CONTAM_THRESHOLD = 0.05  # flag docs with >= 5% of their grams in eval


def _contam_grams():
    """Distinct word-CONTAM_N-grams of ``text`` (pure JVM zip_with
    chain over shifted slices, same idiom as ``_shingles_col``).
    Docs shorter than N grams short-circuit to array() — slice() with
    a negative length errors, and CASE branches evaluate lazily."""
    words = F.split(F.col("text"), " ")
    n = F.size(words)
    w = n - (CONTAM_N - 1)  # gram count when n >= CONTAM_N
    grams = F.slice(words, 1, w)
    for k in range(1, CONTAM_N):
        grams = F.zip_with(
            grams, F.slice(words, k + 1, w), lambda a, b: F.concat(a, F.lit(" "), b)
        )
    return F.when(n >= CONTAM_N, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def q_dd_contamination(spark, sf_dir):
    """(doc_id, n_grams, n_hit, contam_frac, contaminated) for every
    TRAIN document (doc_id % CONTAM_EVAL_MOD != 0): how many of its
    distinct word-3-grams appear anywhere in the eval slice.

    Fused posting shape: grams are distinct per doc by construction,
    so ONE groupBy over the flag-left-joined posting rows yields both
    the denominator (count of grams) and the hit count — there is no
    per-doc totals table and no second doc_id join (the same
    carry-the-count idiom as the Jaccard posting rows). explode_outer
    keeps sub-N-word train docs as a NULL-gram row so they still emit
    their zero-hit verdict."""
    docs = _docs(spark, sf_dir, spread=True).select(
        "doc_id",
        _contam_grams().alias("g"),
        (F.col("doc_id") % CONTAM_EVAL_MOD == 0).alias("is_eval"),
    )
    grams = docs.select("doc_id", "is_eval", F.explode_outer("g").alias("gram"))
    eval_grams = (
        grams.filter(F.col("is_eval") & F.col("gram").isNotNull())
        .select("gram")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    agg = (
        grams.filter(~F.col("is_eval"))
        .join(eval_grams, "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count("gram").alias("n_grams"),
            F.sum(F.coalesce("hit", F.lit(0))).alias("n_hit"),
        )
    )
    frac = F.when(
        F.col("n_grams") > 0, F.round(F.col("n_hit") / F.col("n_grams"), 4)
    ).otherwise(F.lit(0.0))
    return agg.select(
        "doc_id",
        F.col("n_grams").cast("long").alias("n_grams"),
        F.col("n_hit").cast("long").alias("n_hit"),
        frac.alias("contam_frac"),
        (frac >= CONTAM_THRESHOLD).alias("contaminated"),
    )


SQL_DD_CONTAMINATION = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
g AS (
  SELECT doc_id,
         CASE WHEN len(w) >= {CONTAM_N} THEN
           list_distinct(list_transform(range(1, len(w) - {CONTAM_N - 2}),
                         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
         ELSE [] END AS grams
  FROM toks
),
ev AS (SELECT DISTINCT unnest(grams) AS gram FROM g
       WHERE doc_id % {CONTAM_EVAL_MOD} = 0),
tr AS (SELECT doc_id, unnest(grams) AS gram FROM g
       WHERE doc_id % {CONTAM_EVAL_MOD} <> 0),
hit AS (SELECT t.doc_id, count(*) AS n_hit
        FROM tr t JOIN ev e USING (gram) GROUP BY t.doc_id),
tot AS (SELECT doc_id, len(grams) AS n_grams FROM g
        WHERE doc_id % {CONTAM_EVAL_MOD} <> 0)
SELECT tot.doc_id,
       CAST(tot.n_grams AS BIGINT) AS n_grams,
       CAST(coalesce(hit.n_hit, 0) AS BIGINT) AS n_hit,
       CASE WHEN tot.n_grams > 0
            THEN round(coalesce(hit.n_hit, 0)::DOUBLE / tot.n_grams, 4)
            ELSE 0.0 END AS contam_frac,
       (CASE WHEN tot.n_grams > 0
             THEN round(coalesce(hit.n_hit, 0)::DOUBLE / tot.n_grams, 4)
             ELSE 0.0 END >= {CONTAM_THRESHOLD}) AS contaminated
FROM tot LEFT JOIN hit USING (doc_id)
"""


# --- LSH bucket diagnostics ---------------------------------------------------


def q_dd_lsh_stats(spark, sf_dir):
    """(band, n_buckets, n_docs, max_bucket, n_cand_pairs): per-band
    bucket-size distribution of the MinHash LSH — the operational
    metric a 10^12-row dedup run watches: a degenerate bucket (one
    band key attracting a large doc population) turns the in-bucket
    candidate join quadratic, and this aggregate — sum over buckets of
    nb*(nb-1)/2 — IS the exact join cost of q_dd_minhash_lsh_pairs
    before it runs. One groupBy on the banded key, one per-band
    rollup; cost ~ docs x bands."""
    sigs = _minhash_sigs(_docs(spark, sf_dir, spread=True))
    bands = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                F.concat(F.lit("b0|"), "sig0", F.lit("|"), "sig1"),
                F.concat(F.lit("b1|"), "sig2", F.lit("|"), "sig3"),
            )
        ).alias("band_key"),
    ).select(F.substring("band_key", 1, 2).alias("band"), "band_key")
    buckets = bands.groupBy("band", "band_key").agg(F.count("*").alias("nb"))
    return buckets.groupBy("band").agg(
        F.count("*").alias("n_buckets"),
        F.sum("nb").cast("long").alias("n_docs"),
        F.max("nb").cast("long").alias("max_bucket"),
        F.sum(F.expr("nb * (nb - 1) DIV 2")).cast("long").alias("n_cand_pairs"),
    )


SQL_DD_LSH_STATS = f"""
WITH b AS (
  SELECT doc_id, unnest([ 'b0|' || sig0 || '|' || sig1,
                          'b1|' || sig2 || '|' || sig3 ]) AS band_key
  FROM ({SQL_DD_MINHASH_SIGS})
),
buckets AS (
  SELECT substr(band_key, 1, 2) AS band, band_key, count(*) AS nb
  FROM b GROUP BY 1, 2
)
SELECT band,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(sum(nb) AS BIGINT) AS n_docs,
       CAST(max(nb) AS BIGINT) AS max_bucket,
       CAST(sum((nb * (nb - 1)) // 2) AS BIGINT) AS n_cand_pairs
FROM buckets GROUP BY band
"""


# --- exact-substring duplication (Lee et al. 2022 style) ---------------------
#
# The within-corpus complement of the pair queries: instead of
# doc-level near-dup pairs, find the exact W-word windows that appear
# verbatim in more than one document ("Deduplicating Training Data
# Makes Language Models Better" measures and removes exactly these).
# A full suffix-array pass doesn't map to a DataFrame engine; the
# sliding-window posting form below finds every duplicated span of
# length >= W (any longer shared substring necessarily contains a
# shared W-window), which is the quantity the curation decision needs.
# One explode + one well-spread groupBy + one join back — the same
# posting-list shape as the Jaccard join, no n² anywhere.

SUBSTR_W = 8  # window width in words (production uses 50-token windows;
#     only this constant changes — the sandbox corpus needs a width
#     small enough that its ~100-word docs carry many windows)


def q_dd_substring_dup(spark, sf_dir):
    """(doc_id, n_windows, n_dup_windows, dup_frac) per document:
    how much of the doc is covered by W-word windows that also appear
    in at least one OTHER document. Window keys are md5 digests, not
    the gram strings — at 10^12 docs the shuffle moves 16-byte keys
    instead of ~50-byte grams, and the digest is portable SQL."""
    docs = _docs(spark, sf_dir, spread=True)
    words = F.split(F.col("text"), " ")
    n = F.size(words)
    w = F.lit(SUBSTR_W)
    wins = F.when(
        n >= SUBSTR_W,
        F.transform(
            F.sequence(F.lit(1), n - (SUBSTR_W - 1)),
            lambda i: F.md5(F.array_join(F.slice(words, i, w), " ").cast("binary")),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # Fused posting shape (see q_dd_contamination): explode_outer keeps
    # sub-W-word docs as a NULL-window row, the shared-set membership
    # rides back as a left-join flag, and ONE groupBy produces both the
    # window total and the duplicated count — no totals table, no
    # second doc_id join.
    posting = docs.select("doc_id", F.explode_outer(wins).alias("g"))
    shared = (
        posting.filter(F.col("g").isNotNull())
        .groupBy("g")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("g", F.lit(1).alias("hit"))
    )
    return (
        posting.join(shared, "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count("g").alias("n_windows"),
            F.sum(F.coalesce("hit", F.lit(0))).alias("n_dup_windows"),
        )
        .select(
            "doc_id",
            F.col("n_windows").cast("long").alias("n_windows"),
            F.col("n_dup_windows").cast("long").alias("n_dup_windows"),
            F.when(
                F.col("n_windows") > 0,
                F.round(F.col("n_dup_windows") / F.col("n_windows"), 4),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_frac"),
        )
    )


SQL_DD_SUBSTRING_DUP = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
g AS (
  SELECT doc_id,
         CASE WHEN len(ws) >= {SUBSTR_W} THEN
           [md5(array_to_string(ws[i:i+{SUBSTR_W}-1], ' '))
            FOR i IN range(1, len(ws) - {SUBSTR_W} + 2)]
         ELSE [] END AS wins
  FROM toks
),
posting AS (SELECT DISTINCT doc_id, unnest(wins) AS w FROM g),
shared AS (SELECT w FROM posting GROUP BY w HAVING count(*) >= 2),
hits AS (
  SELECT p.doc_id, count(*) AS n_dup
  FROM (SELECT doc_id, unnest(wins) AS w FROM g) p
  JOIN shared s USING (w) GROUP BY p.doc_id
)
SELECT g.doc_id,
       CAST(len(g.wins) AS BIGINT) AS n_windows,
       CAST(coalesce(h.n_dup, 0) AS BIGINT) AS n_dup_windows,
       CASE WHEN len(g.wins) > 0
            THEN round(coalesce(h.n_dup, 0)::DOUBLE / len(g.wins), 4)
            ELSE 0.0 END AS dup_frac
FROM g LEFT JOIN hits h USING (doc_id)
"""


# --- duplicate-cluster resolution (connected components) ---------------------

MAX_CC_ITERS = 20
# FLOOR for the iterative round width. The pair graph is a tiny
# fraction of the corpus (~0.1% of docs land in any near-dup pair), so
# small graphs get a fixed small width (beats inheriting a corpus-sized
# shuffle width for the iterative joins); big graphs grow the width
# with edge count via _cc_width — a 10^9-edge graph cannot live in 8
# partitions.
CC_PARTITIONS = 8
# target edge rows per round partition: an edge is two ids (~tens of
# bytes), so 1M rows/partition keeps each round task comfortably
# inside executor memory while bounding task count
CC_EDGE_ROWS_PER_PARTITION = 1_000_000
# session conf key read when duplicate_clusters(reliable=None): cluster
# deployments set this true once (spark-submit --conf) and every CC
# query in the session checkpoints durably; the sandbox default stays
# the fast localCheckpoint path
CC_RELIABLE_CONF = "handprint.cc.reliable"
# Adaptive small-graph fast path: when the (doubled) edge list is at
# most this many rows, resolve components with driver-side union-find
# instead of the iterative distributed loop. The near-dup pair graph
# is typically a sliver of the corpus (~0.1% of docs in any pair), so
# even very large corpora often produce driver-trivial graphs; 500k
# edge rows is ~tens of MB collected. Same labels either way
# (component-min), so the choice is invisible to every oracle.
# Override per call (local_max_edges=0 forces the distributed loop)
# or per session via this conf.
CC_LOCAL_MAX_EDGES = 500_000
CC_LOCAL_CONF = "handprint.cc.local_max_edges"


def _cc_width(n_edges: int, parallelism: int) -> int:
    """Round-frame partition count for a CC run: scale with the edge
    count (ceil(edges / CC_EDGE_ROWS_PER_PARTITION)), floored at
    CC_PARTITIONS for tiny sandbox graphs and capped at 4x the session
    parallelism so width never outruns the cluster by more than the
    usual fine-partitioning factor."""
    by_data = -(-n_edges // CC_EDGE_ROWS_PER_PARTITION)  # ceil div
    return max(CC_PARTITIONS, min(by_data, max(parallelism * 4, CC_PARTITIONS)))


def _cc_persist(df: DataFrame, reliable: bool) -> tuple[DataFrame, DataFrame | None]:
    """Lineage-truncate one CC round. ``reliable=False`` (sandbox
    default) uses localCheckpoint — executor-memory blocks, fastest,
    but lineage is unrecoverable if an executor dies. On a real
    cluster pass ``reliable=True``: ``checkpoint()`` writes each round
    to the (HDFS/object-store) checkpoint dir, so executor loss after
    round k replays from durable state instead of failing the job.

    Both paths are LAZY (``eager=False``): the caller's next action —
    the per-round convergence count — materializes the checkpoint, so
    each round costs ONE job instead of checkpoint-then-count two.
    On this sandbox host a no-op job costs ~40-120 ms wall (vCPU
    scheduling), so halving job count is the dominant lever for the
    iterative loop.

    The reliable path PERSISTS (MEMORY_AND_DISK) before the lazy
    checkpoint: Spark writes a lazy reliable checkpoint by re-running
    the RDD *after* the materializing job finishes, so without the
    persist every round would compute twice — the cache turns the
    checkpoint write into a block copy.

    Returns ``(frame, cache_handle)``. ``checkpoint()`` returns a NEW
    frame over the checkpointed plan, so unpersisting the returned
    frame itself would be a no-op against the cache (which belongs to
    the pre-checkpoint frame) — the handle is returned EXPLICITLY so a
    caller cannot lose it by deriving from the frame (a previous
    version stashed it as an ad-hoc attribute, which `.drop()`/
    `.select()` silently discarded). ``cache_handle`` is None on the
    localCheckpoint path (nothing to free — executor blocks are
    dropped with the frame)."""
    if not reliable:
        return df.localCheckpoint(eager=False), None
    from pyspark import StorageLevel

    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is None:
        import tempfile

        sc.setCheckpointDir(tempfile.mkdtemp(prefix="handprint_cc_ckpt_"))
    cached = df.persist(StorageLevel.MEMORY_AND_DISK)
    return cached.checkpoint(eager=False), cached


def _cc_unpersist(cache_handle: DataFrame | None) -> None:
    """Free the cache blocks behind a ``_cc_persist`` round: pass the
    ``cache_handle`` the persist returned (no-op when it is None — the
    localCheckpoint path has no cache to free)."""
    if cache_handle is not None:
        cache_handle.unpersist()


def _cc_local(spark: SparkSession, staged: DataFrame) -> DataFrame:
    """Driver-side union-find over a SMALL collected edge list — the
    adaptive fast path of ``duplicate_clusters``. Path-compressed,
    union-by-size; cluster id = min node per component (computed after
    the unions, so the labeling is identical to the distributed
    min-label fixpoint regardless of union order). The collect is
    bounded by CC_LOCAL_MAX_EDGES — this function is only reached when
    the sizing count proved the graph fits."""
    parent: dict = {}
    size: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for row in staged.collect():
        a, b = row[0], row[1]
        for n in (a, b):
            if n not in parent:
                parent[n] = n
                size[n] = 1
        ra, rb = find(a), find(b)
        if ra != rb:
            if size[ra] < size[rb]:
                ra, rb = rb, ra
            parent[rb] = ra
            size[ra] += size[rb]

    cluster_min: dict = {}
    for n in parent:
        r = find(n)
        if r not in cluster_min or n < cluster_min[r]:
            cluster_min[r] = n
    rows = [
        (n, cluster_min[find(n)], n == cluster_min[find(n)]) for n in parent
    ]
    schema = T.StructType(
        [
            T.StructField("doc_id", staged.schema["src"].dataType),
            T.StructField("cluster", staged.schema["src"].dataType),
            T.StructField("is_keeper", T.BooleanType()),
        ]
    )
    return spark.createDataFrame(rows, schema)


def duplicate_clusters(
    pairs: DataFrame,
    reliable: bool | None = None,
    num_partitions: int | None = None,
    local_max_edges: int | None = None,
) -> DataFrame:
    """Candidate pairs -> duplicate clusters -> keeper per cluster:
    the step a real curation run performs AFTER near-dup pair
    generation (drop every member but one per connected component).

    Iterative min-label propagation with POINTER JUMPING over the
    undirected pair graph: every node starts labeled with itself; each
    round a node takes the minimum label among itself and its
    neighbors (one hop), then compresses by taking its label's own
    label (label-of-label shortcut), so convergence needs
    O(log diameter) rounds instead of O(diameter). At fixpoint the
    label is the component's minimum doc_id = the cluster id, and the
    keeper is the node equal to its label. Deterministic (min over
    strings); MAX_CC_ITERS bounds pathological graphs — exhausting it
    without convergence RAISES (a partially-propagated labeling is a
    wrong answer, not a degraded one). Each round materializes via
    ``_cc_persist`` so the plan stays flat, and the round frames are
    explicitly repartitioned on the join key — no session-conf
    mutation (thread-safe under concurrent queries).

    ``reliable=None`` (default) reads the ``handprint.cc.reliable``
    session conf, so a cluster deployment flips every CC query to
    durable checkpoints with one spark-submit --conf while the sandbox
    default stays localCheckpoint.

    ``num_partitions=None`` derives the round width from the
    materialized edge count via ``_cc_width`` (floor CC_PARTITIONS,
    ~CC_EDGE_ROWS_PER_PARTITION edge rows per partition, capped at 4x
    session parallelism): tiny sandbox graphs keep the fixed small
    width, a 10^9-edge production graph gets a width it can actually
    live in. The sizing count runs on the ALREADY-CHECKPOINTED edge
    frame, so it costs one job barrier, never a recompute of the
    candidate-pair plan.

    ``local_max_edges`` (default: the ``handprint.cc.local_max_edges``
    conf, falling back to CC_LOCAL_MAX_EDGES) is the adaptive-execution
    bound: graphs at or below it resolve via driver union-find
    (``_cc_local`` — identical component-min labels, one collect
    instead of ~10 iterative jobs), larger graphs take the distributed
    loop. Pass 0 to force the distributed path (tests do).

    Returns (doc_id, cluster, is_keeper) for every doc in >= 1 pair.
    """
    spark = pairs.sparkSession
    if reliable is None:
        reliable = str(spark.conf.get(CC_RELIABLE_CONF, "false")).lower() == "true"
    if local_max_edges is None:
        local_max_edges = int(
            spark.conf.get(CC_LOCAL_CONF, str(CC_LOCAL_MAX_EDGES))
        )
    half = pairs.select(F.col("d1").alias("src"), F.col("d2").alias("dst"))
    staged, staged_h = _cc_persist(
        half.union(half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))),
        reliable,
    )
    n_edges = staged.count()  # materializes the checkpoint + sizes everything below
    if n_edges <= local_max_edges:
        # Adaptive execution: the sizing count just PROVED the graph is
        # driver-small, so the iterative loop's ~10 jobs of fixed
        # barrier cost buy nothing — union-find on the driver returns
        # the identical component-min labeling in one collect. This is
        # the common case even at 10^12 docs (the pair graph after
        # banded LSH is a sliver of the corpus); graphs above the bound
        # take the distributed loop below.
        out = _cc_local(spark, staged)
        _cc_unpersist(staged_h)
        return out
    if num_partitions is None:
        num_partitions = _cc_width(n_edges, spark.sparkContext.defaultParallelism)
    edges, edges_h = _cc_persist(staged.repartition(num_partitions, "src"), reliable)
    labels, labels_h = _cc_persist(
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .repartition(num_partitions, "node"),
        reliable,
    )

    def _nstep(lab):
        """One neighbor-min propagation hop. Preserves the ``prev``
        column (round-start label) for the join-free convergence
        filter."""
        nmin = (
            edges.join(lab, edges["src"] == lab["node"])
            .groupBy("dst")
            .agg(F.min("label").alias("nlabel"))
            .withColumnRenamed("dst", "node")
        )
        return lab.join(nmin, "node", "left").select(
            "node",
            F.least(F.col("label"), F.coalesce("nlabel", F.col("label"))).alias("label"),
            "prev",
        )

    def _jump(lab):
        """Pointer jumping: label <- label(label); the parent's label
        is never larger, so least() keeps the invariant monotone."""
        parents = lab.select(F.col("node").alias("pnode"), F.col("label").alias("plabel"))
        return lab.join(parents, lab["label"] == parents["pnode"], "left").select(
            "node",
            F.least(lab["label"], F.coalesce(parents["plabel"], lab["label"])).alias(
                "label"
            ),
            "prev",
        )

    # Round structure: TWO neighbor hops then ONE jump per materialized
    # round. Folding hops into a round halves barrier/job count; doing
    # the (2-shuffle) jump once per round instead of once per hop keeps
    # the O(log diameter) compression while dropping a quarter of the
    # round's stages — measured 9-12s -> 5.2-5.9s steady-state at sf0.1
    # (and the leaner plan also compiles ~4x faster cold, 48s -> 5.9s
    # first sample).
    changed = -1
    prev_h: DataFrame | None = None
    for it in range(MAX_CC_ITERS):
        seeded = labels.select("node", "label", F.col("label").alias("prev"))
        new_labels, new_h = _cc_persist(
            _jump(_nstep(_nstep(seeded))).repartition(num_partitions, "node"), reliable
        )
        changed = new_labels.filter(F.col("label") != F.col("prev")).count()
        if it == 0:
            # round 1's count materialized the edges + initial-labels
            # lazy checkpoints; their durable copies exist now, so the
            # staged/setup caches are dead weight
            _cc_unpersist(staged_h)
            _cc_unpersist(labels_h)
        # round k-1's cache blocks are dead once round k is
        # materialized (its checkpoint file is the durable copy)
        _cc_unpersist(prev_h)
        prev_h = new_h
        labels = new_labels.drop("prev")
        if changed == 0:
            break
    _cc_unpersist(edges_h)
    _cc_unpersist(prev_h)  # the final round reads back from its checkpoint file
    if changed != 0:
        raise RuntimeError(
            f"duplicate_clusters did not converge in {MAX_CC_ITERS} rounds "
            f"({changed} labels still changing) — pathological pair graph; "
            "raise MAX_CC_ITERS or inspect the candidate generator"
        )
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster"),
        (F.col("node") == F.col("label")).alias("is_keeper"),
    )


def q_dd_semantic_clusters(spark, sf_dir):
    """Semantic duplicate clusters: connected components over the
    embedding near-dup pair graph (cosine >= threshold within LSH
    bands) — the "semantic dedup" a modern curation run performs after
    lexical dedup. Same CC machinery as q_dd_dup_clusters; labels are
    numeric vec_ids, so min-label propagation agrees with the numeric
    recursive-CTE oracle."""
    pairs = q_dd_embedding_neardup(spark, sf_dir).select(
        F.col("v1").alias("d1"), F.col("v2").alias("d2")
    )
    return duplicate_clusters(pairs).select(
        F.col("doc_id").alias("vec_id"), "cluster", "is_keeper"
    )


# --- SemDeDup: within-trained-cluster epsilon-ball pruning ---------------------
#
# The k-means route to semantic dedup (Abbas et al., "SemDeDup",
# 2023): instead of LSH bands (dd_semantic_clusters), assign every
# vector to its TRAINED coarse cluster and compare pairs only within
# a cluster — the pairwise cost drops from O(n^2) to O(sum c_i^2),
# and because the trained cid is the IVF write-partition column at
# scale (see q_sim_ivf_trained), the comparisons are partition-LOCAL:
# the self-join shuffles nothing that is not already co-located.
# The epsilon-ball runs in exact int64 squared Euclidean on the same
# micro-unit vectors the quantizer trains on — bit-identical across
# engines, no cosine/libm in the verdict — and the keeper rule is
# lowest vec_id in the ball (deterministic under any execution order).
#
# TAU calibration (documented, sandbox-measured): the synthetic
# embeddings plant no exact twins (min pairwise d2 ~9.7e11 micro^2 at
# sf0.01), so TAU = 1.3e12 targets the semantically-close tail —
# ~14% of docs marked dup within clusters at both sandbox SFs, the
# realistic SemDeDup regime (the paper prunes 10-50%). A production
# run sweeps TAU against a held-out quality metric; the plan shape is
# TAU-independent.
#
# Hot clusters: a degenerate corpus (template pages, null vectors)
# concentrates one cid; the in-cluster self-join then needs the
# salted-chunk guard embedding_neardup already implements
# (max_bucket + ceil(nb/max_bucket) sub-chunks). Sandbox clusters sit
# at 22-42 members, far below any guard threshold, so this query
# keeps the exact unsalted plan; the guard precedent is one import
# away when sizing demands it.

SEMDEDUP_TAU = 1_300_000_000_000  # micro^2; ~0.1% tail of pairwise d2


def q_dd_semdedup(spark, sf_dir):
    """SemDeDup verdict per vector: (vec_id, cid, dup_of, keep) —
    cid from the trained k-means quantizer (kmeans_train, shared with
    sim_kmeans/sim_ivf_trained: the model trains ONCE per session),
    dup_of = the lowest-id same-cluster neighbor within the exact
    integer epsilon-ball (NULL when none), keep = no such neighbor.
    The DuckDB oracle replays the Lloyd's rounds via the shared
    chained-CTE builder and the identical int64 ball test."""
    from .similarity import _kmeans_assign_udf, kmeans_train

    ids, Cm, emb = kmeans_train(spark, sf_dir)
    assign = _kmeans_assign_udf(ids, Cm)
    assigned = emb.select(
        "vec_id", "m", assign("m").getField("cid").alias("cid")
    ).localCheckpoint(eager=False)
    a, b = assigned.alias("a"), assigned.alias("b")
    d2 = F.expr(
        "aggregate(zip_with(a.m, b.m, (x, y) -> (x - y) * (x - y)),"
        " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    dups = (
        a.join(
            b,
            (F.col("a.cid") == F.col("b.cid"))
            & (F.col("a.vec_id") > F.col("b.vec_id")),
        )
        .filter(d2 <= SEMDEDUP_TAU)
        .groupBy(F.col("a.vec_id").alias("vec_id"))
        .agg(F.min(F.col("b.vec_id")).alias("dup_of"))
    )
    return (
        assigned.select("vec_id", F.col("cid").cast("long").alias("cid"))
        .join(dups, "vec_id", "left")
        .select("vec_id", "cid", "dup_of", F.col("dup_of").isNull().alias("keep"))
    )


def q_dd_semdedup_stats(spark, sf_dir):
    """(cid, n_members, cand_pairs, max_d2, sum_d2): the pre-join
    cost gate for the SemDeDup epsilon-ball — the `dd_emb_lsh_stats`
    precedent applied to the k-means route. Run BEFORE
    `q_dd_semdedup` at a new scale: cand_pairs = n(n-1)/2 prices each
    cluster's in-cluster join (the clusters that need the salted-
    chunk guard are exactly the rows where it explodes), and the
    exact integer radius stats (max / sum of the assignment d2)
    price whether SEMDEDUP_TAU is even meaningful per cluster — a
    cluster whose max_d2 is far below TAU dedups entirely; one far
    above barely at all. One aggregate over the assignment frame the
    trainer already computes; every output column is an exact int64
    (sum_d2 stays under 2^63 up to ~4e6 members/cluster at the
    sandbox's ~2e12 per-row d2 — beyond that, aggregate per-salt
    first).

    Registered BELOW the driver-window boundary; sweep-covered."""
    from .similarity import _kmeans_assign_udf, kmeans_train

    ids, Cm, emb = kmeans_train(spark, sf_dir)
    assign = _kmeans_assign_udf(ids, Cm)
    a = emb.select(assign("m").alias("a")).select(
        F.col("a.cid").alias("cid"), F.col("a.d2").alias("d2")
    )
    n = F.count("*")
    return a.groupBy("cid").agg(
        n.cast("long").alias("n_members"),
        (n * (n - 1) / 2).cast("long").alias("cand_pairs"),
        F.max("d2").alias("max_d2"),
        F.sum("d2").cast("long").alias("sum_d2"),
    )


def _sql_dd_semdedup_stats() -> str:
    from .similarity import KMEANS_ITERS, _sql_kmeans_ctes

    return f"""
WITH {_sql_kmeans_ctes()}
SELECT CAST(cid AS BIGINT) AS cid,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(count(*) * (count(*) - 1) / 2 AS BIGINT) AS cand_pairs,
       CAST(max(d2) AS BIGINT) AS max_d2,
       CAST(sum(d2) AS BIGINT) AS sum_d2
FROM a{KMEANS_ITERS}
GROUP BY cid
"""


def _sql_dd_semdedup() -> str:
    from .similarity import KMEANS_ITERS, _sql_kmeans_ctes

    a = f"a{KMEANS_ITERS}"
    ball = (
        "list_sum(list_transform(list_zip(a.m, b.m),"
        " p -> (p[1] - p[2]) * (p[1] - p[2])))"
    )
    return f"""
WITH {_sql_kmeans_ctes()},
dups AS (
  SELECT a.vec_id, min(b.vec_id) AS dup_of
  FROM {a} a JOIN {a} b ON a.cid = b.cid AND a.vec_id > b.vec_id
  WHERE {ball} <= {SEMDEDUP_TAU}
  GROUP BY a.vec_id
)
SELECT x.vec_id, CAST(x.cid AS BIGINT) AS cid, d.dup_of,
       d.dup_of IS NULL AS keep
FROM {a} x LEFT JOIN dups d USING (vec_id)
"""


def q_dd_dup_clusters(spark, sf_dir):
    """Cluster resolution over the MinHash-LSH candidate pairs.
    Execution adapts to the measured edge count (driver union-find
    under the bound, iterative distributed loop above it, identical
    labels); any repartitioning happens on explicit widths inside
    duplicate_clusters — session conf is never touched, so the query
    is safe under concurrent execution."""
    return duplicate_clusters(q_dd_minhash_lsh_pairs(spark, sf_dir))


SQL_DD_DUP_CLUSTERS = f"""
WITH RECURSIVE lshpairs AS ({SQL_DD_MINHASH_LSH}),
edges AS (
  SELECT d1 AS src, d2 AS dst FROM lshpairs
  UNION ALL
  SELECT d2 AS src, d1 AS dst FROM lshpairs
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
reach(node, label) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
)
SELECT node AS doc_id, min(label) AS cluster, (node = min(label)) AS is_keeper
FROM reach GROUP BY node
"""


def q_dd_neardup_keep(spark, sf_dir):
    """Surviving corpus after near-duplicate REMOVAL — the table a
    dedup pass actually ships: MinHash-LSH candidate pairs → connected
    components → every non-keeper cluster member dropped by anti-join.

    Scale shape: the drop set is the dup fraction of the corpus (a
    real table, never a driver list), and the anti-join is an
    equi-join on the well-spread doc_id key — AQE broadcasts it when
    it measures small, sort-merge otherwise. The survivors' side
    projects only (doc_id, lang, n_chars): the corpus `text` column is
    read ONCE, in the signature branch — the output scan is pruned to
    three thin columns (the reference's analog is S4's keep-one-per-
    base dedup, handprint/main_body.py:167-180, lifted from filenames
    to content)."""
    drop = (
        duplicate_clusters(q_dd_minhash_lsh_pairs(spark, sf_dir))
        .filter(~F.col("is_keeper"))
        .select("doc_id")
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.join(drop, "doc_id", "left_anti").select("doc_id", "lang", "n_chars")


SQL_DD_NEARDUP_KEEP = f"""
WITH RECURSIVE lshpairs AS ({SQL_DD_MINHASH_LSH}),
edges AS (
  SELECT d1 AS src, d2 AS dst FROM lshpairs
  UNION ALL
  SELECT d2 AS src, d1 AS dst FROM lshpairs
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
reach(node, label) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
),
dropped AS (
  SELECT node AS doc_id FROM reach GROUP BY node HAVING node <> min(label)
)
SELECT d.doc_id, d.lang, d.n_chars
FROM documents d ANTI JOIN dropped x ON d.doc_id = x.doc_id
"""


def incremental_dedup(
    new_docs: DataFrame,
    index_bands: DataFrame,
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
    validate_banding: bool = True,
) -> DataFrame:
    """Dedup verdict for a NEW ingest batch against an EXISTING corpus's
    materialized MinHash band index — the continuous-ingest shape a
    100 TB pipeline actually runs (the batch `minhash_lsh_pairs`
    self-join rebuilds all signatures every pass; an append-only index
    never re-reads old documents).

    (doc_id, dup_of_index) per new doc: true iff ANY of the doc's band
    keys collides with a key already in the index — the same
    all-rows-of-some-band-agree candidate rule as the batch path, so
    batch and incremental agree on what counts as a near-dup.

    Scale shape: per-batch cost is O(batch) signature compute plus ONE
    equi-join of the batch's band posting against the index (left
    semi — the index side never flows past the join). The index is a
    plain (band_key) table: append the accepted batch's posting rows
    after each ingest and the next batch probes the union. Written
    ``partitionBy`` a band_key prefix (as ``ann_index.py`` does for
    LSH buckets) the probe prunes to candidate buckets by file
    listing. Nothing here scans the existing corpus — that is the
    whole point. Reference analog: S8's cached-result resume scan
    (handprint/main_body.py:132-145) lifted from per-file cache hits
    to content near-dup hits.

    ``(k, bands)`` MUST match the banding the index was built at:
    band keys embed the band index and signature values, so probing a
    production-banded index (k=128/16) with demo keys would collide on
    nothing and silently accept every duplicate. The probe VALIDATES
    this structurally before joining (``validate_banding=True``,
    default): one index key is sampled and its shape — signature
    fields per band (= k/bands) and hash family (32-hex-char string
    sigs at the demo width vs decimal multiply-mod-prime sigs above
    it) — must match what this probe will generate, else ValueError.
    The sample is ONE bounded ``head(1)`` job against the (normally
    parquet-materialized) index — never a corpus scan; an empty index
    (first ingest) skips the check."""
    if validate_banding:
        sample = index_bands.select("band_key").head(1)
        if sample:
            want_rows = k // bands
            want_hex = not (k > MINHASH_K)  # numeric family above demo width
            sig_fields = sample[0].band_key.split("|")[1:]
            got_rows = len(sig_fields)
            got_hex = all(len(s) == 32 for s in sig_fields)
            if (got_rows, got_hex) != (want_rows, want_hex):
                raise ValueError(
                    f"incremental_dedup: probe banding (k={k}, bands={bands}: "
                    f"{want_rows} {'hex' if want_hex else 'numeric'} sigs/band) "
                    f"does not match the index's keys ({got_rows} "
                    f"{'hex' if got_hex else 'numeric'} sigs/band) — probing a "
                    "mismatched index silently reports zero duplicates; pass "
                    "the (k, bands) the index was built with"
                )
    new_bands = minhash_band_posting(new_docs, k, bands)
    hits = (
        new_bands.join(index_bands.select("band_key"), "band_key", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("dup_of_index", F.lit(True))
    )
    return (
        new_docs.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("dup_of_index", F.lit(False)).alias("dup_of_index"),
        )
    )


def q_dd_incremental(spark, sf_dir):
    """Incremental-ingest dedup over a deterministic corpus split:
    even doc_ids are the already-indexed snapshot, odd doc_ids the
    arriving batch. Every odd doc gets a verdict (docs too short to
    shingle have no bands and are trivially non-duplicates)."""
    docs = _docs(spark, sf_dir, spread=True)
    existing = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    # localCheckpoint: the banding-validation sample (head(1)) and the
    # probe semi-join share ONE materialization of the index posting —
    # in production the index is a parquet table and this is moot
    index = minhash_band_posting(existing).localCheckpoint(eager=False)
    return incremental_dedup(new, index)


SQL_DD_INCREMENTAL = """
WITH posting AS (
  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(string_split(text, ' '))),
           i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]))) AS s
  FROM documents
), sigs AS (
  SELECT doc_id,
         min(md5('0|' || s)) AS sig0, min(md5('1|' || s)) AS sig1,
         min(md5('2|' || s)) AS sig2, min(md5('3|' || s)) AS sig3
  FROM posting GROUP BY doc_id
), bands AS (
  SELECT doc_id, 'b0|' || sig0 || '|' || sig1 AS band_key FROM sigs
  UNION ALL
  SELECT doc_id, 'b1|' || sig2 || '|' || sig3 AS band_key FROM sigs
), idx AS (
  SELECT DISTINCT band_key FROM bands WHERE doc_id % 2 = 0
), hits AS (
  SELECT DISTINCT b.doc_id
  FROM bands b JOIN idx i USING (band_key)
  WHERE b.doc_id % 2 = 1
)
SELECT d.doc_id, (h.doc_id IS NOT NULL) AS dup_of_index
FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
LEFT JOIN hits h ON d.doc_id = h.doc_id
"""


# --- signature-side Jaccard estimation over LSH candidates -------------------


def q_dd_minhash_est(spark, sf_dir):
    """(d1, d2, est_jaccard): MinHash estimate of Jaccard similarity
    for every LSH candidate pair — mean component equality over the K
    signatures (the unbiased estimator banding is built on). This is
    the production "verify" stage run signature-side: at 10^12 docs
    re-reading two documents' text per candidate is a random-read
    storm, while the signature table answers from K integers per doc.
    ``dd_ngram_jaccard`` (true Jaccard from posting rows) remains the
    exact counterpart; at the demo K=4 the estimate is quantized to
    {0, .25, .5, .75, 1}, and pytest pins the estimator's exactness at
    the j=1 and j=0 endpoints.

    Shape: ONE signature pass (checkpointed, shared by the banding and
    both lookup sides), pair candidates from the banded equi-join, two
    doc_id equi-joins to attach each side's signature row. The joins
    carry K small values per row; nothing re-touches text."""
    sigs = _minhash_sigs(_docs(spark, sf_dir, spread=True)).localCheckpoint(eager=False)
    pairs = _band_pairs(minhash_band_posting(sigs=sigs))
    s1 = sigs.select(
        F.col("doc_id").alias("d1"), *[F.col(f"sig{i}").alias(f"x{i}") for i in range(MINHASH_K)]
    )
    s2 = sigs.select(
        F.col("doc_id").alias("d2"), *[F.col(f"sig{i}").alias(f"y{i}") for i in range(MINHASH_K)]
    )
    matches = sum(
        (F.col(f"x{i}") == F.col(f"y{i}")).cast("int") for i in range(MINHASH_K)
    )
    return (
        pairs.join(s1, "d1")
        .join(s2, "d2")
        .select("d1", "d2", F.round(matches / MINHASH_K, 4).alias("est_jaccard"))
    )


SQL_DD_MINHASH_EST = f"""
WITH posting AS (
  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(string_split(text, ' '))),
           i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]))) AS s
  FROM documents
), sigs AS (
  SELECT doc_id,
         min(md5('0|' || s)) AS sig0, min(md5('1|' || s)) AS sig1,
         min(md5('2|' || s)) AS sig2, min(md5('3|' || s)) AS sig3
  FROM posting GROUP BY doc_id
), bands AS (
  SELECT doc_id, 'b0|' || sig0 || '|' || sig1 AS band_key FROM sigs
  UNION ALL
  SELECT doc_id, 'b1|' || sig2 || '|' || sig3 AS band_key FROM sigs
), pairs AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
)
SELECT p.d1, p.d2,
       round(((s1.sig0 = s2.sig0)::INT + (s1.sig1 = s2.sig1)::INT
            + (s1.sig2 = s2.sig2)::INT + (s1.sig3 = s2.sig3)::INT)
             / {MINHASH_K}.0, 4) AS est_jaccard
FROM pairs p
JOIN sigs s1 ON s1.doc_id = p.d1
JOIN sigs s2 ON s2.doc_id = p.d2
"""


# --- cross-document paragraph dedup -----------------------------------------
#
# RefinedWeb/CCNet-class pipelines dedup BELOW the document: a
# paragraph that already shipped in any earlier document is removed
# from every later one (global first-occurrence keep), independent of
# how often it repeats. This is distinct from ``ta_boilerplate_strip``
# (which drops lines frequent WITHIN a source — chrome removal):
# paragraph dedup fires on the second occurrence ever, across sources,
# and keeps exactly one copy in the corpus. Reference analog: the
# duplicate-format drop in handprint (main_body.py:171-180) keeps one
# artifact per (base, format) group; this is the same keep-first rule
# applied to content windows at corpus scale.
PARA_WORDS = 6  # words per paragraph window (same layout as corpus lines)


def q_dd_paragraph_dedup(spark, sf_dir):
    """(doc_id, n_paras, n_dropped, clean_text): global
    first-occurrence paragraph dedup with in-order document
    reassembly. A paragraph survives only at its globally-first
    occurrence — min (doc_id, pos) over every doc containing it —
    so repeated paragraphs later in the SAME doc drop too.

    Scale shape: posting rows are keyed by md5(para) (16-byte shuffle
    keys, not paragraph text); the keeper table is ONE min-struct
    groupBy (map-side partial, order-independent); membership rides
    back on ONE equi-join; reassembly is the same sorted-collect
    groupBy as ``ta_boilerplate_strip``. No window over the full
    posting, no self-join — at 10^12 docs the only hot spot is a
    paragraph shared by millions of docs, and that key carries an
    8-byte min, not a pair blowup."""
    w = PARA_WORDS
    docs = _docs(spark, sf_dir, spread=True)
    words = F.split(F.col("text"), " ")
    n_paras = F.ceil(F.size(words) / w).cast("int")
    paras = F.transform(
        F.sequence(F.lit(0), n_paras - 1),
        lambda i: F.struct(
            i.alias("pos"), F.array_join(F.slice(words, i * w + 1, w), " ").alias("para")
        ),
    )
    posting = (
        docs.select("doc_id", F.explode(paras).alias("p"))
        .select("doc_id", F.col("p.pos").alias("pos"), F.col("p.para").alias("para"))
        .withColumn("h", F.md5(F.col("para").cast("binary")))
    )
    keeper = posting.groupBy("h").agg(F.min(F.struct("doc_id", "pos")).alias("k"))
    flagged = posting.join(keeper, "h").withColumn(
        "kept", (F.col("k.doc_id") == F.col("doc_id")) & (F.col("k.pos") == F.col("pos"))
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_paras"),
            F.sum((~F.col("kept")).cast("int")).cast("int").alias("n_dropped"),
            F.array_join(
                F.transform(
                    F.filter(
                        F.array_sort(F.collect_list(F.struct("pos", "kept", "para"))),
                        lambda x: x["kept"],
                    ),
                    lambda x: x["para"],
                ),
                " ",
            ).alias("clean_text"),
        )
        .select("doc_id", "n_paras", "n_dropped", "clean_text")
    )


SQL_DD_PARAGRAPH_DEDUP = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS ws,
         CAST(ceil(len(string_split(text, ' ')) / {PARA_WORDS}.0) AS INT) AS np
  FROM documents
),
posting AS (
  SELECT doc_id, i AS pos,
         array_to_string(ws[i*{PARA_WORDS}+1 : (i+1)*{PARA_WORDS}], ' ') AS para
  FROM toks, LATERAL unnest(range(0, np)) AS t(i)
),
ranked AS (
  SELECT doc_id, pos, para,
         row_number() OVER (PARTITION BY md5(para) ORDER BY doc_id, pos) AS rn
  FROM posting
)
SELECT doc_id,
       CAST(count(*) AS INT) AS n_paras,
       CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS INT) AS n_dropped,
       coalesce(string_agg(CASE WHEN rn = 1 THEN para END, ' ' ORDER BY pos), '')
           AS clean_text
FROM ranked GROUP BY doc_id
"""


# --- fuzzy (MinHash-banded) decontamination ----------------------------------
#
# ``dd_contamination`` is the exact n-gram membership gate; real
# leakage audits (GPT-3 app. C, Llama 2 app. A.6) ALSO run a fuzzy
# pass, because paraphrased or lightly-edited benchmark items share no
# exact 13-gram yet still leak. The fuzzy pass is LSH recycled as a
# two-table probe: a train doc is flagged when any of its MinHash
# bands collides with any eval doc's band — i.e. estimated Jaccard
# above the banding's S-curve threshold against something held out.
FUZZY_BANDS_HIT = 1  # >= this many colliding bands => flagged


def q_dd_fuzzy_contamination(spark, sf_dir):
    """(doc_id, n_bands_hit, flagged) for every TRAIN doc that carries
    at least one shingle (docs under 2 words have no signature, hence
    no fuzzy verdict — mirrored by the oracle). Eval slice is the same
    deterministic doc_id % CONTAM_EVAL_MOD == 0 split as
    ``dd_contamination``, so the two gates audit the same holdout.

    Scale shape: ONE signature pass over the corpus (the banding
    posting is shared machinery with ``dd_incremental``); the eval
    side reduces to DISTINCT band keys (tiny vs the corpus — eval
    suites are fixed-size while train grows), joined back with a LEFT
    equi-join AQE is free to broadcast; verdicts from ONE groupBy.
    Train×eval never forms a pair table — collisions resolve to a
    per-band flag before any per-doc work."""
    posting = minhash_band_posting(_docs(spark, sf_dir, spread=True)).withColumn(
        "is_eval", F.col("doc_id") % CONTAM_EVAL_MOD == 0
    )
    eval_bands = (
        posting.filter(F.col("is_eval"))
        .select("band_key")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        posting.filter(~F.col("is_eval"))
        .join(eval_bands, "band_key", "left")
        .groupBy("doc_id")
        .agg(F.sum(F.coalesce("hit", F.lit(0))).cast("int").alias("n_bands_hit"))
        .select(
            "doc_id",
            "n_bands_hit",
            (F.col("n_bands_hit") >= FUZZY_BANDS_HIT).alias("flagged"),
        )
    )


SQL_DD_FUZZY_CONTAM = f"""
WITH posting AS (
  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(string_split(text, ' '))),
           i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]))) AS s
  FROM documents
), sigs AS (
  SELECT doc_id,
         min(md5('0|' || s)) AS sig0, min(md5('1|' || s)) AS sig1,
         min(md5('2|' || s)) AS sig2, min(md5('3|' || s)) AS sig3
  FROM posting GROUP BY doc_id
), bands AS (
  SELECT doc_id, 'b0|' || sig0 || '|' || sig1 AS band_key FROM sigs
  UNION ALL
  SELECT doc_id, 'b1|' || sig2 || '|' || sig3 AS band_key FROM sigs
), ev AS (
  SELECT DISTINCT band_key FROM bands WHERE doc_id % {CONTAM_EVAL_MOD} = 0
)
SELECT b.doc_id,
       CAST(sum(CASE WHEN e.band_key IS NOT NULL THEN 1 ELSE 0 END) AS INT)
           AS n_bands_hit,
       (sum(CASE WHEN e.band_key IS NOT NULL THEN 1 ELSE 0 END)
           >= {FUZZY_BANDS_HIT}) AS flagged
FROM bands b LEFT JOIN ev e ON b.band_key = e.band_key
WHERE b.doc_id % {CONTAM_EVAL_MOD} <> 0
GROUP BY b.doc_id
"""


# --- measured banding recall curve --------------------------------------------
#
# The honesty table for the text-dedup path (the sim_ann_recall /
# sim_pq_recall precedent applied to MinHash): candidate recall of the
# (k, bands) banding against exact n-gram Jaccard ground truth, binned
# by similarity decile. The theoretical S-curve 1-(1-j^r)^b is in
# minhash_lsh_pairs' docstring; this query turns it into MEASURED
# rows so a threshold choice is an empirical decision, not a formula
# citation. Runs at the demo banding (r=2, b=2 — a deliberately SOFT
# curve, so the bins differ meaningfully) because that banding has a
# portable SQL twin; the production (128, 16) curve is the same plan
# at different constants.

RECALL_BIN_EPS = 1e-4  # jaccard is rounded to 4dp; nudge exact decile
#                        boundaries into their own bin on both engines
RECALL_FLOOR = 0.1  # exact pairs from THIS floor (the production 0.5
#                     floor leaves only the trivially-caught top bin)


def q_dd_minhash_recall_curve(spark, sf_dir):
    """(sim_bin_pct, n_pairs, n_candidates, recall): per-decile
    candidate recall. sim_bin_pct = 10*floor(10*jaccard+eps) — 70
    means pairs with jaccard in [0.70, 0.80).

    Evaluation-scale diagnostic (the sim_pq_recall precedent): run it
    on a bounded evaluation slice, not the full corpus — the exact
    side's MAX_DF posting cap (correct for the production pair query)
    shrinks capped-Jaccard estimates as document frequencies grow, so
    at large SF the curve's low floor empties. The driver-scale run
    (sf0.01) is the oracle-checked, populated form."""
    exact = ngram_jaccard_pairs(_docs(spark, sf_dir, spread=True), RECALL_FLOOR)
    cand = minhash_lsh_pairs(_docs(spark, sf_dir, spread=True)).withColumn(
        "hit", F.lit(1)
    )
    return (
        exact.join(cand, ["d1", "d2"], "left")
        .select(
            (F.floor(F.col("jaccard") * 10 + RECALL_BIN_EPS) * 10)
            .cast("int")
            .alias("sim_bin_pct"),
            F.coalesce(F.col("hit"), F.lit(0)).alias("hit"),
        )
        .groupBy("sim_bin_pct")
        .agg(
            F.count("*").cast("int").alias("n_pairs"),
            F.sum("hit").cast("int").alias("n_candidates"),
            F.round(F.sum("hit") / F.count("*"), 6).alias("recall"),
        )
    )


SQL_DD_MINHASH_RECALL = f"""
WITH exact AS ({_sql_jaccard(RECALL_FLOOR)}),
cand AS ({SQL_DD_MINHASH_LSH})
SELECT CAST(floor(e.jaccard * 10 + {RECALL_BIN_EPS}) * 10 AS INT) AS sim_bin_pct,
       CAST(count(*) AS INT) AS n_pairs,
       CAST(sum(CASE WHEN c.d1 IS NOT NULL THEN 1 ELSE 0 END) AS INT)
           AS n_candidates,
       round(sum(CASE WHEN c.d1 IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
             / count(*), 6) AS recall
FROM exact e LEFT JOIN cand c ON e.d1 = c.d1 AND e.d2 = c.d2
GROUP BY 1
"""


QUERIES = {
    "dd_exact": q_dd_exact,
    "dd_ngram_jaccard": q_dd_ngram_jaccard,
    "dd_minhash_sigs": q_dd_minhash_sigs,
    "dd_minhash_lsh_pairs": q_dd_minhash_lsh_pairs,
    "dd_simhash": q_dd_simhash,
    "dd_simhash_pairs": q_dd_simhash_pairs,
    "dd_embedding_neardup": q_dd_embedding_neardup,
    "dd_emb_neardup_wide": q_dd_emb_neardup_wide,
    "dd_emb_lsh_stats": q_dd_emb_lsh_stats,
    "dd_dup_clusters": q_dd_dup_clusters,
    "dd_contamination": q_dd_contamination,
    "dd_substring_dup": q_dd_substring_dup,
    "dd_semantic_clusters": q_dd_semantic_clusters,
    "dd_semdedup": q_dd_semdedup,
    "dd_semdedup_stats": q_dd_semdedup_stats,
    "dd_lsh_stats": q_dd_lsh_stats,
    "dd_neardup_keep": q_dd_neardup_keep,
    "dd_incremental": q_dd_incremental,
    "dd_paragraph_dedup": q_dd_paragraph_dedup,
    "dd_fuzzy_contamination": q_dd_fuzzy_contamination,
    "dd_minhash_est": q_dd_minhash_est,
    "dd_minhash_recall_curve": q_dd_minhash_recall_curve,
}

ORACLES = {
    "dd_exact": SQL_DD_EXACT,
    "dd_ngram_jaccard": SQL_DD_JACCARD,
    "dd_minhash_sigs": SQL_DD_MINHASH_SIGS,
    "dd_minhash_lsh_pairs": SQL_DD_MINHASH_LSH,
    "dd_simhash": SQL_DD_SIMHASH,
    "dd_simhash_pairs": SQL_DD_SIMHASH_PAIRS,
    "dd_embedding_neardup": _sql_dd_emb(),
    "dd_emb_neardup_wide": _sql_dd_emb(bands=2, bits=6),
    "dd_emb_lsh_stats": _sql_dd_emb_lsh_stats(),
    "dd_dup_clusters": SQL_DD_DUP_CLUSTERS,
    "dd_contamination": SQL_DD_CONTAMINATION,
    "dd_substring_dup": SQL_DD_SUBSTRING_DUP,
    "dd_lsh_stats": SQL_DD_LSH_STATS,
    "dd_neardup_keep": SQL_DD_NEARDUP_KEEP,
    "dd_incremental": SQL_DD_INCREMENTAL,
    "dd_paragraph_dedup": SQL_DD_PARAGRAPH_DEDUP,
    "dd_fuzzy_contamination": SQL_DD_FUZZY_CONTAM,
    "dd_minhash_est": SQL_DD_MINHASH_EST,
    "dd_minhash_recall_curve": SQL_DD_MINHASH_RECALL,
    "dd_semantic_clusters": f"""
WITH RECURSIVE embpairs AS ({_sql_dd_emb()}),
edges AS (
  SELECT v1 AS src, v2 AS dst FROM embpairs
  UNION ALL
  SELECT v2 AS src, v1 AS dst FROM embpairs
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
reach(node, label) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
)
SELECT node AS vec_id, min(label) AS cluster, (node = min(label)) AS is_keeper
FROM reach GROUP BY node
""",
    "dd_semdedup": _sql_dd_semdedup(),
    "dd_semdedup_stats": _sql_dd_semdedup_stats(),
}
