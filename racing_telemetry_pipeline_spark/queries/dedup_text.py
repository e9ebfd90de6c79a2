"""Training-data-pipeline operators over ``documents``: deduplication
families (exact, n-gram Jaccard, MinHash, SimHash) and text analysis
(language-ID heuristic, quality scoring, token stats, fingerprinting).

Hash parity trick: both engines derive the SAME signed 64-bit token hash
from the first 16 hex digits of md5, assembled as two 32-bit halves
(hi_signed * 2^32 + lo) so every intermediate stays inside int64 on both
engines and all 64 bits are informative (bit 63 lands on the int64 sign
bit) — MinHash/SimHash signatures are bit-identical across engines
(verified in tools/check_oracle). At 100 TB scale the md5 would be swapped
for xxhash64 (Spark-side only); md5 here buys cross-engine verifiability.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .common import t, t_fanout

MERSENNE = 2147483647  # 2^31 - 1; keeps a*h+b within int64

# (a, b) pairs for the k MinHash permutations h_i(x) = (a*x + b) mod p
MINHASH_COEFFS = [
    (1103515245, 12345),
    (1299709, 7919),
    (104729, 65537),
    (15485863, 32452843),
    (49979687, 86028121),
    (67867967, 49979693),
    (982451653, 179424673),
    (32452867, 15485867),
]

SIMHASH_BITS = 64  # bit 63 is the int64 sign bit (contributes -2^63)

STOPWORDS = "the|a|of|to|in|is|and"


# The DISTINCT 3-gram shingle set, built ARRAY-SIDE inside each row. The
# round-4 shape exploded words and ran a lead() window over (doc_id, pos)
# — a full shuffle+sort of the word table (~20x the document table, the
# largest intermediate in every dedup-family plan) just to pair adjacent
# words that were ALREADY adjacent in the source string. transform over
# the split array builds the same shingles row-locally and array_distinct
# replaces the distinct() exchange, so the first shuffle any consumer
# pays is its own (dd2's groupBy(shingle); dd3/dd5 pay none at all).
#
# The outer transform(array(split(..)), ws -> ..)[0] is a LAMBDA BINDING,
# not decoration: `ws` appears 5 times in the shingle builder, and a
# withColumn alias gets inlined by CollapseProject into every reference —
# the first version re-ran split(text) per reference and per consumer
# (plan audit: 33 split() nodes in dd2's plan, 12 transform() in dd3's;
# dd2 ran 3.6x slower than the shape it replaced). A lambda variable is
# bound once per element, so split runs exactly once per row no matter
# how the consumer plan collapses. Multi-consumer ARRAYS additionally go
# behind an explode(array(..)) Generate barrier (see dd3/dd5): a
# generator output is a real attribute, which projects cannot inline.
_SHINGLES_EXPR = (
    "transform(array(split(text, ' ')), ws -> "
    "array_distinct(CASE WHEN size(ws) >= 3 "
    "THEN transform(sequence(0, size(ws) - 3), "
    "i -> concat_ws(' ', ws[i], ws[i + 1], ws[i + 2])) "
    "ELSE cast(array() as array<string>) END))[0]"
)


# The shared cross-engine signed 64-bit hash (functions/hash64.py): the
# DuckDB-side spelling for the SQL oracles. The Spark side uses the
# lambda-bound _HASH64_LAMBDA twin below (value-identical; HOF lambdas
# get no codegen CSE, so the Column form re-ran md5 ~3x per element).
from ..functions.hash64 import HASH64_SQL as _HASH64_SQL  # noqa: E402


# --- exact dedup (hash groupBy) ----------------------------------------------
def dd1_exact_dedup(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    return (
        docs.withColumn("fp", F.md5(F.col("text").cast("binary")))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("fp").alias("n_distinct"),
            (F.count("*") - F.countDistinct("fp")).alias("n_dupes"),
        )
    )


DD1_SQL = """
SELECT source, count(*) AS n_docs, count(DISTINCT md5(text)) AS n_distinct,
       count(*) - count(DISTINCT md5(text)) AS n_dupes
FROM documents GROUP BY source
"""


# --- n-gram Jaccard near-dup pairs -------------------------------------------
JACCARD_MIN = 0.12

# Stop-shingle cap: a shingle present in more than this many documents is
# dropped BEFORE pair generation. Without it, one boilerplate shingle
# shared by 10^6 docs makes a 10^12-pair group (the round-1 scale-killer);
# with it, no blocking key ever produces more than MAX_SHINGLE_DF^2/2
# pairs regardless of corpus size. 64 > the max df observed in the test
# corpora, so small-scale results are unchanged; tests/test_hot_shingle.py
# proves the bound bites on a hot-key fixture.
MAX_SHINGLE_DF = 64


def dd2_ngram_jaccard_pairs(spark, sf_dir):
    """Candidate pairs WITHOUT a shingle self-join: group each shingle's
    doc-list (bounded <= MAX_SHINGLE_DF by the stop-shingle cap) and
    explode its ordered pairs array-side. The shingle table is exchanged
    ONCE and read three times (ReusedExchange, asserted in
    tests/test_plans.py): the df-count aggregate, the join probe, and —
    via the join output's preserved hashpartitioning(shingle) — the
    collect_list groupBy. Pair blow-up stays bounded at df*(df-1)/2 <=
    2016 rows per shingle group."""
    docs = t(spark, sf_dir, "documents")
    sh = docs.select("doc_id", F.explode(F.expr(_SHINGLES_EXPR)).alias("shingle"))
    # df-count pre-filter BEFORE collect_list, as a co-partitioned
    # shuffle_hash semi-join instead of a window count: hot boilerplate
    # shingles (df > MAX_SHINGLE_DF, potentially 10^6+ docs at corpus
    # scale) are dropped without ever materializing their doc-list in an
    # aggregation buffer — filtering on F.size AFTER the agg would build
    # the multi-million-element array first. Round 6 used
    # count() OVER (PARTITION BY shingle) for this, which shares the
    # exchange but pays a full per-partition SORT of the shingle rows in
    # the window sorter; this spelling keeps the single exchange and
    # drops the sort — measured 1.11 -> 0.98 s best over 6 interleaved
    # reps at sf0.1 (round-7 probe, BENCH.md). Three deliberate details:
    # * the explicit repartition IS the one exchange; both the count
    #   branch and the join probe hang off it (ReusedExchange) and the
    #   join output keeps its hashpartitioning, so the collect_list
    #   groupBy adds none.
    # * count("doc_id") not count("*") (same value: doc_id is never
    #   null): the count branch must REFERENCE doc_id or column pruning
    #   rewrites its exchange to shingle-only, which no longer matches
    #   the probe's exchange and forces a second scan + shingle build.
    # * shuffle_hash hint: both sides are co-partitioned, so SMJ's
    #   re-sort is pure waste; the build side is the per-partition slice
    #   of distinct shingles, the same per-partition memory class as the
    #   count aggregate's own hash table.
    sh2 = sh.repartition("shingle")
    dfc = (
        sh2.groupBy("shingle")
        .agg(F.count("doc_id").alias("df"))
        .filter(F.col("df") <= MAX_SHINGLE_DF)
        .drop("df")
    )
    grouped = (
        sh2.join(dfc.hint("shuffle_hash"), "shingle")
        .groupBy("shingle")
        .agg(F.collect_list("doc_id").alias("ids"))
    )
    sizes = (
        grouped.select(F.explode("ids").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("sz"))
    )
    # ordered pairs from the sorted doc-list: (ids[i], ids[j]) for i<j
    pair_expr = (
        "flatten(transform(sids, (x, i) -> "
        "transform(slice(sids, i + 2, size(sids)), y -> struct(x AS a, y AS b))))"
    )
    inter = (
        grouped.filter(F.size("ids") >= 2)
        .withColumn("sids", F.sort_array("ids"))
        .select(F.explode(F.expr(pair_expr)).alias("p"))
        .groupBy(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    j = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("n_union", F.col("sz_a") + F.col("sz_b") - F.col("n_inter"))
        .withColumn("jaccard", F.round(F.col("n_inter") / F.col("n_union"), 6))
    )
    return j.filter(F.col("jaccard") >= JACCARD_MIN).select(
        "doc_a", "doc_b", "n_inter", "n_union", "jaccard"
    )


DD2_SQL = f"""
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents
), sh_all AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           word || ' ' || lead(word, 1) OVER w || ' ' || lead(word, 2) OVER w AS shingle
    FROM words WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
  ) WHERE shingle IS NOT NULL
), sh AS (
  SELECT doc_id, shingle FROM sh_all
  WHERE shingle IN (SELECT shingle FROM sh_all
                    GROUP BY shingle HAVING count(*) <= {MAX_SHINGLE_DF})
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_inter,
       sa.sz + sb.sz - n_inter AS n_union,
       round(n_inter / (sa.sz + sb.sz - n_inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(n_inter / (sa.sz + sb.sz - n_inter), 6) >= {JACCARD_MIN}
"""


# --- MinHash signatures + LSH band pairs --------------------------------------
# hash64 (functions/hash64.py) re-spelled with md5/conv LAMBDA-BOUND: a
# higher-order-function lambda body is evaluated interpreted, with no
# codegen subexpression elimination, so the plain Column form (md
# referenced by hi and lo, hi referenced twice) re-ran md5 ~3x per
# element. Value-identical to hash64()/HASH64_SQL (oracle-checked).
_HASH64_LAMBDA = (
    "transform(array(md5(cast({x} as binary))), md -> "
    "transform(array(cast(conv(substr(md, 1, 8), 16, 10) as bigint)), hi -> "
    "(hi - (CASE WHEN hi >= 2147483648 THEN 4294967296 ELSE 0 END))"
    " * 4294967296"
    " + cast(conv(substr(md, 9, 8), 16, 10) as bigint))[0])[0]"
)


def _hs_chain():
    """Distinct shingle-hash ARRAY (h = hash64 % MERSENNE, signed — both
    engines' % keep the dividend's sign). array_distinct AFTER hashing
    mirrors the oracle's DISTINCT (doc_id, h): two shingles colliding to
    one h must count once downstream. One expression tree — consumers
    must reference it exactly once (explode or the Generate barrier)."""
    return F.expr(
        f"array_distinct(transform({_SHINGLES_EXPR}, "
        f"s -> ({_HASH64_LAMBDA.format(x='s')}) % {MERSENNE}))"
    )


def _shingle_hashes(spark, sf_dir):
    """(doc_id, h) distinct shingle-hash rows — zero exchanges: the whole
    split->shingle->hash->distinct chain sits inside ONE Generate,
    evaluated once per document row."""
    docs = t(spark, sf_dir, "documents")
    return docs.select("doc_id", F.explode(_hs_chain()).alias("h"))


def dd3_minhash_signatures(spark, sf_dir):
    """MinHash signatures with NO wide shuffle anywhere: min_i((a*h+b) % p)
    folds over the row-local hash array — the round-4 shape's explode +
    groupBy(doc_id) exchange (a full pass over the word-level table) is
    gone. At 100 TB the signature job is embarrassingly parallel:
    scan -> project, no wide edge at all. (t_fanout's round-robin only
    fires on tiny unsplittable bench files — see queries/common.py.)

    All 8 permutation minima are computed in ONE aggregate() pass with an
    8-wide accumulator. HOF lambda bodies run interpreted (no codegen, no
    CSE), so the cost driver is the NUMBER of lambda invocations: the
    previous 8 array_min(transform(..)) columns invoked a lambda 16x per
    element (8 transforms + 8 mins); the fold invokes one lambda per
    element doing all 8 least/mul/mod steps inline (measured 0.80->0.74s
    single-threaded at sf0.1; the remaining cost is the md5 chain itself,
    shared with dd4/dd5 via the unified hash64).

    explode(array(chain)) materializes the hash array / the signature
    array as real attributes (exactly one output row per input row):
    consumers reference the ATTRIBUTE, which CollapseProject cannot
    inline — without the barrier the whole split->hash chain was
    duplicated into every consumer column (12 transform() nodes in the
    plan, 7x slower)."""
    docs = t_fanout(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", F.explode(F.array(_hs_chain())).alias("hs")
    ).filter(F.size("hs") > 0)
    init = ", ".join([f"{MERSENNE}L"] * len(MINHASH_COEFFS))
    steps = ", ".join(
        f"least(acc[{i}], ({a}L * h + {b}L) % {MERSENNE}L)"
        for i, (a, b) in enumerate(MINHASH_COEFFS)
    )
    sig = base.select(
        "doc_id",
        F.explode(
            F.array(F.expr(f"aggregate(hs, array({init}), (acc, h) -> array({steps}))"))
        ).alias("mh"),
    )
    return sig.select(
        "doc_id", *[F.col("mh")[i].alias(f"mh{i}") for i in range(len(MINHASH_COEFFS))]
    )


_SH_SQL = f"""
  SELECT DISTINCT doc_id,
         {_HASH64_SQL.format(x='shingle')} % {MERSENNE} AS h
  FROM (
    SELECT doc_id,
           word || ' ' || lead(word, 1) OVER w || ' ' || lead(word, 2) OVER w AS shingle
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word,
                 generate_subscripts(string_split(text, ' '), 1) AS pos
          FROM documents)
    WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
  ) WHERE shingle IS NOT NULL
"""

DD3_SQL = "SELECT doc_id, " + ", ".join(
    f"min(({a} * h + {b}) % {MERSENNE}) AS mh{i}"
    for i, (a, b) in enumerate(MINHASH_COEFFS)
) + f" FROM ({_SH_SQL}) GROUP BY doc_id"


def dd4_minhash_band_pairs(spark, sf_dir):
    """LSH: 4 bands x 2 rows; pairs sharing any band are near-dup candidates."""
    sig = dd3_minhash_signatures(spark, sf_dir)
    bands = None
    for band in range(4):
        part = sig.select(
            "doc_id",
            F.lit(band).alias("band"),
            F.concat_ws(
                "_", F.col(f"mh{2 * band}"), F.col(f"mh{2 * band + 1}")
            ).alias("bkey"),
        )
        bands = part if bands is None else bands.unionByName(part)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_shared_bands"))
    )


DD4_SQL = f"""
WITH sig AS ({DD3_SQL}),
bands AS (
  SELECT doc_id, 0 AS band, mh0::varchar || '_' || mh1::varchar AS bkey FROM sig
  UNION ALL SELECT doc_id, 1, mh2::varchar || '_' || mh3::varchar FROM sig
  UNION ALL SELECT doc_id, 2, mh4::varchar || '_' || mh5::varchar FROM sig
  UNION ALL SELECT doc_id, 3, mh6::varchar || '_' || mh7::varchar FROM sig
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared_bands
FROM bands a JOIN bands b
  ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
GROUP BY 1, 2
"""


# --- SimHash ---------------------------------------------------------------
def _bit_weight(j: int) -> int:
    """Signed-int64 contribution of simhash bit j (bit 63 = the sign bit)."""
    return -(2**63) if j == 63 else 2**j


def _simhash_vals(spark, sf_dir):
    """(doc_id, simhash): 64-bit SimHash over per-word md5-derived hashes.

    The j-th bit of the signature is sign(sum over word OCCURRENCES of +1
    if bit j of hash(word) else -1) — identical to the cnt-weighted sum
    over distinct words; the 64 bits pack into ONE signed int64 (bit 63
    contributes -2^63), which both engines reconstruct with identical
    two's-complement arithmetic.

    Like dd3, the whole computation is ARRAY-SIDE (zero exchanges): the
    round-4 shape shuffled word rows twice (groupBy(doc_id, word) then
    groupBy(doc_id)); now the per-word hashes live in a row-local array
    and each bit-sum is an aggregate() over it. The hash array is
    materialized ONCE per row behind the explode(array(..)) Generate
    barrier (see _SHINGLES_EXPR note): 64 consumers referencing a plain
    withColumn alias invite CollapseProject to inline the md5 chain 64x."""
    docs = t_fanout(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    base = docs.select(
        "doc_id",
        F.explode(
            F.array(
                F.expr(
                    "transform(split(text, ' '), "
                    f"w -> {_HASH64_LAMBDA.format(x='w')})"
                )
            )
        ).alias("hws"),
    )
    def _bit_sum(j: int):
        # factory closure: aggregate()'s merge lambda must be exactly
        # (acc, x) — a j=j default arg changes the visible arity
        return F.aggregate(
            "hws",
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + F.when(
                F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1,
                F.lit(1).cast("long"),
            ).otherwise(F.lit(-1).cast("long")),
        ).alias(f"s{j}")

    bit_sums = [_bit_sum(j) for j in range(SIMHASH_BITS)]
    agg = base.select("doc_id", *bit_sums)
    sim = None
    for j in range(SIMHASH_BITS):
        bit = F.when(F.col(f"s{j}") >= 0, F.lit(_bit_weight(j)).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sim = bit if sim is None else sim + bit
    return agg.select("doc_id", sim.alias("simhash"))


def dd5_simhash(spark, sf_dir):
    return _simhash_vals(spark, sf_dir)


def _bit_weight_sql(j: int) -> str:
    # -2^63 cannot be written as a single literal (parsers read it as
    # -(2^63), which overflows); (-max - 1) is the portable spelling
    return "(-9223372036854775807 - 1)" if j == 63 else f"{2**j}::bigint"


_SIMHASH_SQL = (
    "SELECT doc_id, "
    + " + ".join(
        f"(CASE WHEN s{j} >= 0 THEN {_bit_weight_sql(j)} ELSE 0::bigint END)"
        for j in range(SIMHASH_BITS)
    )
    + " AS simhash FROM (SELECT doc_id, "
    + ", ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN cnt ELSE -cnt END) AS s{j}"
        for j in range(SIMHASH_BITS)
    )
    + f""" FROM (
      SELECT doc_id, word, count(*) AS cnt, {_HASH64_SQL.format(x='word')} AS h
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
      GROUP BY doc_id, word
    ) GROUP BY doc_id)"""
)

DD5_SQL = _SIMHASH_SQL


# --- SimHash Hamming near-dup pairs ------------------------------------------
# The SimHash *consumer* (what dd4 is to dd3): near-dup pairs by Hamming
# distance over the 64-bit signature. Blocking: 4 bands x 16 bits — by
# pigeonhole, any pair with hamming <= 3 matches EXACTLY on at least one
# band, so the band equi-join is a complete (not approximate) candidate
# generator for the <= 3 threshold; exact bit_count(xor) verifies each
# candidate. At 10^12 docs each band key has 2^16 values per band over a
# near-uniform hash, and hot keys stay bounded because near-identical
# boilerplate is already removed upstream by dd1/dd6.
HAMMING_MAX = 3
SIM_BAND_BITS = 16
N_SIM_BANDS = SIMHASH_BITS // SIM_BAND_BITS


def dd8_simhash_hamming_pairs(spark, sf_dir):
    sim = _simhash_vals(spark, sf_dir)
    bands = None
    for b_ in range(N_SIM_BANDS):
        part = sim.select(
            "doc_id",
            "simhash",
            F.lit(b_).alias("band"),
            F.shiftright("simhash", SIM_BAND_BITS * b_)
            .bitwiseAND(F.lit(65535))
            .alias("key"),
        )
        bands = part if bands is None else bands.unionByName(part)
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()  # a pair can collide in >1 band
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("int")
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= HAMMING_MAX)
        .select("doc_a", "doc_b", "hamming")
    )


DD8_SQL = f"""
WITH sim AS ({_SIMHASH_SQL}),
bands AS (
  {" UNION ALL ".join(
      f"SELECT doc_id, simhash, {b} AS band,"
      f" ((simhash >> {SIM_BAND_BITS * b}) & 65535) AS key FROM sim"
      for b in range(N_SIM_BANDS))}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sh_a, b.simhash AS sh_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, cast(bit_count(xor(sh_a, sh_b)) AS integer) AS hamming
FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= {HAMMING_MAX}
"""


# --- text analysis -----------------------------------------------------------
def tx1_language_id(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", " "))
    n_stop = F.expr(f"regexp_count(text, '\\\\b({STOPWORDS})\\\\b')")
    guess = F.when(n_stop * 20 >= n_tok, "en").otherwise("unknown")
    return (
        docs.withColumn("lang_guess", guess)
        .groupBy("lang", "lang_guess")
        .agg(F.count("*").alias("n_docs"))
    )


TX1_SQL = f"""
SELECT lang,
       CASE WHEN len(regexp_extract_all(text, '\\b({STOPWORDS})\\b')) * 20
                 >= len(string_split(text, ' '))
            THEN 'en' ELSE 'unknown' END AS lang_guess,
       count(*) AS n_docs
FROM documents GROUP BY 1, 2
"""


def tx2_quality_score(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", " "))
    n_stop = F.expr(f"regexp_count(text, '\\\\b({STOPWORDS})\\\\b')")
    len_score = F.least(F.col("n_chars") / 400.0, F.lit(1.0))
    stop_score = F.least(n_stop * 10.0 / n_tok, F.lit(1.0))
    score = F.round(0.6 * len_score + 0.4 * stop_score, 6)
    return (
        docs.withColumn("q", score)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.sum(F.col("q").cast("decimal(24,6)")).cast("double"), 4).alias(
                "sum_quality"
            ),
            F.sum((F.col("q") >= 0.8).cast("int")).alias("n_high_quality"),
        )
    )


TX2_SQL = f"""
SELECT source, count(*) AS n_docs,
       round(cast(sum(cast(q as decimal(24,6))) as double), 4) AS sum_quality,
       cast(sum(CASE WHEN q >= 0.8 THEN 1 ELSE 0 END) AS bigint) AS n_high_quality
FROM (
  SELECT source,
         round(0.6 * least(n_chars / 400.0, 1.0)
             + 0.4 * least(len(regexp_extract_all(text, '\\b({STOPWORDS})\\b')) * 10.0
                           / len(string_split(text, ' ')), 1.0), 6) AS q
  FROM documents
)
GROUP BY source
"""


def tx3_token_stats(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    # source rides the explode directly — the previous shape re-joined the
    # word rows back to documents on doc_id (a second scan + join) just to
    # recover a column that was already on the row being exploded
    words = docs.select(
        "source", "doc_id", F.explode(F.split("text", " ")).alias("word")
    )
    return words.groupBy("source").agg(
        F.count("*").alias("n_tokens"),
        F.countDistinct("word").alias("n_unique_tokens"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.max(F.length("word")).alias("max_token_len"),
    )


TX3_SQL = """
SELECT source, count(*) AS n_tokens, count(DISTINCT word) AS n_unique_tokens,
       count(DISTINCT doc_id) AS n_docs, max(len(word)) AS max_token_len
FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS word FROM documents)
GROUP BY source
"""


def tx4_fingerprint(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.col("text")), " +", " ")
    fp = F.substring(F.md5(norm.cast("binary")), 1, 16)
    return (
        docs.withColumn("fp", fp)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("fp").alias("n_fingerprints"),
            F.min("fp").alias("min_fp"),
        )
    )


TX4_SQL = """
SELECT lang, count(*) AS n_docs,
       count(DISTINCT substr(md5(regexp_replace(lower(text), ' +', ' ', 'g')), 1, 16)) AS n_fingerprints,
       min(substr(md5(regexp_replace(lower(text), ' +', ' ', 'g')), 1, 16)) AS min_fp
FROM documents GROUP BY lang
"""


def tx5_length_quantiles(spark, sf_dir):
    """EXACT interpolated length quantiles per source — via a bounded
    histogram, not a per-group sort or sketch. For an integer-valued
    column the (group, value) histogram collapses 10^12 rows map-side into
    |groups| x |distinct values| rows; exact quantile_cont semantics are
    then a cumulative-count window + linear interpolation over that tiny
    table. This is the sketch-free exact-quantile technique for
    integer/low-cardinality measures at 100 TB (the percentile sketch in
    operators/aggregates.py remains the path for continuous measures).
    Training-data use: document-length distribution per source feeds the
    length-based quality filters (tx2)."""
    docs = t(spark, sf_dir, "documents")
    hist = docs.groupBy("source", "n_chars").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("source").orderBy("n_chars")
    hist = (
        hist.withColumn("cum_end", F.sum("cnt").over(w))
        .withColumn("cum_start", F.col("cum_end") - F.col("cnt"))
        .withColumn("n", F.sum("cnt").over(Window.partitionBy("source")))
    )
    aggs = []
    for tag, q in (("p25_chars", 0.25), ("p50_chars", 0.50), ("p95_chars", 0.95)):
        pos = F.lit(q) * (F.col("n") - 1)
        lo, hi = F.floor(pos), F.ceil(pos)
        v_lo = F.max(
            F.when((F.col("cum_start") <= lo) & (lo < F.col("cum_end")), F.col("n_chars"))
        )
        v_hi = F.max(
            F.when((F.col("cum_start") <= hi) & (hi < F.col("cum_end")), F.col("n_chars"))
        )
        frac = F.max(pos - lo)
        aggs.append(F.round(v_lo + (v_hi - v_lo) * frac, 6).alias(tag))
    return hist.groupBy("source").agg(
        F.max("n").alias("n_docs"), *aggs
    )


TX5_SQL = """
SELECT source, count(*) AS n_docs,
       round(quantile_cont(n_chars, 0.25), 6) AS p25_chars,
       round(quantile_cont(n_chars, 0.50), 6) AS p50_chars,
       round(quantile_cont(n_chars, 0.95), 6) AS p95_chars
FROM documents GROUP BY source
"""




# --- near-dup clustering: connected components over candidate pairs ----------
# The dedup endgame: cluster near-duplicate docs and elect a canonical id
# (min doc_id per component). Spark side: distributed connected components
# (operators/graph.py) over the candidate-pair edge set, which the shingle
# blocking already bounds; oracle side: transitive closure via a DuckDB
# recursive CTE. Both converge to the same deterministic fixpoint.
MIN_SHARED_SHINGLES = 3


def _candidate_edges(spark, sf_dir):
    # same no-self-join shape as dd2: group each shingle hash's doc-list
    # (stop-shingle cap bounds it at MAX_SHINGLE_DF) and explode ordered
    # pairs array-side — one pass over the shingle rows. As in dd2
    # (round 7), the df-count pre-filter runs BEFORE collect_list as a
    # co-partitioned shuffle_hash semi-join off the same explicit
    # repartition exchange: hot shingles are dropped without ever
    # materializing a giant array, and no window sorter is paid. See
    # dd2_ngram_jaccard_pairs for why count("doc_id") and the hint.
    sh = _shingle_hashes(spark, sf_dir).repartition("h")
    dfc = (
        sh.groupBy("h")
        .agg(F.count("doc_id").alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= MAX_SHINGLE_DF))
        .drop("df")
    )
    grouped = (
        sh.join(dfc.hint("shuffle_hash"), "h")
        .groupBy("h")
        .agg(F.collect_list("doc_id").alias("ids"))
    )
    pair_expr = (
        "flatten(transform(sids, (x, i) -> "
        "transform(slice(sids, i + 2, size(sids)), y -> struct(x AS a, y AS b))))"
    )
    return (
        grouped.withColumn("sids", F.sort_array("ids"))
        .select(F.explode(F.expr(pair_expr)).alias("p"))
        .groupBy(F.col("p.a").alias("src"), F.col("p.b").alias("dst"))
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= MIN_SHARED_SHINGLES)
        .select("src", "dst")
    )


def dd6_dedup_clusters(spark, sf_dir):
    """Near-dup clusters: connected components of the candidate-pair graph
    via the large-star / small-star rounds of operators/graph.py cc_bigstar
    — the O(log^2 n)-round kernel that survives 10^12 edges.
    tests/test_cc_bigstar.py checks its clusters against a pure-Python
    union-find over the same candidate edges on the real corpus."""
    from ..operators.graph import cc_bigstar

    return cc_bigstar(_candidate_edges(spark, sf_dir)).groupBy("cluster_id").agg(
        F.count("*").alias("n_docs"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


DD6_SQL = f"""
WITH RECURSIVE sh_all AS ({_SH_SQL}),
sh AS (
  SELECT doc_id, h FROM sh_all
  WHERE h IN (SELECT h FROM sh_all
              GROUP BY h HAVING count(*) <= {MAX_SHINGLE_DF})
),
base_edges AS (
  SELECT a.doc_id AS src, b.doc_id AS dst
  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING count(*) >= {MIN_SHARED_SHINGLES}
), edges AS (
  SELECT src, dst FROM base_edges
  UNION ALL SELECT dst, src FROM base_edges
), nodes AS (
  SELECT DISTINCT src AS doc_id FROM edges
), reach(a, b) AS (
  SELECT doc_id, doc_id FROM nodes
  UNION
  SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b
), labels AS (
  SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a
)
SELECT cluster_id, count(*) AS n_docs, min(doc_id) AS min_doc,
       max(doc_id) AS max_doc
FROM labels GROUP BY cluster_id
"""


QUERIES = {
    "dd1_exact_dedup": (dd1_exact_dedup, DD1_SQL),
    "dd2_ngram_jaccard_pairs": (dd2_ngram_jaccard_pairs, DD2_SQL),
    "dd3_minhash_signatures": (dd3_minhash_signatures, DD3_SQL),
    "dd4_minhash_band_pairs": (dd4_minhash_band_pairs, DD4_SQL),
    "dd5_simhash": (dd5_simhash, DD5_SQL),
    "dd8_simhash_hamming_pairs": (dd8_simhash_hamming_pairs, DD8_SQL),
    "tx1_language_id": (tx1_language_id, TX1_SQL),
    "tx2_quality_score": (tx2_quality_score, TX2_SQL),
    "tx3_token_stats": (tx3_token_stats, TX3_SQL),
    "tx4_fingerprint": (tx4_fingerprint, TX4_SQL),
    "tx5_length_quantiles": (tx5_length_quantiles, TX5_SQL),
    "dd6_dedup_clusters": (dd6_dedup_clusters, DD6_SQL),
}
