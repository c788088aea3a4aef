"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference's own operator set (task mandate): exact hash dedup,
word-shingle Jaccard, MinHash+LSH, SimHash — each Catalyst-native (no Python
in the hot path) and each paired with a DuckDB oracle in ORACLES.

To make the checks non-trivial on the synthetic corpus, every operator runs
over an *augmented* documents table with planted duplicates, built
identically in Spark and SQL:

* every 10th document duplicated verbatim            (exact dups)
* every 5th document with every 7th token dropped    (near dups, ~16% shingle
  Jaccard — caught by LSH with 1-row bands + verify)

Scale design: shingle explode -> groupBy is the classic shuffle-heavy shape;
frequent shingles are dropped (stop-shingle cap) before the pair join to
bound the quadratic blowup, the signature table is tiny (docs × K), and the
band join is an equi-join AQE can handle.  At 100 TB the same plan holds with
bucketed band keys; no driver-side state anywhere.
"""

from __future__ import annotations

from pyspark.sql import Observation
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .relational import fan_out, sliding_ngram_keys, sliding_ngrams, t

__all__ = ["augmented_docs", "exact_duplicates", "ngram_jaccard_pairs",
           "minhash_lsh_pairs", "simhash_signatures", "duplicate_components",
           "span_dup_fraction", "span_removal", "line_dedup",
           "boilerplate_strip_expr", "boilerplate_gate_counts",
           "training_split", "ORACLES", "QUERIES"]

SHINGLE_K = 5          # words per shingle
STOP_SHINGLE_MAX = 50  # shingles in more docs than this are dropped
JACCARD_MIN = 0.12     # near-dup verification threshold

# MinHash signature: one band per affine mix (a*h1 + b*h2 + c) mod MIX_P of
# the two 30-bit halves of each shingle's 60-bit md5 prefix — a 2-universal
# family.  Every product stays < 2^61 and the sum < 2^62, so the arithmetic
# is exact signed-64-bit in BOTH engines (DuckDB bigint overflow *throws*;
# Spark ANSI mode too — neither happens).  32 truly-independent bands where
# the old 16 correlated md5-rotations sat, because recall for a pair at
# Jaccard j is 1-(1-j)^K: at the planted-near-dup j~0.16, K=32 gives 0.996
# (K=16 only 0.94; measured 245/245 at sf0.01, QUALITY.md).  Extra bands
# only ADD candidates and every candidate is exact-verified, so precision
# stays 1.0 by construction.  The triples are fixed literals (seeded once,
# offline) so Spark and the DuckDB oracle mix identically.
MIX_P = 2147483647     # 2^31 - 1
MIX_SPLIT = 1073741824  # 2^30: packed 60-bit hash -> (h div, h mod) halves
MINHASH_MIXES = [
    (717395972, 227487307, 1317400626), (962475872, 1929947870, 490618751),
    (462240092, 1284645891, 1090413248), (1431529136, 654862387, 1421535055),
    (1312774056, 1680807097, 1057614983), (1817001456, 1535836188, 1646208546),
    (744079161, 1331840080, 1668092631), (501261842, 1205741253, 593391866),
    (536835373, 1333968182, 223266992), (1939989308, 16884942, 1507214981),
    (572961412, 952484497, 2018947290), (238894631, 1519938847, 214853840),
    (1735374080, 359876977, 2066700137), (924564047, 1616274143, 2039551486),
    (447338296, 1521965085, 1294810732), (1003592888, 1976015157, 1381757532),
    (456734525, 1316604185, 887045627), (1017798508, 1439752872, 13403355),
    (494141925, 1415383314, 456018594), (59986149, 489290041, 402463332),
    (881224031, 1727121848, 50436714), (1971699573, 1913778879, 708684055),
    (494048336, 992615490, 640597677), (1110656761, 1543693694, 1136739902),
    (69115121, 2085371933, 1258455019), (1341578369, 202912569, 1449657543),
    (1583937633, 1647552085, 496155237), (255442419, 1019696101, 1835276603),
    (1797244303, 2051270256, 996033225), (1788833759, 486240460, 1494685296),
    (1973106613, 429694468, 1671185418), (1640861950, 814800049, 1303717211),
]
MINHASH_K = len(MINHASH_MIXES)


def augmented_docs(spark, sf_dir):
    """documents + planted exact/near duplicates (see module docstring).

    The sf* documents tables are ONE parquet split; without a fan-out the
    whole shingle+md5 map stage would run on a single core (a real crawl
    table has thousands of splits and never needs this)."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    docs = fan_out(docs)
    near = (docs.where(F.col("doc_id") % 5 == 0)
            .select((F.col("doc_id") + 100000).alias("doc_id"),
                    F.array_join(
                        F.filter(F.split("text", " "),
                                 lambda x, i: ((i + 1) % 7) != 0),
                        " ").alias("text")))
    exact = (docs.where(F.col("doc_id") % 10 == 0)
             .select((F.col("doc_id") + 200000).alias("doc_id"), "text"))
    return docs.unionByName(near).unionByName(exact)


AUG_SQL = """
aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT d.doc_id + 100000 AS doc_id,
         (SELECT string_agg(tok, ' ' ORDER BY i)
          FROM (SELECT unnest(string_split(d.text, ' ')) AS tok,
                       generate_subscripts(string_split(d.text, ' '), 1) AS i) u
          WHERE i % 7 != 0) AS text
  FROM documents d WHERE d.doc_id % 5 = 0
  UNION ALL
  SELECT doc_id + 200000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
)
"""


# --- exact dedup: hash-groupBy, keep min id ---------------------------------

def exact_duplicates(spark, sf_dir):
    """(dup_id, keep_id) for every document whose text hash already has an
    earlier representative.  One shuffle on the 32-char hash."""
    aug = augmented_docs(spark, sf_dir)
    h = aug.select("doc_id", F.md5("text").alias("h"))
    w = Window.partitionBy("h")
    return (h.withColumn("keep_id", F.min("doc_id").over(w))
            .where(F.col("doc_id") != F.col("keep_id"))
            .select(F.col("doc_id").alias("dup_id"), "keep_id"))


ORACLE_EXACT = f"""
WITH {AUG_SQL},
hashed AS (SELECT doc_id, md5(text) AS h FROM aug),
keep AS (SELECT doc_id, MIN(doc_id) OVER (PARTITION BY h) AS keep_id FROM hashed)
SELECT doc_id AS dup_id, keep_id FROM keep WHERE doc_id != keep_id
"""


# --- frame reuse -------------------------------------------------------------

def materialize(df):
    """The one way the dedup builders and the curation job reuse a frame:
    ``df`` computed once, into a local checkpoint that every later reader
    scans instead of re-running its plan (and whatever committed tables
    that plan reads).  Unlike ``.cache()`` it needs no release and no
    registry: the checkpoint is freed once the returned frame is
    garbage-collected, and it leaves no directory.  The trade: a local
    checkpoint lives in executor storage only, so a lost executor fails
    the job instead of recomputing the lost blocks (the components loop
    and the METS parse in plans/workspace.py accept the same)."""
    return df.localCheckpoint(eager=True)


# --- shingles (shared by jaccard / minhash) ---------------------------------

def _shingles(aug):
    # sliding_ngrams keeps split(text) at O(K) evaluations per row — the
    # closure form re-tokenized per window (O(n²)/doc, see relational.py)
    sh = sliding_ngrams(F.split("text", " "), SHINGLE_K)
    return (aug.select("doc_id", F.explode(F.array_distinct(sh)).alias("shingle")))


def _shingles_hashed(aug):
    """(doc_id, shingle:long) — window grouping keys straight from the
    rotate-xor fold over per-token xxhash64 (relational.sliding_ngram_keys):
    no window string is ever built, so the scan stage allocates long
    arrays instead of k intermediate strings per window.  Drop-in for
    every consumer that uses the shingle only as a grouping key (the
    distinct-window and per-window identities are the same as
    xxhash64(window-text) modulo ~2^-64 collisions)."""
    keys = sliding_ngram_keys(F.split("text", " "), SHINGLE_K)
    return aug.select("doc_id",
                      F.explode(F.array_distinct(keys)).alias("shingle"))


SHINGLES_SQL = f"""
shingles AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(string_split(text, ' '), i, i + {SHINGLE_K - 1}), ' ') AS shingle
  FROM aug, UNNEST(range(1, GREATEST(len(string_split(text, ' ')) - {SHINGLE_K - 1}, 1) + 1)) AS r(i)
)
"""


def _shingle_groups(aug, hash_key: bool = False, carry_minhash: bool = False):
    """(shingle, sorted ids array) with the stop-shingle cap applied.

    ONE exchange over the exploded shingle table, and NO aggregation ever
    holds unbounded per-key state: occurrences are ranked per shingle with
    a ``row_number`` window and cut at cap+1 BEFORE the posting-list
    collect, so a group reaching cap+1 rows is provably over-df and the
    size filter drops it — identical semantics to an exact df-count
    prefilter.  The groupBy reuses the window's hashpartitioning (no
    second exchange) and collects ≤cap+1 rows per key.  The naive
    single-pass shape (collect_list THEN filter on size) was green at
    sf0.1 but a crawl-scale stop shingle ("click here to read more…",
    df ~10^8) would accumulate a 10^8-element list in one aggregation
    task; under the window that key streams through a spillable row
    buffer instead.  (An r4 interim shape ran an exact df-count pass +
    LEFT-SEMI join — equally bounded, but it evaluated the expensive
    shingle explode under two separate exchanges plus a join: measured
    19.6 s vs 10.6 s on the components edge stage at sf0.1.)  Near-dup
    candidate pairs are still generated *inside* each group row with
    array ops (≤ C(cap,2) = 1225 pairs per shingle, bounded), never via a
    self-join of the exploded table.

    ``hash_key=True`` replaces the shingle string with ``xxhash64`` before
    any shuffle: the window and collect exchanges then move 8-byte longs
    instead of ~40-byte strings (~75% less shuffle volume on the hottest
    dedup stages).  Collision odds at 2⁻⁶⁴ are irrelevant to the pair
    semantics.

    ``carry_minhash=True`` additionally packs the 60-bit md5 prefix of the
    shingle into ONE long scan-side (``mh``, split into the two 30-bit
    MINHASH_MIXES inputs after the shuffle) and carries it onto the group
    row with ``first()`` — a per-shingle constant, one md5+conv per
    occurrence, 8 extra shuffle bytes.  The md5 is evaluated in the
    scan-stage projection, so the shingle TEXT never reaches a shuffle on
    any path.

    Grouping-ONLY callers (``hash_key=True`` without ``carry_minhash``)
    get :func:`_shingles_hashed`: the window keys are folded directly
    from per-token hashes, so not even the scan stage builds window
    strings.  The minhash path still needs the window text once (its
    oracle-pinned md5 halves), so it keeps the string windows scan-side
    and hashes the key from them."""
    if hash_key and not carry_minhash:
        sh = _shingles_hashed(aug)
        extra_cols, extra_aggs = [], []
    else:
        sh = _shingles(aug)
        extra_cols, extra_aggs = [], []
        if carry_minhash:
            extra_cols = [
                F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10)
                .cast("long").alias("mh")]
            extra_aggs = [F.first("mh").alias("mh")]
        key = F.xxhash64("shingle") if hash_key else F.col("shingle")
        sh = sh.select("doc_id", key.alias("shingle"), *extra_cols)
    # ONE exchange, still cap-bounded: rank occurrences per shingle with a
    # streaming row_number window and keep only the first cap+1 — a group
    # that reaches cap+1 rows is PROVABLY over-df and is dropped by the
    # size filter below, identically to an exact df-count prefilter.  The
    # follow-up groupBy reuses the window's hashpartitioning (no second
    # exchange) and aggregates ≤cap+1 rows per key, so no aggregation
    # state is ever unbounded.  This replaces the r4 df-count + LEFT-SEMI
    # shape, which was equally bounded but evaluated the shingle explode —
    # the most expensive stage of every dedup query (interpreted HOF eval;
    # lambda expressions never enter whole-stage codegen) — under TWO
    # separate exchanges plus a join (measured: r4 shape 19.6 s vs 10.6 s
    # for the edge stage of dedup_components at sf0.1, this shape returns
    # to the one-pass cost).  A crawl-scale stop shingle (df ~10^8) spills
    # its window buffer to executor disk past 4096 rows instead of OOMing
    # an aggregation task, and only rows 1..cap+1 survive the filter.
    w = Window.partitionBy("shingle").orderBy("doc_id")
    ranked = (sh.withColumn("rn", F.row_number().over(w))
              .where(F.col("rn") <= STOP_SHINGLE_MAX + 1))
    return (ranked.groupBy("shingle")
            .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"),
                 *extra_aggs)
            .where(F.size("ids") <= STOP_SHINGLE_MAX))


def _filtered_shingles(groups):
    """Explode the capped groups back to (doc_id, shingle) long form."""
    return groups.select("shingle", F.explode("ids").alias("doc_id")) \
                 .select("doc_id", "shingle")


FILTERED_SQL = SHINGLES_SQL + f""",
filtered AS (
  SELECT doc_id, shingle FROM (
    SELECT doc_id, shingle, COUNT(*) OVER (PARTITION BY shingle) AS df
    FROM shingles)
  WHERE df <= {STOP_SHINGLE_MAX}
)
"""


# --- n-gram Jaccard near-dup pairs ------------------------------------------

def ngram_jaccard_pairs(spark, sf_dir):
    """All pairs with word-5-gram Jaccard >= threshold.

    Plan: explode distinct shingles -> stop-shingle filter -> self equi-join
    on shingle (the only quadratic step, bounded by the document frequency
    cap) -> pair-count agg -> Jaccard from per-doc shingle counts.
    """
    aug = augmented_docs(spark, sf_dir)
    return _jaccard_from_groups(_shingle_groups(aug, hash_key=True))


def _jaccard_from_groups(groups, restrict_to=None):
    """Exact Jaccard pairs from the capped shingle groups.

    Pairs are emitted inside each group row (ids sorted, strictly-later
    combinations -> id1 < id2, no duplicates) — no self-join of the exploded
    table, so the quadratic step never touches the shuffle.

    ``restrict_to``: optional (id1, id2) candidate frame; when given, the
    pair stream is LEFT-SEMI-joined against it BEFORE the count aggregation,
    so the verify shuffle carries only candidate pairs (the LSH point:
    verification cost scales with candidates, not with all co-shingled
    pairs).  Output is identical to verifying everything and intersecting
    afterwards."""
    pairs = groups.select(F.explode(F.expr(
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids)), "
        "y -> struct(x AS id1, y AS id2))))")).alias("p")) \
        .select("p.id1", "p.id2")
    if restrict_to is not None:
        pairs = pairs.join(restrict_to, ["id1", "id2"], "left_semi")
    common = pairs.groupBy("id1", "id2").agg(F.count(F.lit(1)).alias("c"))
    counts = _filtered_shingles(groups).groupBy("doc_id") \
        .agg(F.count(F.lit(1)).alias("n"))
    n1 = counts.select(F.col("doc_id").alias("id1"), F.col("n").alias("n1"))
    n2 = counts.select(F.col("doc_id").alias("id2"), F.col("n").alias("n2"))
    jac = F.col("c") / (F.col("n1") + F.col("n2") - F.col("c"))
    return (common.join(n1, "id1").join(n2, "id2")
            .select("id1", "id2", F.round(jac, 6).alias("jaccard"))
            .where(F.col("jaccard") >= JACCARD_MIN))


ORACLE_JACCARD = f"""
WITH {AUG_SQL}, {FILTERED_SQL},
counts AS (SELECT doc_id, COUNT(*) AS n FROM filtered GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS c
  FROM filtered a JOIN filtered b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT id1, id2,
       ROUND(c * 1.0 / (n1.n + n2.n - c), 6) AS jaccard
FROM common
JOIN counts n1 ON n1.doc_id = id1
JOIN counts n2 ON n2.doc_id = id2
WHERE c * 1.0 / (n1.n + n2.n - c) >= {JACCARD_MIN}
"""


# --- MinHash + LSH -----------------------------------------------------------

def minhash_lsh_pairs(spark, sf_dir):
    """LSH candidates (1-row bands over a K=32 integer minhash signature),
    verified with true Jaccard.

    Every shingle is reduced to integers IN THE SCAN STAGE — the xxhash64
    group key plus one packed 60-bit md5 prefix (``mh``, one md5+conv per
    occurrence) — so no shuffle on any stage of this query moves shingle
    text (16-byte long rows where r4 moved ~40-byte strings; the
    df-count/semi-join/collect exchanges are the engine's hottest).  The
    k-th band value of a shingle is the affine integer mix
    (a_k*h1 + b_k*h2 + c_k) mod MIX_P over the two 30-bit halves of mh —
    K multiply-adds replacing r4's K 32-char string rotations, and the
    per-doc band minima aggregate over longs instead of strings (map-side
    combinable, a fraction of the comparator and allocation cost).  The
    mix arithmetic is bit-identical in DuckDB (hex-cast + bigint ops,
    products < 2^61), so the oracle remains an exact twin.

    The capped group table feeds both the signature stage and the
    exact-Jaccard verification of the candidates inside one plan, so both
    branches read the one exchange of its window (``ReusedExchange``).
    """
    aug = augmented_docs(spark, sf_dir)
    groups = _shingle_groups(aug, hash_key=True, carry_minhash=True)
    sh = groups.select(F.explode("ids").alias("doc_id"),
                       F.expr(f"mh div {MIX_SPLIT}").alias("h1"),
                       (F.col("mh") % MIX_SPLIT).alias("h2"))
    # all K band minima in ONE wide aggregation (map-side partial combine,
    # no K-fold row explode through the shuffle), then unpivot to long form
    mins = [F.min((F.col("h1") * a + F.col("h2") * b + c) % MIX_P)
            .alias(f"m{k}") for k, (a, b, c) in enumerate(MINHASH_MIXES)]
    sigw = sh.groupBy("doc_id").agg(*mins)
    sig = sigw.select(
        "doc_id",
        F.posexplode(F.array(*[F.col(f"m{k}") for k in range(MINHASH_K)]))
        .alias("k", "minhash"))
    a = sig.select(F.col("doc_id").alias("id1"), "k", "minhash")
    b = sig.select(F.col("doc_id").alias("id2"), "k", "minhash")
    cand = (a.join(b, ["k", "minhash"])
            .where(F.col("id1") < F.col("id2"))
            .select("id1", "id2").distinct())
    # verify ONLY the LSH candidates (restrict_to semi-join) — identical
    # output to verify-all + intersect, but the verify shuffle is O(cand)
    return _jaccard_from_groups(groups, restrict_to=cand)


_MIX_ROWS = ", ".join(f"({k}, {a}, {b}, {c})"
                      for k, (a, b, c) in enumerate(MINHASH_MIXES))

ORACLE_MINHASH = f"""
WITH {AUG_SQL}, {FILTERED_SQL},
halves AS (
  SELECT doc_id,
         ('0x' || substr(md5(shingle), 1, 15))::BIGINT // {MIX_SPLIT} AS h1,
         ('0x' || substr(md5(shingle), 1, 15))::BIGINT % {MIX_SPLIT} AS h2
  FROM filtered),
sig AS (
  SELECT doc_id, k, MIN((h1 * a + h2 * b + c) % {MIX_P}) AS minhash
  FROM halves, (VALUES {_MIX_ROWS}) AS mix(k, a, b, c)
  GROUP BY doc_id, k),
cand AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
  FROM sig a JOIN sig b ON a.k = b.k AND a.minhash = b.minhash
                        AND a.doc_id < b.doc_id),
counts AS (SELECT doc_id, COUNT(*) AS n FROM filtered GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS c
  FROM filtered a JOIN filtered b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id),
verified AS (
  SELECT id1, id2, ROUND(c * 1.0 / (n1.n + n2.n - c), 6) AS jaccard
  FROM common
  JOIN counts n1 ON n1.doc_id = id1
  JOIN counts n2 ON n2.doc_id = id2
  WHERE c * 1.0 / (n1.n + n2.n - c) >= {JACCARD_MIN})
SELECT cand.id1, cand.id2, jaccard
FROM cand JOIN verified ON cand.id1 = verified.id1 AND cand.id2 = verified.id2
"""


# --- SimHash ------------------------------------------------------------------

def simhash_signatures(spark, sf_dir):
    """32-bit SimHash per document from token md5 nibbles.

    Bit b of token t = parity of hex digit b of md5(t) (all 32 hex digits
    used — 16 bits is too short to discriminate at corpus scale: random
    16-bit codes put ~1% of ALL pairs within Hamming 3); the document bit
    is the sign of the vote sum.  Pure SQL bit math — engine-portable and
    vectorized end to end.
    """
    aug = augmented_docs(spark, sf_dir)
    tok = aug.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    bits = (tok.select("doc_id", F.md5("tok").alias("h"),
                       F.explode(F.sequence(F.lit(0), F.lit(31))).alias("b"))
            .withColumn("nib", F.expr(
                "locate(substr(h, b + 1, 1), '0123456789abcdef') - 1"))
            .withColumn("vote", F.when(F.col("nib") % 2 == 1, 1).otherwise(-1)))
    return (bits.groupBy("doc_id", "b").agg(F.sum("vote").alias("v"))
            .withColumn("bit", (F.col("v") > 0).cast("int"))
            .groupBy("doc_id")
            .agg(F.sum(F.col("bit") * F.pow(F.lit(2.0), F.col("b"))
                       .cast("long")).alias("simhash32")))


ORACLE_SIMHASH = f"""
WITH {AUG_SQL},
tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM aug),
bits AS (
  SELECT doc_id, b,
         CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), b + 1, 1)) - 1) % 2 = 1
              THEN 1 ELSE -1 END AS vote
  FROM tok, UNNEST(range(0, 32)) AS bb(b)),
docbits AS (
  SELECT doc_id, b, CASE WHEN SUM(vote) > 0 THEN 1 ELSE 0 END AS bit
  FROM bits GROUP BY doc_id, b)
SELECT doc_id,
       CAST(SUM(bit * CAST(POW(2.0, b) AS BIGINT)) AS BIGINT) AS simhash32
FROM docbits GROUP BY doc_id
"""


SIMHASH_BANDS = 4        # 4 bands x 8 bits over the 32-bit signature
SIMHASH_MAX_HAMMING = 3  # pigeonhole: Hamming<=3 => at least one equal band


def simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs: Hamming distance <= ``SIMHASH_MAX_HAMMING``
    on the 32-bit signature, found via band equi-join.

    The classic simhash dedup shape: split the signature into
    ``SIMHASH_BANDS`` bands of 8 bits — any pair within Hamming distance 3
    must agree on at least one whole band (pigeonhole), so the candidate
    join is an equi-join on (band, band_val) with NO false negatives at
    the operating distance, and the exact bit_count verification touches
    candidates only.  All Catalyst bit math; one shuffle per re-key, same
    scale shape as the MinHash path."""
    sig = simhash_signatures(spark, sf_dir)
    band = (sig.crossJoin(spark.range(SIMHASH_BANDS).select(F.col("id").alias("b")))
            .withColumn("band_val", F.expr(
                "shiftright(simhash32, cast(b * 8 as int)) & 255")))
    a = band.select(F.col("doc_id").alias("id1"),
                    F.col("simhash32").alias("s1"), "b", "band_val")
    c = band.select(F.col("doc_id").alias("id2"),
                    F.col("simhash32").alias("s2"), "b", "band_val")
    cand = (a.join(c, ["b", "band_val"])
            .where(F.col("id1") < F.col("id2"))
            .select("id1", "id2", "s1", "s2").distinct())
    return (cand.withColumn("hamming", F.bit_count(F.expr("s1 ^ s2")))
            .where(F.col("hamming") <= SIMHASH_MAX_HAMMING)
            .select("id1", "id2", F.col("hamming").cast("int").alias("hamming")))


ORACLE_SIMHASH_PAIRS = f"""
WITH {AUG_SQL},
tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM aug),
bits AS (
  SELECT doc_id, b,
         CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), b + 1, 1)) - 1) % 2 = 1
              THEN 1 ELSE -1 END AS vote
  FROM tok, UNNEST(range(0, 32)) AS bb(b)),
docbits AS (
  SELECT doc_id, b, CASE WHEN SUM(vote) > 0 THEN 1 ELSE 0 END AS bit
  FROM bits GROUP BY doc_id, b),
sig AS (
  SELECT doc_id,
         CAST(SUM(bit * CAST(POW(2.0, b) AS BIGINT)) AS BIGINT) AS simhash32
  FROM docbits GROUP BY doc_id),
band AS (
  SELECT doc_id, simhash32, b, (simhash32 >> (b * 8)) & 255 AS band_val
  FROM sig, UNNEST(range(0, {SIMHASH_BANDS})) AS bb(b)),
cand AS (
  SELECT DISTINCT a.doc_id AS id1, c.doc_id AS id2,
         a.simhash32 AS s1, c.simhash32 AS s2
  FROM band a JOIN band c ON a.b = c.b AND a.band_val = c.band_val
                          AND a.doc_id < c.doc_id)
SELECT id1, id2, CAST(bit_count(xor(s1, s2)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(s1, s2)) <= {SIMHASH_MAX_HAMMING}
"""


# --- transitive closure: duplicate components -------------------------------

CC_MAX_ITERS = 20


def _min_label_components(labels, edges_sym, max_iters: int = CC_MAX_ITERS):
    """Min-label propagation with POINTER DOUBLING: each iteration first
    takes the min over direct neighbours (one join + agg), then shortcuts
    ``label(v) <- label(label(v))`` (one join against the label table
    itself).  Labels are node ids, so the doubling step is sound (a label
    is always a node of the same component and labels only decrease) and
    convergence needs O(log diameter) rounds instead of O(diameter) —
    long near-dup chains (template drift A~B~C~...) stop being a cap risk.

    Cost per iteration: 2 joins + 1 aggregation + one :func:`materialize`
    (lineage truncation); the convergence indicator is a max() observed
    on that checkpoint's own job — no separate pass.

    ``labels``: (id, label) start state; ``edges_sym``: symmetric (id1,
    id2) edge list.  Returns the converged (id, label) frame; raises
    loudly on non-convergence (silent truncation would under-deduplicate).
    """
    labels = materialize(labels)
    for _ in range(max_iters):
        neigh = (edges_sym
                 .join(labels, edges_sym.id1 == labels.id, "inner")
                 .groupBy(F.col("id2").alias("id"))
                 .agg(F.min("label").alias("nlabel")))
        stepped = (labels.join(neigh, "id", "left")
                   .select("id", F.col("label").alias("old"),
                           F.least("label", F.coalesce("nlabel", "label"))
                           .alias("mid")))
        lbl2 = labels.select(F.col("id").alias("lid"),
                             F.col("label").alias("llabel"))
        doubled = (stepped.join(lbl2, stepped.mid == lbl2.lid, "left")
                   .select("id", "old",
                           F.least("mid", F.coalesce("llabel", "mid"))
                           .alias("label")))
        changed = Observation()
        labels = materialize(doubled.observe(changed, F.max(
            (F.col("label") != F.col("old")).cast("int")).alias("c"))) \
            .select("id", "label")
        if not changed.get["c"]:
            return labels
    raise RuntimeError(
        f"components did not converge in {max_iters} iters "
        f"(pointer doubling needs ~log2(diameter); raise max_iters)")


def duplicate_components(spark, sf_dir, max_iters: int = CC_MAX_ITERS):
    """Connected components over the duplicate-pair graph: every document
    labelled with the smallest doc_id reachable through exact or near-dup
    edges (the canonical representative a dedup pipeline keeps).

    Pair detection alone under-deduplicates: near-dup similarity is not
    transitive (A~B, B~C but A!~C), so clusters must be closed before
    choosing keepers.  Algorithm: :func:`_min_label_components` — min-label
    propagation with pointer doubling, O(log diameter) rounds, so both
    star-like dup clusters AND long template-drift chains converge well
    inside the (now configurable) ``max_iters`` cap; non-convergence still
    fails loudly rather than silently truncating.
    """
    return duplicate_components_df(augmented_docs(spark, sf_dir),
                                   max_iters=max_iters)


def duplicate_components_df(aug, max_iters: int = CC_MAX_ITERS):
    """df-parameterized core of :func:`duplicate_components` — same plan
    over any (doc_id, text) DataFrame (used by plans/curation.py)."""
    near = _jaccard_from_groups(_shingle_groups(aug, hash_key=True)) \
        .select("id1", "id2")
    h = aug.select("doc_id", F.md5("text").alias("h"))
    w = Window.partitionBy("h")
    exact = (h.withColumn("keep_id", F.min("doc_id").over(w))
             .where(F.col("doc_id") != F.col("keep_id"))
             .select(F.col("keep_id").alias("id1"),
                     F.col("doc_id").alias("id2")))
    edges = near.unionByName(exact)
    # every label round re-joins the edge list: computed once
    edges_sym = materialize(edges.unionByName(
        edges.select(F.col("id2").alias("id1"), F.col("id1").alias("id2")))
        .distinct())
    labels = aug.select(F.col("doc_id").alias("id"),
                        F.col("doc_id").alias("label"))
    labels = _min_label_components(labels, edges_sym, max_iters=max_iters)
    return labels.select(F.col("id").alias("doc_id"),
                         F.col("label").alias("component_id"))


# Shared by ORACLE_COMPONENTS and the stacked ORACLE_VERDICT: the recursive
# transitive closure of the exact/near-dup edge graph (expects `aug` and
# `filtered` CTEs in scope; caller's WITH must be RECURSIVE).
_COMPONENT_CTES = f"""
counts AS (SELECT doc_id, COUNT(*) AS n FROM filtered GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS c
  FROM filtered a JOIN filtered b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id),
near AS (
  SELECT id1, id2 FROM common
  JOIN counts n1 ON n1.doc_id = id1
  JOIN counts n2 ON n2.doc_id = id2
  WHERE c * 1.0 / (n1.n + n2.n - c) >= {JACCARD_MIN}),
hashed AS (SELECT doc_id, md5(text) AS h FROM aug),
keep AS (SELECT doc_id, MIN(doc_id) OVER (PARTITION BY h) AS keep_id FROM hashed),
exact_e AS (SELECT keep_id AS id1, doc_id AS id2 FROM keep WHERE doc_id != keep_id),
edges AS (SELECT id1, id2 FROM near UNION SELECT id1, id2 FROM exact_e),
sym AS (SELECT id1, id2 FROM edges UNION SELECT id2, id1 FROM edges),
reach(id, label) AS (
  SELECT doc_id, doc_id FROM aug
  UNION
  SELECT s.id2, r.label FROM reach r JOIN sym s ON s.id1 = r.id
),
comp AS (SELECT id AS doc_id, MIN(label) AS component_id FROM reach GROUP BY id)
""".strip()

ORACLE_COMPONENTS = f"""
WITH RECURSIVE {AUG_SQL.strip().lstrip()}, {FILTERED_SQL.strip()},
{_COMPONENT_CTES}
SELECT doc_id, component_id FROM comp
"""


# --- cross-snapshot near-dup compaction --------------------------------------

def compaction_demotions_df(corpus, max_iters: int = CC_MAX_ITERS):
    """Docs a periodic compaction pass removes from a committed corpus:
    every member of an exact/near-dup component whose canonical
    (min-doc_id) representative is another document.

    This is the cross-snapshot closure the at-ingest tiers cannot see:
    ingest dedup is exact-only across runs (md5 index) and near-dup
    detection is batch-local (plans/curation.py), so a near-duplicate of
    a PREVIOUS run's kept doc lands in the corpus and stays there until
    compaction closes the component graph over the whole corpus.
    Canonicality by min doc_id keeps the pass idempotent; a production
    corpus would order by (crawl_ts, doc_id) — same plan, different sort
    key.  Returns (doc_id, canonical_id)."""
    comp = duplicate_components_df(corpus.select("doc_id", "text"),
                                   max_iters=max_iters)
    return (comp.where(F.col("component_id") != F.col("doc_id"))
            .select("doc_id", F.col("component_id").alias("canonical_id")))


def curation_compaction(spark, sf_dir):
    """The compaction pass over a deterministic two-crawl corpus: crawl 1
    is the raw documents table; crawl 2 re-crawls every 5th page with
    every 7th token dropped (ids +300000) — near-duplicates that pass the
    exact-only at-ingest index.  Output: the demoted (doc_id,
    canonical_id, crawl) rows; every planted re-crawl must be demoted to
    its crawl-1 canonical."""
    docs = fan_out(t(spark, sf_dir, "documents").select("doc_id", "text"))
    recrawl = (docs.where(F.col("doc_id") % 5 == 0)
               .select((F.col("doc_id") + 300000).alias("doc_id"),
                       F.array_join(
                           F.filter(F.split("text", " "),
                                    lambda x, i: ((i + 1) % 7) != 0),
                           " ").alias("text")))
    corpus = docs.unionByName(recrawl)
    return (compaction_demotions_df(corpus)
            .withColumn("crawl",
                        F.when(F.col("doc_id") >= 300000, F.lit(2))
                        .otherwise(F.lit(1))))


_COMPACT_AUG_SQL = """
aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT d.doc_id + 300000 AS doc_id,
         (SELECT string_agg(tok, ' ' ORDER BY i)
          FROM (SELECT unnest(string_split(d.text, ' ')) AS tok,
                       generate_subscripts(string_split(d.text, ' '), 1) AS i) u
          WHERE i % 7 != 0) AS text
  FROM documents d WHERE d.doc_id % 5 = 0
)
"""

ORACLE_COMPACTION = f"""
WITH RECURSIVE {_COMPACT_AUG_SQL.strip().lstrip()}, {FILTERED_SQL.strip()},
{_COMPONENT_CTES}
SELECT doc_id, component_id AS canonical_id,
       CASE WHEN doc_id >= 300000 THEN 2 ELSE 1 END AS crawl
FROM comp WHERE component_id != doc_id
"""


# --- duplicated-span fraction (Lee et al. 2022-style signal) ----------------

def span_dup_fraction(spark, sf_dir):
    """Per-document duplicated-span fraction: the share of a document's
    distinct word-5-gram shingles that also occur in at least one OTHER
    document.  The document-level signal of substring-dedup pipelines
    (Lee et al., "Deduplicating Training Data Makes Language Models
    Better", public): docs whose text is mostly corpus-repeated spans get
    dropped even when no single whole-doc duplicate exists.

    Scale shape: shingle document-frequency is a map-side-combinable
    ``groupBy(shingle).count`` (the input is already distinct per doc);
    the join back to the shingle table is a keyed equi-join on the
    shingle — hot boilerplate shingles are exactly the AQE skew-join
    case, split at runtime; the per-doc roll-up is the final keyed agg.
    No collect_list of unbounded posting lists anywhere, so a 1M-doc
    stop shingle costs a skewed join partition, not a giant row."""
    return span_dup_fraction_df(augmented_docs(spark, sf_dir))


def span_dup_fraction_df(aug):
    """df-parameterized core of :func:`span_dup_fraction` (used by
    plans/curation.py).  Shuffles are keyed on the string-free window
    keys of :func:`_shingles_hashed` — the per-doc counts never need the
    shingle text, and since r5 the scan never builds it either."""
    sh = _shingles_hashed(aug)
    # per-occurrence df via a partition-only window: ONE evaluation of the
    # shingle explode and two exchanges (shingle, then doc_id), where the
    # previous df-count + join-back shape evaluated the explode twice
    # under three exchanges.  No df cap applies here by design (span
    # fraction counts stop shingles too); a crawl-scale hot key streams
    # through WindowExec's spillable row buffer.
    w = Window.partitionBy("shingle")
    per = sh.withColumn("df", F.count(F.lit(1)).over(w))
    return (per.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_shingles"),
                 F.sum((F.col("df") >= 2).cast("long")).alias("n_dup_shingles"),
                 F.round(F.sum((F.col("df") >= 2).cast("long"))
                         / F.count(F.lit(1)), 6).alias("dup_frac")))


ORACLE_SPAN_FRACTION = f"""
WITH {AUG_SQL},
{SHINGLES_SQL.strip().rstrip()},
dfs AS (SELECT shingle, COUNT(*) AS df FROM shingles GROUP BY shingle)
SELECT s.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_shingles,
       ROUND(SUM(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
           AS dup_frac
FROM shingles s JOIN dfs d USING (shingle)
GROUP BY s.doc_id
"""


# --- duplicated-span REMOVAL (Lee et al. 2022 ExactSubstr, word-level) ------

SPAN_SLOGAN = "visit our site for the best deals on everything today"


def span_removal(spark, sf_dir):
    """Remove every corpus-duplicated span from every document and rebuild
    the clean text — the removal counterpart of :func:`span_dup_fraction`
    (Lee et al. 2022 "ExactSubstr", public; word-level ``SHINGLE_K``-grams
    stand in for their byte-level 50-grams).  A token is removed iff it is
    covered by any ``SHINGLE_K``-gram occurring ≥2 times in the corpus
    (including twice within one document); surviving tokens are re-joined
    in original order, so a doc with no duplicated span rebuilds
    byte-identically (md5-provable).

    A 10-word slogan is planted on every ``%6==3`` doc (identically in
    the oracle): its grams are corpus-duplicated and must vanish from
    every occurrence, while the boundary grams straddling original text
    and slogan are unique per doc and must NOT widen the removal.

    Scale shape: gram occurrence counting is a partition-only window over
    ``md5(gram)`` — one exchange of 32-char hashes (never gram text), one
    evaluation of the gram explode, a hot boilerplate gram streaming
    through WindowExec's spillable buffer;
    coverage fan-out is a bounded ×K explode of ONLY the duplicated
    occurrences (sparse in a curated corpus); the position-level
    left join and the final rebuild group are keyed on (doc_id, pos) /
    doc_id with state bounded by document size.  No posting lists, no
    unbounded per-key aggregation anywhere."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    d = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 6 == 3,
               F.concat("text", F.lit(" " + SPAN_SLOGAN)))
        .otherwise(F.col("text")).alias("text"))
    toks = F.split("text", " ")
    base = d.select("doc_id", toks.alias("l"), F.size(toks).alias("n"))
    grams = (base.select(
        "doc_id", "n",
        F.posexplode(sliding_ngrams(F.col("l"), SHINGLE_K))
        .alias("gpos", "gram"))
        .select("doc_id", "n", "gpos", F.md5("gram").alias("h")))
    # per-occurrence count via a partition-only window (same one-explode
    # rewrite as span_dup_fraction_df): the previous groupBy(h).count +
    # join-back evaluated the gram explode twice under three exchanges
    dup = (grams.withColumn(
        "occ", F.count(F.lit(1)).over(Window.partitionBy("h")))
        .where(F.col("occ") >= 2))
    covered = (dup.select(
        "doc_id",
        F.explode(F.sequence(
            F.col("gpos"),
            F.least(F.col("gpos") + SHINGLE_K - 1, F.col("n") - 1)))
        .alias("pos"))
        .distinct()
        .withColumn("cov", F.lit(True)))
    tokpos = base.select("doc_id", F.posexplode("l").alias("pos", "tok"))
    j = (tokpos.join(covered, ["doc_id", "pos"], "left")
         .withColumn("cov", F.coalesce("cov", F.lit(False))))
    kept_tok = F.when(~F.col("cov"), F.struct("pos", "tok"))
    rebuilt = F.array_join(
        F.transform(F.array_sort(F.collect_list(kept_tok)),
                    lambda s: s["tok"]), " ")
    return (j.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.sum(F.col("cov").cast("long")).alias("n_removed"),
                 F.length(rebuilt).alias("clean_chars"),
                 F.md5(rebuilt).alias("clean_md5")))


ORACLE_SPAN_REMOVAL = f"""
WITH cdocs AS (
  SELECT doc_id,
         CASE WHEN doc_id % 6 = 3 THEN text || ' {SPAN_SLOGAN}'
              ELSE text END AS text
  FROM documents),
toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM cdocs),
grams AS (
  SELECT doc_id, i - 1 AS gpos, len(l) AS n,
         array_to_string(list_slice(l, i, i + {SHINGLE_K - 1}), ' ') AS gram
  FROM toks,
       UNNEST(range(1, GREATEST(len(l) - {SHINGLE_K - 1}, 1) + 1)) AS r(i)),
cnt AS (SELECT gram, COUNT(*) AS occ FROM grams GROUP BY gram),
covered AS (
  SELECT DISTINCT g.doc_id, g.gpos + u.k AS pos
  FROM grams g JOIN cnt c USING (gram), UNNEST(range(0, {SHINGLE_K})) AS u(k)
  WHERE c.occ >= 2 AND g.gpos + u.k <= g.n - 1),
tokpos AS (
  SELECT doc_id,
         CAST(generate_subscripts(l, 1) - 1 AS BIGINT) AS pos,
         UNNEST(l) AS tok
  FROM toks),
j AS (
  SELECT t.doc_id, t.pos, t.tok, c.pos IS NOT NULL AS cov
  FROM tokpos t
  LEFT JOIN covered c ON t.doc_id = c.doc_id AND t.pos = c.pos)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN cov THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       LENGTH(COALESCE(string_agg(CASE WHEN NOT cov THEN tok END, ' '
                                  ORDER BY pos), '')) AS clean_chars,
       md5(COALESCE(string_agg(CASE WHEN NOT cov THEN tok END, ' '
                               ORDER BY pos), '')) AS clean_md5
FROM j GROUP BY doc_id
"""


# --- corpus-level boilerplate line removal (CC-Net-style) -------------------

LINE_DF_MAX = 2           # lines in more distinct docs than this are dropped
LINE_BANNER = "we use cookies to improve your experience."
LINE_FOOTER = "subscribe to our newsletter."


def _cluttered_docs(spark, sf_dir):
    """documents with deterministic boilerplate clutter planted: cookie
    banner first line on ``%4==2`` docs, newsletter footer on ``%3==1``
    docs (the synthetic corpus is single-line with no shared lines)."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.select(
        "doc_id",
        F.concat(
            F.when(F.col("doc_id") % 4 == 2,
                   F.lit(LINE_BANNER + "\n")).otherwise(F.lit("")),
            F.col("text"),
            F.when(F.col("doc_id") % 3 == 1,
                   F.lit("\n" + LINE_FOOTER)).otherwise(F.lit("")),
        ).alias("text"))


def line_dedup(spark, sf_dir):
    """Corpus-level duplicate-line removal (CC-Net / RefinedWeb, public):
    a line that occurs in more than ``LINE_DF_MAX`` *distinct* documents
    is boilerplate (cookie banners, nav bars, footers) and is removed
    from every document; the cleaned text is re-assembled from the
    surviving lines in original order.  Emits per-doc line counts plus
    the md5 of the re-assembled text — the md5 proves the rebuild is
    byte-identical (docs with no boilerplate hash to their input).

    The synthetic corpus is single-line with no shared boilerplate, so
    deterministic clutter is planted identically in the oracle: every
    ``%4==2`` doc gets a cookie-banner first line, every ``%3==1`` doc a
    newsletter footer line.

    Scale shape: document-frequency is counted over md5(line) — the
    distinct + count shuffles move 32-char hashes, never line text; the
    join back to the positional line table is a keyed equi-join where
    hot boilerplate hashes are exactly the AQE skew-join case; re-assembly
    is one groupBy(doc_id) whose state is bounded by document size
    (collect_list of the doc's own kept lines, never a posting list)."""
    d = _cluttered_docs(spark, sf_dir)
    lines = d.select(
        "doc_id", F.posexplode(F.split("text", "\n")).alias("pos", "line")) \
        .withColumn("h", F.md5("line"))
    dfc = (lines.select("doc_id", "h").distinct()
           .groupBy("h").agg(F.count(F.lit(1)).alias("df")))
    keep = F.col("df") <= LINE_DF_MAX
    kept_line = F.when(keep, F.struct("pos", "line"))
    rebuilt = F.array_join(
        F.transform(F.array_sort(F.collect_list(kept_line)),
                    lambda s: s["line"]), "\n")
    return (lines.join(dfc, "h")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_lines"),
                 F.sum(keep.cast("long")).alias("n_kept"),
                 F.length(rebuilt).alias("clean_chars"),
                 F.md5(rebuilt).alias("clean_md5")))


ORACLE_LINE_DEDUP = f"""
WITH cdocs AS (
  SELECT doc_id,
         CASE WHEN doc_id % 4 = 2 THEN '{LINE_BANNER}' || chr(10)
              ELSE '' END
         || text ||
         CASE WHEN doc_id % 3 = 1 THEN chr(10) || '{LINE_FOOTER}'
              ELSE '' END AS text
  FROM documents),
ln AS (
  SELECT doc_id,
         CAST(generate_subscripts(l, 1) - 1 AS INT) AS pos,
         UNNEST(l) AS line
  FROM (SELECT doc_id, string_split(text, chr(10)) AS l FROM cdocs)),
dfs AS (
  SELECT h, COUNT(*) AS df
  FROM (SELECT DISTINCT doc_id, md5(line) AS h FROM ln) GROUP BY h),
j AS (
  SELECT ln.doc_id, ln.pos, ln.line, d.df <= {LINE_DF_MAX} AS keep
  FROM ln JOIN dfs d ON md5(ln.line) = d.h)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       LENGTH(COALESCE(string_agg(CASE WHEN keep THEN line END, chr(10)
                                  ORDER BY pos), '')) AS clean_chars,
       md5(COALESCE(string_agg(CASE WHEN keep THEN line END, chr(10)
                               ORDER BY pos), '')) AS clean_md5
FROM j GROUP BY doc_id
"""


def boilerplate_strip_expr(text_col, blocklist_md5s):
    """(n_lines, n_kept, clean_text) struct expression stripping every line
    whose md5 is in the COMMITTED blocklist — the at-ingest half of
    CC-Net-style line dedup: the corpus-level document-frequency pass
    (:func:`line_dedup`) runs periodically in batch and commits the
    boilerplate line hashes; ingest then strips them with a pure scan-side
    HOF (no shuffle, no state), so the SAME expression runs in the batch
    twin and the streaming gate (streaming/extract.py).

    ``blocklist_md5s`` is a literal array column: boilerplate lists are
    small by construction (lines repeated across MANY docs); a list too
    big to inline would switch to a stream-static left-anti join on
    md5(line) — same semantics, one keyed join."""
    lines = F.split(text_col, "\n")
    kept = F.filter(
        lines, lambda ln: ~F.array_contains(blocklist_md5s, F.md5(ln)))
    return F.struct(
        F.size(lines).alias("n_lines"),
        F.size(kept).alias("n_kept"),
        F.array_join(kept, "\n").alias("clean_text"))


def boilerplate_gate_counts(spark, sf_dir):
    """Batch twin of the streaming at-ingest boilerplate gate
    (streaming/extract.py ``stream_boilerplate_gate``): the planted-clutter
    corpus of :func:`line_dedup` filtered against the committed blocklist
    (here: the two planted boilerplate lines — exactly what the batch DF
    pass commits on this corpus).  Narrow scan-side HOFs, whole-stage
    codegen, one combinable rollup."""
    d = _cluttered_docs(spark, sf_dir)
    bl = F.array(F.md5(F.lit(LINE_BANNER)), F.md5(F.lit(LINE_FOOTER)))
    s = boilerplate_strip_expr(F.col("text"), bl)
    per = d.select("doc_id", s.alias("s"))
    return (per.select(
        "doc_id",
        F.col("s.n_lines").alias("n_lines"),
        F.col("s.n_kept").alias("n_kept"),
        F.md5("s.clean_text").alias("clean_md5")))


ORACLE_BOILERPLATE_GATE = f"""
WITH cdocs AS (
  SELECT doc_id,
         CASE WHEN doc_id % 4 = 2 THEN '{LINE_BANNER}' || chr(10)
              ELSE '' END
         || text ||
         CASE WHEN doc_id % 3 = 1 THEN chr(10) || '{LINE_FOOTER}'
              ELSE '' END AS text
  FROM documents),
ln AS (
  SELECT doc_id,
         CAST(generate_subscripts(l, 1) - 1 AS INT) AS pos,
         UNNEST(l) AS line
  FROM (SELECT doc_id, string_split(text, chr(10)) AS l FROM cdocs)),
j AS (
  SELECT doc_id, pos, line,
         md5(line) NOT IN (md5('{LINE_BANNER}'), md5('{LINE_FOOTER}')) AS keep
  FROM ln)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       md5(COALESCE(string_agg(CASE WHEN keep THEN line END, chr(10)
                               ORDER BY pos), '')) AS clean_md5
FROM j GROUP BY doc_id
"""


# --- incremental dedup against a committed corpus ---------------------------

def incremental_dedup(spark, sf_dir):
    """Incremental-crawl exact dedup: an incoming batch (the planted
    twins, doc_id >= 100000) is checked against the already-committed
    corpus (originals) by content hash — the at-ingest production
    pattern, where every new crawl segment joins a persisted hash index
    instead of re-deduping the whole corpus.  Returns (new_id, dup_of)
    for incoming docs whose text already exists; the keep-path is the
    same join as ``left_anti``.

    Scale shape: the committed side is column-pruned to the 32-char hash
    (at 10^12 docs: the hash index table, not the corpus), pre-aggregated
    to one min-id row per hash (map-side combinable), then a keyed
    equi-join — hash keys are uniform, so no skew handling is needed, and
    AQE picks broadcast vs shuffle by the index's actual size."""
    aug = augmented_docs(spark, sf_dir)
    committed = (aug.where(F.col("doc_id") < 100000)
                 .groupBy(F.md5("text").alias("h"))
                 .agg(F.min("doc_id").alias("dup_of")))
    incoming = (aug.where(F.col("doc_id") >= 100000)
                .select(F.col("doc_id").alias("new_id"),
                        F.md5("text").alias("h")))
    return incoming.join(committed, "h").select("new_id", "dup_of")


ORACLE_INCREMENTAL = f"""
WITH {AUG_SQL},
committed AS (
  SELECT md5(text) AS h, MIN(doc_id) AS dup_of
  FROM aug WHERE doc_id < 100000 GROUP BY md5(text)),
incoming AS (
  SELECT doc_id AS new_id, md5(text) AS h
  FROM aug WHERE doc_id >= 100000)
SELECT new_id, dup_of FROM incoming JOIN committed USING (h)
"""


# --- composed curation verdict ----------------------------------------------

VERDICT_SPAN_MAX = 0.8   # drop non-dup-group docs above this dup-span frac


def curation_verdict(spark, sf_dir):
    """The curation-pipeline endpoint: one row per document with the
    stacked keep/drop decision and per-rule reason columns — Gopher
    quality gate (operators/textstats.gopher_metrics, full rule set),
    exact-duplicate demotion (keep the min-id canonical), near-duplicate
    COMPONENT demotion (every non-representative member of a connected
    exact/near-dup cluster, :func:`duplicate_components` — transitive
    closure, so A~B~C chains drop B and C even when A!~C), the
    duplicated-span drop for boilerplate-heavy docs with no whole-doc
    twin, and benchmark decontamination (shares any word-8-gram with the
    stand-in benchmark set, same construction as
    textstats.decontaminate_flags).  This is the query a user actually
    runs to materialize a training split.

    Scale shape: the gopher flags are scan-side expressions (no shuffle);
    the exact-dup window is one shuffle on md5; the span fraction reuses
    the shingle-DF join (see span_dup_fraction); components reuse the
    df-capped posting lists (_shingle_groups) + O(log diameter) label
    rounds; the benchmark gram set is eval-suite-sized, so it broadcasts
    and the corpus side never shuffles its grams; the final assembly
    joins on doc_id — co-keyed, AQE-planned.  Reasons stay one column per
    rule (not a packed bitmap) so the drop-rate per rule is one
    aggregation away."""
    from .textstats import DECON_BENCH_MOD

    is_bench = ((F.col("doc_id") % DECON_BENCH_MOD == 0)
                & (F.col("doc_id") < 100000))
    return curation_verdict_df(augmented_docs(spark, sf_dir),
                               is_bench=is_bench)


def benchmark_gram_hashes(bench_df):
    """Distinct md5'd word-``DECON_N``-grams of a benchmark text table —
    the broadcast side of the decontamination tier (same construction as
    textstats.decontaminate_flags)."""
    from .textstats import DECON_N
    grams = F.transform(sliding_ngrams(F.split("text", " "), DECON_N),
                        lambda g: F.md5(g))
    return bench_df.select(
        F.explode(F.array_distinct(grams)).alias("h")).distinct()


def curation_verdict_df(aug, bench_hashes=None, is_bench=None,
                        max_iters: int = CC_MAX_ITERS):
    """df-parameterized core of :func:`curation_verdict` over any
    (doc_id, text) DataFrame (used by plans/curation.py).

    Decontamination side: pass ``is_bench`` (a Column predicate marking
    benchmark rows INSIDE ``aug`` — the fixture's construction, benchmark
    docs excluded from contamination flags) OR ``bench_hashes`` (a
    pre-built gram-hash table from :func:`benchmark_gram_hashes` — the
    production shape, the benchmark set lives outside the corpus).  With
    neither, the tier is off and ``is_contaminated`` is constant false."""
    from .textstats import DECON_N, gopher_metrics

    base = aug.select("doc_id", "text",
                      gopher_metrics()["pass_gopher"].alias("pass_gopher"))
    w = Window.partitionBy(F.md5("text"))
    flagged = base.select(
        "doc_id", "pass_gopher",
        (F.count(F.lit(1)).over(w) > 1).alias("in_dup_group"),
        (F.col("doc_id") != F.min("doc_id").over(w)).alias("is_exact_dup"))
    span = span_dup_fraction_df(aug).select("doc_id", "dup_frac")
    comp = duplicate_components_df(aug, max_iters=max_iters).select(
        "doc_id",
        (F.col("component_id") != F.col("doc_id")).alias("is_near_dup"))
    v = flagged.join(span, "doc_id").join(comp, "doc_id")
    if is_bench is not None or bench_hashes is not None:
        grams = F.transform(sliding_ngrams(F.split("text", " "), DECON_N),
                            lambda g: F.md5(g))
        exploded = aug.select(
            "doc_id", F.explode(F.array_distinct(grams)).alias("h"))
        if is_bench is not None:
            bench_hashes = exploded.where(is_bench).select("h").distinct()
            exploded = exploded.where(~is_bench)
        contam = (exploded.join(F.broadcast(bench_hashes), "h", "left_semi")
                  .select("doc_id").distinct()
                  .withColumn("is_contaminated", F.lit(True)))
        v = (v.join(contam, "doc_id", "left")
             .na.fill({"is_contaminated": False}))
    else:
        v = v.withColumn("is_contaminated", F.lit(False))
    high_span = (~F.col("in_dup_group")) & (F.col("dup_frac") >= VERDICT_SPAN_MAX)
    return v.select(
        "doc_id", "pass_gopher", "is_exact_dup", "is_near_dup",
        F.col("dup_frac").alias("span_dup_frac"),
        high_span.alias("high_span_dup"),
        "is_contaminated",
        (F.col("pass_gopher") & ~F.col("is_near_dup") & ~high_span
         & ~F.col("is_contaminated")).alias("keep"))


def _oracle_verdict() -> str:
    """Stacked-verdict oracle: components via the shared recursive CTE,
    gopher via the shared textstats SQL expressions, decontamination via
    the same gram construction as ORACLE_DECON — one SQL twin per rule."""
    from .textstats import (DECON_BENCH_MOD, DECON_N, gopher_cond_sql,
                            gopher_sql_exprs)
    e = gopher_sql_exprs()
    cond = gopher_cond_sql(
        n_words=e["n_words"], mean_wl=e["mean_wl"],
        frac_alpha=e["frac_alpha"], n_stopwords=e["n_stopwords"],
        frac_symbol=e["frac_symbol"], frac_ell=e["frac_ell_lines"],
        frac_bullet=e["frac_bullet_lines"])
    return f"""
WITH RECURSIVE {AUG_SQL.strip().lstrip()}, {FILTERED_SQL.strip()},
{_COMPONENT_CTES},
dfs AS (SELECT shingle, COUNT(*) AS df FROM shingles GROUP BY shingle),
span AS (
  SELECT s.doc_id,
         SUM(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) * 1.0 / COUNT(*) AS dup_frac
  FROM shingles s JOIN dfs d USING (shingle) GROUP BY s.doc_id),
toksb AS (
  SELECT doc_id, text,
         list_filter(string_split(text, ' '), x -> x != '') AS l
  FROM aug),
gop AS (SELECT doc_id, text, {cond} AS pass_gopher FROM toksb),
dup AS (
  SELECT doc_id, pass_gopher,
         COUNT(*) OVER (PARTITION BY md5(text)) > 1 AS in_dup_group,
         doc_id != MIN(doc_id) OVER (PARTITION BY md5(text)) AS is_exact_dup
  FROM gop),
dgrams AS (
  SELECT DISTINCT doc_id,
         md5(array_to_string(list_slice(string_split(text, ' '), i, i + {{DN1}}), ' ')) AS h
  FROM aug,
       UNNEST(range(1, GREATEST(len(string_split(text, ' ')) - {{DN1}}, 1) + 1)) AS r(i)),
bench AS (
  SELECT DISTINCT h FROM dgrams
  WHERE doc_id % {{DBM}} = 0 AND doc_id < 100000),
contam AS (
  SELECT DISTINCT doc_id FROM dgrams
  WHERE NOT (doc_id % {{DBM}} = 0 AND doc_id < 100000)
    AND h IN (SELECT h FROM bench))
SELECT v.doc_id, v.pass_gopher, v.is_exact_dup,
       (c.component_id != v.doc_id) AS is_near_dup,
       ROUND(s.dup_frac, 6) AS span_dup_frac,
       (NOT v.in_dup_group AND ROUND(s.dup_frac, 6) >= {VERDICT_SPAN_MAX}) AS high_span_dup,
       (ct.doc_id IS NOT NULL) AS is_contaminated,
       (v.pass_gopher AND c.component_id = v.doc_id
        AND NOT (NOT v.in_dup_group AND ROUND(s.dup_frac, 6) >= {VERDICT_SPAN_MAX})
        AND ct.doc_id IS NULL) AS keep
FROM dup v
JOIN span s USING (doc_id)
JOIN comp c USING (doc_id)
LEFT JOIN contam ct USING (doc_id)
""".replace("{DN1}", str(DECON_N - 1)).replace("{DBM}", str(DECON_BENCH_MOD))


ORACLE_VERDICT = _oracle_verdict()


# --- training split: verdict -> domain cap -> temperature (the endpoint) ----

def training_split(spark, sf_dir):
    """The full curation pipeline composed into the table a user actually
    trains on: ``curation_verdict`` keeps quality, non-duplicate,
    uncontaminated docs; the RefinedWeb per-domain cap then bounds every
    host's share of the KEPT set; temperature-balanced sampling
    (alpha=0.5, normalized to the smallest language) finally rebalances
    the survivors.  Each stage's parameters (host counts, language rates)
    are computed on ITS input — the staged semantics of a real pipeline,
    not three independent filters ANDed together.

    Scale shape is the union of its parts, all documented individually:
    verdict (scan-side gopher, one md5 window, df-capped components,
    broadcast decon), skew-routed cap (window sort only on over-cap
    hosts), broadcast temperature rates (no corpus shuffle).  The final
    output is (doc_id, lang, host) — the manifest a writer would
    partition by (lang, host-bucket)."""
    from .textstats import DOMAIN_CAP_K, _N_HOSTS

    # The kept-id manifest is consumed by THREE downstream branches (host
    # counts, language counts + global min, final join); without a
    # materialization each branch re-executes the whole verdict stack
    # (~3x the verdict cost, measured at sf0.1).
    kept = materialize(
        curation_verdict(spark, sf_dir).where("keep").select("doc_id"))
    docs = t(spark, sf_dir, "documents").select("doc_id", "lang")
    base = docs.join(kept, "doc_id")
    host_id = F.when(F.col("doc_id") % 4 == 0, F.lit(0)) \
        .otherwise(F.col("doc_id") % F.lit(_N_HOSTS))
    hosted = base.withColumn(
        "host", F.concat(F.lit("h"), host_id.cast("string"),
                         F.lit(".example.org")))
    counts = hosted.groupBy("host").agg(F.count(F.lit(1)).alias("nh"))
    sized = hosted.join(counts, "host")
    small = sized.where(F.col("nh") <= DOMAIN_CAP_K)
    w = (Window.partitionBy("host")
         .orderBy(F.md5(F.col("doc_id").cast("string")), F.col("doc_id")))
    hot = (sized.where(F.col("nh") > DOMAIN_CAP_K)
           .withColumn("rn", F.row_number().over(w))
           .where(F.col("rn") <= DOMAIN_CAP_K).drop("rn"))
    capped = small.unionByName(hot).select("doc_id", "lang", "host")
    lc = capped.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    nmin = lc.agg(F.min("n_docs").alias("n_min"))
    rates = (lc.crossJoin(F.broadcast(nmin))
             .withColumn("rate", F.sqrt(
                 F.col("n_min").cast("double") / F.col("n_docs"))))
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4),
                    16, 10).cast("long")
    return (capped.join(F.broadcast(rates.select("lang", "rate")), "lang")
            .where(bucket < F.col("rate") * 65536)
            .select("doc_id", "lang", "host"))


def _oracle_training_split() -> str:
    from .textstats import DOMAIN_CAP_K, _N_HOSTS
    return f"""
WITH kept AS (SELECT doc_id FROM ({ORACLE_VERDICT}) WHERE keep),
tsbase AS (
  SELECT d.doc_id, d.lang FROM documents d JOIN kept USING (doc_id)),
hosted AS (
  SELECT doc_id, lang,
         'h' || CAST(CASE WHEN doc_id % 4 = 0 THEN 0
                          ELSE doc_id % {_N_HOSTS} END AS VARCHAR)
             || '.example.org' AS host
  FROM tsbase),
hcounts AS (SELECT host, COUNT(*) AS nh FROM hosted GROUP BY host),
hranked AS (
  SELECT h.doc_id, h.lang, h.host, c.nh,
         ROW_NUMBER() OVER (PARTITION BY h.host
                            ORDER BY md5(CAST(h.doc_id AS VARCHAR)),
                                     h.doc_id) AS rn
  FROM hosted h JOIN hcounts c USING (host)),
capped AS (
  SELECT doc_id, lang, host FROM hranked
  WHERE nh <= {DOMAIN_CAP_K} OR rn <= {DOMAIN_CAP_K}),
lcounts AS (SELECT lang, COUNT(*) AS n_docs FROM capped GROUP BY lang),
lrates AS (
  SELECT lang,
         sqrt((SELECT MIN(n_docs) FROM lcounts) * 1.0 / n_docs) AS rate
  FROM lcounts)
SELECT c.doc_id, c.lang, c.host
FROM capped c JOIN lrates r USING (lang)
WHERE CAST(('0x' || substr(md5(CAST(c.doc_id AS VARCHAR)), 1, 4))::BIGINT
           AS BIGINT) < r.rate * 65536
"""


ORACLE_TRAINING_SPLIT = _oracle_training_split()


QUERIES = {
    "dedup_exact": exact_duplicates,
    "dedup_ngram_jaccard": ngram_jaccard_pairs,
    "dedup_minhash_lsh": minhash_lsh_pairs,
    "dedup_simhash": simhash_signatures,
    "dedup_simhash_pairs": simhash_pairs,
    "dedup_components": duplicate_components,
    "curation_compaction": curation_compaction,
    "dedup_span_fraction": span_dup_fraction,
    "dedup_span_removal": span_removal,
    "dedup_lines": line_dedup,
    "st_boilerplate_gate": boilerplate_gate_counts,
    "dedup_incremental": incremental_dedup,
    "curation_verdict": curation_verdict,
    "training_split": training_split,
}

ORACLES = {
    "dedup_exact": ORACLE_EXACT,
    "dedup_ngram_jaccard": ORACLE_JACCARD,
    "dedup_minhash_lsh": ORACLE_MINHASH,
    "dedup_simhash": ORACLE_SIMHASH,
    "dedup_simhash_pairs": ORACLE_SIMHASH_PAIRS,
    "dedup_components": ORACLE_COMPONENTS,
    "curation_compaction": ORACLE_COMPACTION,
    "dedup_span_fraction": ORACLE_SPAN_FRACTION,
    "dedup_span_removal": ORACLE_SPAN_REMOVAL,
    "dedup_lines": ORACLE_LINE_DEDUP,
    "st_boilerplate_gate": ORACLE_BOILERPLATE_GATE,
    "dedup_incremental": ORACLE_INCREMENTAL,
    "curation_verdict": ORACLE_VERDICT,
    "training_split": ORACLE_TRAINING_SPLIT,
}
