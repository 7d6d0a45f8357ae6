"""Document deduplication battery (SURVEY.md §2.4): exact,
n-gram-Jaccard, MinHash+LSH, SimHash.

Scale design (the part that matters at 100 TB):

* **No all-pairs joins anywhere.** Candidate pairs come from
  inverted-index / LSH-bucket equi-joins whose keys are md5-derived
  (uniform by construction → no shuffle skew).
* **Exact dedup** is one hash-groupBy on md5(normalized text).
* **n-gram Jaccard** joins docs only through shared shingles, with a
  document-frequency cap (`DF_CAP`) that drops degenerate
  stop-shingles before the join — the standard guard that keeps the
  inverted index near-linear as the corpus grows.
* **MinHash**: k=64 slots from an affine (universal) hash family
  over ONE md5 per word — slotᵢ(w) = (aᵢ·h(w)+bᵢ) mod 2³¹−1 with
  h(w) = 28-bit md5 prefix; products stay < 2⁵⁹ so the arithmetic
  is exact BIGINT in Spark (ANSI-safe) and DuckDB alike. LSH = 8
  bands × 8 rows (s-curve threshold ≈ 0.77); verification compares
  signatures (≥ 56/64 equal slots ≈ Jaccard 0.875), never documents.
* **SimHash**: 64-bit sign-sum over md5 bits of the word set,
  4 bands × 16 bits (Hamming ≤ 3 ⇒ ≥ 1 band equal, the pigeonhole
  guarantee), verified with exact Hamming distance.

Everything is built-in column expressions except the MinHash slot
minima, which run as ONE Arrow-batched numpy kernel (exact int64 —
Spark's higher-order array lambdas evaluate interpreted, and 64 of
them per row lost 2× to the vectorized kernel). All hash arithmetic
is md5-derived and reproduced 1:1 in the DuckDB oracle SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import norm_text, word_ngrams, word_set
from ..sources.readers import load_table

D38_6 = "decimal(38,6)"

# n-gram Jaccard knobs
NGRAM_N = 3
DF_CAP = 1000  # drop shingles present in more docs than this
TOP_PAIRS = 100

# MinHash knobs
MINHASH_K = 64
LSH_BANDS = 8
LSH_ROWS = 8
MIN_EQ_SLOTS = 56  # verify: >= 56/64 equal slots (est. Jaccard 0.875)
# scale guard: skip degenerate buckets (> MAX_BUCKET docs). A bucket
# that large is a near-identical cluster — the candidate join inside
# it is quadratic, and the right tool for such clusters is the exact
# set-hash pre-pass, not pairwise LSH. Bounds worst-case fan-out to
# MAX_BUCKET²/2 per bucket at ANY corpus size. (This synthetic
# corpus has a 31-word vocabulary, so word sets degenerate exactly
# this way: at sf0.1 the cap cuts candidate pairs 9.4M → 75k.)
MAX_BUCKET = 100

# SimHash knobs
SIMHASH_BITS = 64
SIMHASH_BANDS = 4
HAMMING_MAX = 3


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on md5(normalized text): one survivor (min doc_id)
    per content hash. Single hash-shuffle on an md5 key."""
    d = load_table(spark, sf_dir, "documents", ["doc_id", "text"])
    return (
        d.select("doc_id", F.md5(norm_text("text")).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("survivor_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .orderBy("survivor_doc_id")
    )


DEDUP_EXACT_SQL = """
SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS content_hash,
       MIN(doc_id) AS survivor_doc_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY 1
ORDER BY survivor_doc_id
"""


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs by word-3-gram Jaccard, top-100.

    Inverted-index plan: explode distinct shingles → df-cap filter →
    self-equi-join on the shingle → count common per pair →
    |A∩B| / (|A|+|B|−|A∩B|). The only joins are key-equi on shingle
    strings and doc ids.
    """
    d = load_table(spark, sf_dir, "documents", ["doc_id", "text"])
    toks = d.select("doc_id", F.split(F.lower(F.trim("text")), r"\s+").alias("w")).filter(
        F.size("w") >= NGRAM_N
    )
    sh = toks.select("doc_id", F.explode(word_ngrams("w", NGRAM_N)).alias("s"))
    # stop-shingle guard: df cap keeps the inverted index near-linear
    df_ok = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df")).filter(F.col("df") <= DF_CAP)
    # the capped index feeds THREE consumers (sizes, both join
    # sides); materialize it once instead of re-exploding and
    # re-joining per branch (sf0.1: 4.6 s → 3.5 s)
    sh = sh.join(df_ok.select("s"), "s").localCheckpoint()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("da"), "s")
    b = sh.select(F.col("doc_id").alias("db"), "s")
    common = (
        a.join(b, "s")
        .filter(F.col("da") < F.col("db"))
        .groupBy("da", "db")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    na = sizes.select(F.col("doc_id").alias("da"), F.col("n_sh").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("db"), F.col("n_sh").alias("nb"))
    return (
        common.join(na, "da")
        .join(nb, "db")
        .select(
            "da",
            "db",
            "common",
            (
                F.col("common").cast("double")
                / (F.col("na") + F.col("nb") - F.col("common")).cast("double")
            )
            .cast(D38_6)
            .alias("jaccard"),
        )
        .orderBy(F.col("jaccard").desc(), "da", "db")
        .limit(TOP_PAIRS)
    )


DEDUP_NGRAM_SQL = f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS w FROM documents
  WHERE len(regexp_split_to_array(lower(trim(text)), '\\s+')) >= {NGRAM_N}),
sh0 AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, len(w) - {NGRAM_N - 1} + 1),
           i -> array_to_string(w[i:i+{NGRAM_N - 1}], ' ')))) AS s
  FROM toks),
df_ok AS (SELECT s FROM sh0 GROUP BY s HAVING COUNT(*) <= {DF_CAP}),
sh AS (SELECT doc_id, sh0.s FROM sh0 JOIN df_ok ON sh0.s = df_ok.s),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS common
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT da, db, common,
       CAST(CAST(common AS DOUBLE)
          / CAST(na.n_sh + nb.n_sh - common AS DOUBLE) AS DECIMAL(38,6)) AS jaccard
FROM common
JOIN sizes na ON common.da = na.doc_id
JOIN sizes nb ON common.db = nb.doc_id
ORDER BY jaccard DESC, da, db
LIMIT {TOP_PAIRS}
"""


# Affine (universal) hash family over ONE md5 per word:
#   h(w)      = first 7 hex digits of md5(w) as int   (< 2^28)
#   slot_i(w) = (a_i * h(w) + b_i) mod P,  P = 2^31 − 1 (prime)
# a_i < P, h < 2^28 → products < 2^59: exact in BIGINT/int64 in all
# three engines (Spark, DuckDB, numpy). One md5 per word instead of
# 64 — the slot pass after it is pure affine arithmetic.
MINHASH_P = 2_147_483_647
_H_DIGITS = 7


def _affine_coeffs() -> list[tuple[int, int]]:
    import hashlib

    out = []
    for i in range(MINHASH_K):
        a = int(hashlib.md5(f"a|{i}".encode()).hexdigest()[:15], 16) % (MINHASH_P - 1) + 1
        b = int(hashlib.md5(f"b|{i}".encode()).hexdigest()[:15], 16) % MINHASH_P
        out.append((a, b))
    return out


MINHASH_COEFFS = _affine_coeffs()


_SIG_KERNEL = None


def _minhash_signatures(d: DataFrame) -> DataFrame:
    """doc_id → 64-element MinHash signature (array<bigint> ordered
    by slot).

    MAP-SIDE, zero shuffle: per row, hash the word set once (one
    JVM md5 per word), then the 64 slot minima come from ONE
    Arrow-batched numpy kernel — ``(A·h + B) mod P`` vectorized over
    (slots × words), exact int64 so the output is bit-identical to
    the affine arithmetic the DuckDB oracle runs. The previous form
    computed each slot as ``array_min(transform(hs, affine_k))``:
    64 higher-order-function traversals per row, and Spark evaluates
    HOF lambdas INTERPRETED (outside whole-stage codegen), which
    made the slot pass the signature stage's entire cost (measured
    at sf0.1: 1.67 s HOF vs 0.89 s Arrow kernel, 0 mismatching rows
    over the corpus). Explode + groupBy(doc_id) was retired a round
    earlier for paying a corpus-wide shuffle. At 100 TB the kernel
    is embarrassingly parallel and Arrow-batched per partition.
    """
    global _SIG_KERNEL
    if _SIG_KERNEL is None:
        from ..functions.minhash_kernel import make_sig_kernel

        _SIG_KERNEL = make_sig_kernel(MINHASH_COEFFS, MINHASH_P)
    hashes = F.transform(
        word_set("text"),
        lambda w: F.conv(F.substring(F.md5(w), 1, _H_DIGITS), 16, 10).cast("bigint"),
    )
    dd = d.select("doc_id", hashes.alias("hs")).filter(F.size("hs") > 0)
    return dd.select("doc_id", _SIG_KERNEL("hs").alias("sig"))


def _sig_and_candidates(
    spark: SparkSession, sf_dir: str, max_bucket: int
) -> tuple[DataFrame, DataFrame]:
    """(signatures, distinct candidate pairs) — the shared front
    half of MinHash LSH; split out so the bench knob sweep can count
    candidates under different bucket caps without the verify leg."""
    d = load_table(spark, sf_dir, "documents", ["doc_id", "text"])
    # signatures are one row per doc (64 hex strings ≈ 2 KB). The
    # plan reuses sig on four branches (banding, both candidate-join
    # sides, verification); an eager localCheckpoint materializes it
    # once and truncates lineage, and — unlike cache() — its storage
    # is reclaimed when the DataFrame goes out of scope.
    sig = _minhash_signatures(d).localCheckpoint()
    bands = sig.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(LSH_BANDS - 1))).alias("b"),
        "sig",
    ).select(
        "doc_id",
        "b",
        F.md5(
            F.concat_ws(
                "|",
                F.expr(
                    f"transform(slice(sig, b * {LSH_ROWS} + 1, {LSH_ROWS}),"
                    " x -> cast(x AS string))"
                ),
            )
        ).alias("bucket"),
    )
    # three consumers (the bucket census and both self-join sides)
    # would each re-evaluate the per-band md5s from the signature
    # checkpoint; materialize the banded keys once (8 small rows per
    # doc)
    bands = bands.localCheckpoint()
    ok_buckets = (
        bands.groupBy("b", "bucket")
        .agg(F.count(F.lit(1)).alias("bsz"))
        .filter(F.col("bsz") <= max_bucket)
        .select("b", "bucket")
    )
    bands = bands.join(F.broadcast(ok_buckets), ["b", "bucket"])
    cand = (
        bands.alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.b") == F.col("y.b"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("da"), F.col("y.doc_id").alias("db"))
        .distinct()
    )
    return sig, cand


def lsh_candidate_pairs(
    spark: SparkSession, sf_dir: str, *, max_bucket: int = MAX_BUCKET
) -> DataFrame:
    """Distinct LSH candidate pairs BEFORE signature verification —
    the observable the MAX_BUCKET bench sweep counts."""
    return _sig_and_candidates(spark, sf_dir, max_bucket)[1]


def minhash_pairs(
    spark: SparkSession, sf_dir: str, *, max_bucket: int = MAX_BUCKET
) -> DataFrame:
    """MinHash + banded LSH near-dup pairs over word sets
    (unordered; distinct on (da, db), da < db).

    ``max_bucket`` is the worst-case fan-out knob (pairs-per-bucket
    ≤ max_bucket²/2 at any corpus size); the registry/oracle pin the
    default, bench sweeps it for the measured pairs-vs-cap story.

    Bucket keys are md5 of 8 consecutive signature slots → uniform
    shuffle keys; candidates only ever meet inside a bucket; the
    verify step compares the two 64-slot signatures (no document
    text is ever re-read or re-joined).
    """
    sig, cand = _sig_and_candidates(spark, sf_dir, max_bucket)
    sa = sig.select(F.col("doc_id").alias("da"), F.col("sig").alias("sa"))
    sb = sig.select(F.col("doc_id").alias("db"), F.col("sig").alias("sb"))
    eq = F.expr("aggregate(zip_with(sa, sb, (x, y) -> IF(x = y, 1, 0)), 0, (acc, v) -> acc + v)")
    return (
        cand.join(sa, "da")
        .join(sb, "db")
        .select("da", "db", eq.cast("bigint").alias("eq_slots"))
        .filter(F.col("eq_slots") >= MIN_EQ_SLOTS)
        .select(
            "da",
            "db",
            "eq_slots",
            (F.col("eq_slots").cast("double") / F.lit(float(MINHASH_K)))
            .cast(D38_6)
            .alias("est_jaccard"),
        )
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs, deterministically ordered (the
    oracle-checked query form; graph consumers that destroy order
    anyway — ``dedup_clusters`` — use :func:`minhash_pairs` and skip
    the global sort)."""
    return minhash_pairs(spark, sf_dir).orderBy("da", "db")


_COEFF_ROWS = ", ".join(f"({i}, {a}, {b})" for i, (a, b) in enumerate(MINHASH_COEFFS))

DEDUP_MINHASH_SQL = f"""
WITH words AS (
  SELECT doc_id, unnest(list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+'))) AS w
  FROM documents),
hashed AS (
  SELECT doc_id,
         CAST(('0x' || substring(md5(w), 1, {_H_DIGITS}))::UBIGINT AS BIGINT) AS h
  FROM words),
coeffs(i, a, b) AS (VALUES {_COEFF_ROWS}),
slots AS (
  SELECT doc_id, i, MIN((a * h + b) % {MINHASH_P}) AS mh
  FROM hashed, coeffs
  GROUP BY doc_id, i),
sig AS (SELECT doc_id, list(mh ORDER BY i) AS sig FROM slots GROUP BY doc_id),
bands0 AS (
  SELECT doc_id, b,
         md5(array_to_string(list_transform(sig[b * {LSH_ROWS} + 1 : b * {LSH_ROWS} + {LSH_ROWS}],
                                            x -> x::VARCHAR), '|')) AS bucket
  FROM sig, (SELECT unnest(range({LSH_BANDS})) AS b) bb),
ok_buckets AS (
  SELECT b, bucket FROM bands0 GROUP BY b, bucket HAVING COUNT(*) <= {MAX_BUCKET}),
bands AS (
  SELECT bands0.* FROM bands0 JOIN ok_buckets USING (b, bucket)),
cand AS (
  SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
  FROM bands x JOIN bands y
    ON x.b = y.b AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
ver AS (
  SELECT da, db,
         CAST(len(list_filter(range({MINHASH_K}), i -> sa.sig[i + 1] = sb.sig[i + 1])) AS BIGINT) AS eq_slots
  FROM cand JOIN sig sa ON cand.da = sa.doc_id JOIN sig sb ON cand.db = sb.doc_id)
SELECT da, db, eq_slots,
       CAST(CAST(eq_slots AS DOUBLE) / {float(MINHASH_K)} AS DECIMAL(38,6)) AS est_jaccard
FROM ver
WHERE eq_slots >= {MIN_EQ_SLOTS}
ORDER BY da, db
"""


def _simhash_bit(j: int) -> str:
    """Spark SQL for bit j of md5(w): hex char j//4 (1-based), bit
    j%4 of its nibble value."""
    return (
        f"((locate(substring(mh, {j // 4 + 1}, 1), '0123456789abcdef') - 1)"
        f" >> {j % 4}) & 1"
    )


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash near-dup pairs: per-bit ±1 sums over the word
    set's md5 bits, 4 bands × 16 bits for candidates (Hamming ≤ 3 ⇒
    at least one band equal), exact Hamming verify."""
    d = load_table(spark, sf_dir, "documents", ["doc_id", "text"])
    words = d.select("doc_id", F.explode(word_set("text")).alias("w")).withColumn(
        "mh", F.md5("w")
    )
    sums = words.groupBy("doc_id").agg(
        *[
            F.sum(F.expr(f"2 * ({_simhash_bit(j)}) - 1")).alias(f"s{j}")
            for j in range(SIMHASH_BITS)
        ]
    )
    per_band = SIMHASH_BITS // SIMHASH_BANDS
    # pack each band's 16 sign bits into ONE BIGINT: the band value
    # doubles as the LSH bucket key, and Hamming distance becomes
    # bit_count(xor) per band — all codegen, no per-bit string walk
    band_int = [
        F.expr(
            " + ".join(
                f"IF(s{b * per_band + k} >= 0, {1 << k}, 0)" for k in range(per_band)
            )
        ).cast("bigint")
        for b in range(SIMHASH_BANDS)
    ]
    # one row per doc (4 packed ints). Three consumers read it (the
    # bucket-size census, both self-join sides); an eager
    # localCheckpoint materializes the word-explode + 64-sum pipeline
    # ONCE instead of letting each consumer re-execute it — same
    # reasoning as the MinHash signature checkpoint above.
    sim = sums.select(
        "doc_id", *[band_int[b].alias(f"i{b}") for b in range(SIMHASH_BANDS)]
    ).localCheckpoint()
    bands = sim.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BANDS - 1))).alias("b"),
        *[f"i{b}" for b in range(SIMHASH_BANDS)],
    ).select(
        "doc_id",
        "b",
        F.expr(
            "CASE b " + " ".join(f"WHEN {b} THEN i{b}" for b in range(SIMHASH_BANDS)) + " END"
        ).alias("band_val"),
        *[f"i{b}" for b in range(SIMHASH_BANDS)],
    )
    # same degenerate-bucket guard as MinHash: a band bucket bigger
    # than MAX_BUCKET is a near-identical cluster (this corpus's
    # 31-word vocabulary collapses band bits hard — 1.9M candidate
    # pairs at sf0.1 without the cap); exact dedup is the right tool
    # for those clusters, pairwise LSH is not.
    ok_buckets = (
        bands.groupBy("b", "band_val")
        .agg(F.count(F.lit(1)).alias("bsz"))
        .filter(F.col("bsz") <= MAX_BUCKET)
        .select("b", "band_val")
    )
    bands = bands.join(F.broadcast(ok_buckets), ["b", "band_val"])
    cand = (
        bands.alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.b") == F.col("y.b"))
            & (F.col("x.band_val") == F.col("y.band_val"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("da"),
            F.col("y.doc_id").alias("db"),
            *[F.col(f"x.i{b}").alias(f"a{b}") for b in range(SIMHASH_BANDS)],
            *[F.col(f"y.i{b}").alias(f"b{b}") for b in range(SIMHASH_BANDS)],
        )
        .distinct()
    )
    hamming = F.expr(
        " + ".join(f"bit_count(a{b} ^ b{b})" for b in range(SIMHASH_BANDS))
    )
    return (
        cand.select("da", "db", hamming.cast("bigint").alias("hamming"))
        .filter(F.col("hamming") <= HAMMING_MAX)
        .orderBy("da", "db")
    )


def _simhash_bit_duck(j: int) -> str:
    return (
        f"((strpos('0123456789abcdef', substring(mh, {j // 4 + 1}, 1)) - 1)"
        f" >> {j % 4}) & 1"
    )


_SIMHASH_SUMS_DUCK = ",\n         ".join(
    f"SUM(2 * ({_simhash_bit_duck(j)}) - 1) AS s{j}" for j in range(SIMHASH_BITS)
)
_PER_BAND = SIMHASH_BITS // SIMHASH_BANDS
_SIMHASH_BAND_INTS_DUCK = ",\n        ".join(
    "CAST("
    + " + ".join(
        f"CASE WHEN s{b * _PER_BAND + k} >= 0 THEN {1 << k} ELSE 0 END"
        for k in range(_PER_BAND)
    )
    + f" AS BIGINT) AS i{b}"
    for b in range(SIMHASH_BANDS)
)
_BAND_VAL_DUCK = (
    "CASE b " + " ".join(f"WHEN {b} THEN i{b}" for b in range(SIMHASH_BANDS)) + " END"
)
_HAMMING_DUCK = " + ".join(f"bit_count(xor(a{b}, b{b}))" for b in range(SIMHASH_BANDS))
_CAND_COLS_DUCK = ", ".join(
    [f"x.i{b} AS a{b}" for b in range(SIMHASH_BANDS)]
    + [f"y.i{b} AS b{b}" for b in range(SIMHASH_BANDS)]
)

DEDUP_SIMHASH_SQL = f"""
WITH words AS (
  SELECT doc_id, md5(unnest(list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+')))) AS mh
  FROM documents),
sums AS (
  SELECT doc_id,
         {_SIMHASH_SUMS_DUCK}
  FROM words GROUP BY doc_id),
sim AS (
  SELECT doc_id,
        {_SIMHASH_BAND_INTS_DUCK}
  FROM sums),
bands0 AS (
  SELECT doc_id, i0, i1, i2, i3, b, {_BAND_VAL_DUCK} AS band_val
  FROM sim, (SELECT unnest(range({SIMHASH_BANDS})) AS b) bb),
ok_buckets AS (
  SELECT b, band_val FROM bands0 GROUP BY b, band_val HAVING COUNT(*) <= {MAX_BUCKET}),
bands AS (
  SELECT bands0.* FROM bands0 JOIN ok_buckets USING (b, band_val)),
cand AS (
  SELECT DISTINCT x.doc_id AS da, y.doc_id AS db, {_CAND_COLS_DUCK}
  FROM bands x JOIN bands y
    ON x.b = y.b AND x.band_val = y.band_val AND x.doc_id < y.doc_id)
SELECT da, db, CAST({_HAMMING_DUCK} AS BIGINT) AS hamming
FROM cand
WHERE {_HAMMING_DUCK} <= {HAMMING_MAX}
ORDER BY da, db
"""


# ------------------------------------------- benchmark decontamination

EVAL_MOD = 97  # deterministic eval split: doc_id % EVAL_MOD == 0
MIN_SHARED = 2  # flag a train doc sharing >= this many shingles

# above this many eval (doc, shingle) rows, stop hinting broadcast
# and let the join shuffle (AQE may still pick broadcast from real
# sizes). ~2M rows × ~60B/row ≈ 120MB — comfortably under a 1 GiB
# driver broadcast limit, far over autoBroadcastJoinThreshold.
BROADCAST_MAX_EVAL_ROWS = 2_000_000


def decontaminate_ngram(
    spark: SparkSession,
    sf_dir: str,
    *,
    broadcast_max_eval_rows: int = BROADCAST_MAX_EVAL_ROWS,
) -> DataFrame:
    """Benchmark decontamination: train docs sharing ≥MIN_SHARED
    word-3-gram shingles with any eval doc (the train/test-overlap
    sweep every LLM data pipeline runs before training).

    The eval set here is the deterministic ``doc_id % 97 == 0``
    slice standing in for a benchmark table; in production the eval
    side is the real benchmark corpus. Plan shape: the eval shingle
    set is materialized once (``localCheckpoint``) and COUNTED; at
    or below ``broadcast_max_eval_rows`` it broadcasts and the sweep
    is ONE broadcast-equi-join over the train shingles — no shuffle
    of the corpus. Above the threshold the hint is dropped and the
    join shuffles both sides (VERDICT r5 "Next round" #7: nothing
    used to guard against an eval side too large to broadcast).
    The no-corpus-shuffle fast path therefore holds exactly when the
    eval side is benchmark-sized — which real benchmark corpora are
    (ADVICE r5: the 1/97-of-corpus eval slice here GROWS with the
    corpus, so at 100 TB this query would take the shuffle path).
    """
    d = load_table(spark, sf_dir, "documents", ["doc_id", "text"])
    toks = d.select(
        "doc_id", F.split(F.lower(F.trim("text")), r"\s+").alias("w")
    ).filter(F.size("w") >= NGRAM_N)
    sh = toks.select("doc_id", F.explode(word_ngrams("w", NGRAM_N)).alias("s"))
    # materialize the (small) eval side once: the count that decides
    # the join strategy and the join itself share one computation
    ev = (
        sh.filter(F.col("doc_id") % EVAL_MOD == 0)
        .select(F.col("doc_id").alias("eval_doc_id"), "s")
        .localCheckpoint(eager=True)
    )
    ev_side = F.broadcast(ev) if ev.count() <= broadcast_max_eval_rows else ev
    tr = sh.filter(F.col("doc_id") % EVAL_MOD != 0).select(
        F.col("doc_id").alias("train_doc_id"), "s"
    )
    return (
        tr.join(ev_side, "s")
        .groupBy("train_doc_id", "eval_doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= MIN_SHARED)
        .orderBy("train_doc_id", "eval_doc_id")
    )


DECONTAMINATE_SQL = f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS w FROM documents
  WHERE len(regexp_split_to_array(lower(trim(text)), '\\s+')) >= {NGRAM_N}),
sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, len(w) - {NGRAM_N - 1} + 1),
           i -> array_to_string(w[i:i+{NGRAM_N - 1}], ' ')))) AS s
  FROM toks),
ev AS (SELECT doc_id AS eval_doc_id, s FROM sh WHERE doc_id % {EVAL_MOD} = 0),
tr AS (SELECT doc_id AS train_doc_id, s FROM sh WHERE doc_id % {EVAL_MOD} <> 0)
SELECT train_doc_id, eval_doc_id, COUNT(*) AS n_shared
FROM tr JOIN ev USING (s)
GROUP BY train_doc_id, eval_doc_id
HAVING COUNT(*) >= {MIN_SHARED}
ORDER BY train_doc_id, eval_doc_id
"""


# ------------------------------- fuzzy (MinHash) decontamination

DECON_MIN_EQ_SLOTS = 32  # est. Jaccard >= 0.5 — decontamination casts
#                          a wider net than dedup's 56/64 (~0.875)


def decontaminate_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY benchmark decontamination: train docs whose MinHash
    signature lands in the same LSH bucket as an eval doc's in any
    band AND agrees on ≥32/64 slots (est. Jaccard ≥ 0.5). Catches
    the paraphrased / lightly-edited contamination the exact
    n-gram sweep (:func:`decontaminate_ngram`) misses — the
    two-stage screen real pipelines run.

    Plan: signatures once for the whole corpus (Arrow kernel,
    map-side), bands once; the EVAL band set (benchmark-sized)
    broadcasts, so the candidate meet is one broadcast-equi-join on
    (band, bucket) over the train bands — zero corpus shuffle —
    followed by the usual signature-only verification. Degenerate
    train buckets are dropped at ``MAX_BUCKET`` like every LSH path;
    at 100 TB the broadcast holds exactly when the eval side is a
    real benchmark corpus (the same scoping note as the n-gram
    sweep).
    """
    d = load_table(spark, sf_dir, "documents", ["doc_id", "text"])
    sig = _minhash_signatures(d).localCheckpoint()
    bands = sig.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(LSH_BANDS - 1))).alias("b"),
        "sig",
    ).select(
        "doc_id",
        "b",
        F.md5(
            F.concat_ws(
                "|",
                F.expr(
                    f"transform(slice(sig, b * {LSH_ROWS} + 1, {LSH_ROWS}),"
                    " x -> cast(x AS string))"
                ),
            )
        ).alias("bucket"),
    )
    tr_b = bands.filter(F.col("doc_id") % EVAL_MOD != 0)
    ok = (
        tr_b.groupBy("b", "bucket")
        .agg(F.count(F.lit(1)).alias("bsz"))
        .filter(F.col("bsz") <= MAX_BUCKET)
        .select("b", "bucket")
    )
    ev_b = bands.filter(F.col("doc_id") % EVAL_MOD == 0).select(
        F.col("doc_id").alias("eval_doc_id"), "b", "bucket"
    )
    cand = (
        tr_b.join(F.broadcast(ok), ["b", "bucket"])
        .join(F.broadcast(ev_b), ["b", "bucket"])
        .select(F.col("doc_id").alias("train_doc_id"), "eval_doc_id")
        .distinct()
    )
    st = sig.select(F.col("doc_id").alias("train_doc_id"), F.col("sig").alias("sa"))
    se = sig.select(F.col("doc_id").alias("eval_doc_id"), F.col("sig").alias("sb"))
    eq = F.expr("aggregate(zip_with(sa, sb, (x, y) -> IF(x = y, 1, 0)), 0, (acc, v) -> acc + v)")
    return (
        cand.join(st, "train_doc_id")
        .join(se, "eval_doc_id")
        .select("train_doc_id", "eval_doc_id", eq.cast("bigint").alias("eq_slots"))
        .filter(F.col("eq_slots") >= DECON_MIN_EQ_SLOTS)
        .select(
            "train_doc_id",
            "eval_doc_id",
            "eq_slots",
            (F.col("eq_slots").cast("double") / F.lit(float(MINHASH_K)))
            .cast(D38_6)
            .alias("est_jaccard"),
        )
        .orderBy("train_doc_id", "eval_doc_id")
    )


DECONTAMINATE_MINHASH_SQL = f"""
WITH words AS (
  SELECT doc_id, unnest(list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+'))) AS w
  FROM documents),
hashed AS (
  SELECT doc_id,
         CAST(('0x' || substring(md5(w), 1, {_H_DIGITS}))::UBIGINT AS BIGINT) AS h
  FROM words),
coeffs(i, a, b) AS (VALUES {_COEFF_ROWS}),
slots AS (
  SELECT doc_id, i, MIN((a * h + b) % {MINHASH_P}) AS mh
  FROM hashed, coeffs
  GROUP BY doc_id, i),
sig AS (SELECT doc_id, list(mh ORDER BY i) AS sig FROM slots GROUP BY doc_id),
bands AS (
  SELECT doc_id, b,
         md5(array_to_string(list_transform(sig[b * {LSH_ROWS} + 1 : b * {LSH_ROWS} + {LSH_ROWS}],
                                            x -> x::VARCHAR), '|')) AS bucket
  FROM sig, (SELECT unnest(range({LSH_BANDS})) AS b) bb),
tr_b AS (SELECT * FROM bands WHERE doc_id % {EVAL_MOD} <> 0),
ok AS (
  SELECT b, bucket FROM tr_b GROUP BY b, bucket HAVING COUNT(*) <= {MAX_BUCKET}),
ev_b AS (SELECT doc_id AS eval_doc_id, b, bucket FROM bands WHERE doc_id % {EVAL_MOD} = 0),
cand AS (
  SELECT DISTINCT tr_b.doc_id AS train_doc_id, ev_b.eval_doc_id
  FROM tr_b JOIN ok USING (b, bucket) JOIN ev_b USING (b, bucket)),
ver AS (
  SELECT train_doc_id, eval_doc_id,
         CAST(len(list_filter(range({MINHASH_K}), i -> sa.sig[i + 1] = sb.sig[i + 1])) AS BIGINT) AS eq_slots
  FROM cand JOIN sig sa ON cand.train_doc_id = sa.doc_id
            JOIN sig sb ON cand.eval_doc_id = sb.doc_id)
SELECT train_doc_id, eval_doc_id, eq_slots,
       CAST(CAST(eq_slots AS DOUBLE) / {float(MINHASH_K)} AS DECIMAL(38,6)) AS est_jaccard
FROM ver
WHERE eq_slots >= {DECON_MIN_EQ_SLOTS}
ORDER BY train_doc_id, eval_doc_id
"""


def near_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-level near-duplication triage over the MinHash pair
    list: per source, how many of its documents participate in at
    least one near-dup pair, and how many of those pairs stay
    INSIDE the source vs cross feeds — the report that decides
    which crawls to deprioritize (a feed whose dups are internal
    re-crawl churn is cheap to fix; one duplicating OTHER feeds
    adds nothing at all).

    Scale: the pair list is LSH-bounded; the doc→source map joins
    once (broadcast-size per pair side at any corpus — pairs carry
    only ids); counts are exact integers, the rate one double
    division."""
    pairs = minhash_pairs(spark, sf_dir).select("da", "db")
    docs = load_table(spark, sf_dir, "documents", ["doc_id", "source"])
    sa = docs.select(F.col("doc_id").alias("da"), F.col("source").alias("src_a"))
    sb = docs.select(F.col("doc_id").alias("db"), F.col("source").alias("src_b"))
    tagged = pairs.join(sa, "da").join(sb, "db")
    # per-source pair exposure: a pair counts for BOTH its sources
    # (once if both ends share the source)
    per_pair = tagged.select(
        F.explode(F.array_distinct(F.array("src_a", "src_b"))).alias("source"),
        F.when(F.col("src_a") == F.col("src_b"), 1).otherwise(0).alias("internal"),
    )
    pair_stats = per_pair.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("internal").alias("n_internal_pairs"),
    )
    involved = (
        tagged.select(F.col("da").alias("doc_id"), F.col("src_a").alias("source"))
        .unionByName(
            tagged.select(F.col("db").alias("doc_id"), F.col("src_b").alias("source"))
        )
        .distinct()
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_dup_docs"))
    )
    totals = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        totals.join(involved, "source", "left")
        .join(pair_stats, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce("n_dup_docs", F.lit(0)).alias("n_dup_docs"),
            F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"),
            F.coalesce("n_internal_pairs", F.lit(0)).alias("n_internal_pairs"),
            (
                F.coalesce("n_dup_docs", F.lit(0)).cast("double")
                / F.col("n_docs").cast("double")
            ).alias("dup_doc_rate"),
        )
        .orderBy("source")
    )


NEAR_DUP_BY_SOURCE_SQL = f"""
WITH pairs AS (
  SELECT da, db FROM (
{DEDUP_MINHASH_SQL}
  ) mh),
tagged AS (
  SELECT p.da, p.db, a.source AS src_a, b.source AS src_b
  FROM pairs p
  JOIN documents a ON a.doc_id = p.da
  JOIN documents b ON b.doc_id = p.db),
per_pair AS (
  SELECT unnest(CASE WHEN src_a = src_b THEN [src_a]
                     ELSE [src_a, src_b] END) AS source,
         CASE WHEN src_a = src_b THEN 1 ELSE 0 END AS internal
  FROM tagged),
pair_stats AS (
  SELECT source, COUNT(*) AS n_pairs, SUM(internal) AS n_internal_pairs
  FROM per_pair GROUP BY source),
involved AS (
  SELECT source, COUNT(*) AS n_dup_docs FROM (
    SELECT DISTINCT doc_id, source FROM (
      SELECT da AS doc_id, src_a AS source FROM tagged
      UNION ALL
      SELECT db AS doc_id, src_b AS source FROM tagged))
  GROUP BY source),
totals AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source)
SELECT t.source, t.n_docs,
       CAST(COALESCE(i.n_dup_docs, 0) AS BIGINT) AS n_dup_docs,
       CAST(COALESCE(ps.n_pairs, 0) AS BIGINT) AS n_pairs,
       CAST(COALESCE(ps.n_internal_pairs, 0) AS BIGINT) AS n_internal_pairs,
       CAST(COALESCE(i.n_dup_docs, 0) AS DOUBLE) / CAST(t.n_docs AS DOUBLE)
         AS dup_doc_rate
FROM totals t
LEFT JOIN involved i ON i.source = t.source
LEFT JOIN pair_stats ps ON ps.source = t.source
ORDER BY t.source
"""


# ------------------------------------ paragraph/chunk-level dedup (r8)


def dedup_paragraph_stats(
    spark: SparkSession, sf_dir: str, *, chunk_words: int = 8
) -> DataFrame:
    """Chunk-level (pseudo-paragraph) exact dedup — the C4/RefinedWeb
    curation step that removes REPEATED PASSAGES across documents
    rather than whole-document copies: each doc splits into
    consecutive ``chunk_words``-word chunks, chunks are hashed, and
    every doc reports how many of its chunks also appear elsewhere
    in the corpus.

    Scale shape: chunking is a pure expression tree
    (``transform(sequence(...), i -> concat_ws(slice(words, ...)))``
    + one explode — zero shuffle, no Python); the only shuffles are
    a groupBy on the uniform md5 chunk key and the per-source
    rollup. Per-source output keeps the result KB-scale regardless
    of corpus size.
    """
    d = load_table(spark, sf_dir, "documents", ["doc_id", "source", "text"])
    words = F.split(F.col("text"), " ")
    n_chunks = F.ceil(F.size(words) / chunk_words).cast("int")
    chunks = d.select(
        "doc_id",
        "source",
        F.posexplode(
            # guard: sequence(0, -1) would yield [0, -1] (Spark infers
            # a NEGATIVE step when start > stop), not an empty list
            F.when(n_chunks > 0, F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.concat_ws(
                    " ", F.slice(words, i * chunk_words + 1, chunk_words)
                ),
            )).otherwise(F.array().cast("array<string>")),
        ).alias("chunk_idx", "chunk"),
    ).withColumn("chunk_hash", F.md5("chunk"))
    # aggregate ONCE per (hash, source), then attach the corpus-wide
    # occurrence count as a WINDOW sum over the already-reduced frame
    # — one scan of the chunk explosion and three total shuffles
    # ((hash, source) agg → hash window → source rollup), vs four
    # plus a duplicated subplan for the groupBy + self-join form
    # (measured 2x faster at sf0.1)
    per = chunks.groupBy("chunk_hash", "source").agg(
        F.count(F.lit(1)).alias("n_in_source")
    )
    tagged = per.withColumn(
        "n_occurrences",
        F.sum("n_in_source").over(Window.partitionBy("chunk_hash")),
    )
    return (
        tagged.groupBy("source")
        .agg(
            F.sum("n_in_source").cast("long").alias("n_chunks"),
            F.sum(F.when(F.col("n_occurrences") > 1, F.col("n_in_source")).otherwise(0))
            .cast("long")
            .alias("n_dup_chunks"),
            F.count(F.lit(1)).cast("long").alias("n_distinct_chunks"),
        )
        .orderBy("source")
    )


DEDUP_PARAGRAPH_SQL = """
WITH docs AS (
  SELECT doc_id, source, string_split(text, ' ') AS words
  FROM documents
),
chunks AS (
  SELECT doc_id, source,
         md5(array_to_string(words[i * 8 + 1 : i * 8 + 8], ' ')) AS chunk_hash
  FROM docs,
       LATERAL (
         SELECT unnest(range(CAST(ceil(len(words) / 8.0) AS BIGINT))) AS i
       ) idx
),
counts AS (
  SELECT chunk_hash, COUNT(*) AS n_occurrences FROM chunks GROUP BY 1
)
SELECT c.source,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(CASE WHEN n.n_occurrences > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_chunks,
       CAST(COUNT(DISTINCT c.chunk_hash) AS BIGINT) AS n_distinct_chunks
FROM chunks c JOIN counts n USING (chunk_hash)
GROUP BY c.source
ORDER BY c.source
"""


# -------------------------------------- cross-doc substring coverage


def dedup_substring_coverage(
    spark: SparkSession,
    sf_dir: str,
    *,
    n: int = 16,
    stride: int = 4,
    cap: int = 1000,
) -> DataFrame:
    """Cross-document SUBSTRING coverage — the exact-substring dedup
    signal (Lee et al., "Deduplicating Training Data Makes Language
    Models Better", public): per source, what fraction of documents'
    char ``n``-grams also appear in at least one OTHER document,
    plus how many docs are majority-covered (2·dup ≥ total — the
    docs an exact-substring dedup pass would cut or trim).

    Completes the dedup family's granularity ladder: whole-doc
    (exact), chunk (paragraph), shingle-set (MinHash/Jaccard/
    SimHash), semantic (embedding) — and now raw substring overlap,
    which catches long verbatim spans embedded in otherwise-unique
    documents that set-level sketches dilute.

    Scale shape: ``char_ngram_hashes`` caps work at ``cap/stride``
    hashes per doc (same knob as text_fingerprint); the global
    document-frequency aggregate and the join back both key on
    md5-uniform hashes (no skew); everything downstream is exact
    integers, so the gate is hash-exact cross-engine (per-source
    single division avoided entirely)."""
    from ..functions.text import char_ngram_hashes

    d = load_table(spark, sf_dir, "documents", ["doc_id", "source", "text"])
    d = d.withColumn("nt", norm_text("text"))
    grams = d.select(
        "doc_id", "source",
        F.explode(char_ngram_hashes("nt", n, cap, stride)).alias("h"),
    )
    # aggregate to (h, doc) BEFORE anything crosses the wire (guide
    # §2.3 — map-side partial agg reduces the raw gram instances),
    # then the per-hash document frequency is a window COUNT over
    # the already-reduced frame: rows per h ARE distinct docs, so no
    # countDistinct, no join back of the raw explode, and the grams
    # subtree evaluates ONCE (the former two-consumer shape needed a
    # localCheckpoint + re-shuffle of raw gram instances; r16, same
    # trick dedup_paragraph_stats uses)
    # grouped by (h, doc_id) — NOT (h, doc_id, source) — so the
    # window count below provably equals the oracle's
    # COUNT(DISTINCT doc_id) even if a doc_id ever appeared under
    # two sources; `source` is functionally dependent on doc_id
    # (gen_scale_corpus keeps ids disjoint) and rides via min(), a
    # deterministic pick should that ever break (ADVICE r16)
    g2 = grams.groupBy("h", "doc_id").agg(
        F.min("source").alias("source"),
        F.count(F.lit(1)).alias("n"),
    )
    tagged = g2.withColumn(
        "docs_with", F.count(F.lit(1)).over(Window.partitionBy("h"))
    )
    per_doc = (
        tagged.groupBy("doc_id", "source")
        .agg(
            F.sum("n").alias("total"),
            F.sum(F.when(F.col("docs_with") >= 2, F.col("n")).otherwise(0)).alias("dup"),
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("total").cast("long").alias("total_grams"),
            F.sum("dup").cast("long").alias("dup_grams"),
            F.sum((2 * F.col("dup") >= F.col("total")).cast("long"))
            .cast("long")
            .alias("n_majority_covered"),
        )
        .orderBy("source")
    )


DEDUP_SUBSTRING_SQL = """
WITH t AS (
  SELECT doc_id, source,
         substring(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), 1, 1000) AS nt
  FROM documents),
g AS (
  SELECT doc_id, source,
         unnest(list_transform(range(1, greatest(length(nt) - 15, 1) + 1, 4),
                               i -> md5(substring(nt, i, 16)))) AS h
  FROM t),
dfh AS (SELECT h, COUNT(DISTINCT doc_id) AS docs_with FROM g GROUP BY h),
pd AS (
  SELECT doc_id, source, COUNT(*) AS total,
         SUM(CASE WHEN docs_with >= 2 THEN 1 ELSE 0 END) AS dup
  FROM g JOIN dfh USING (h)
  GROUP BY doc_id, source)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(total) AS BIGINT) AS total_grams,
       CAST(SUM(dup) AS BIGINT) AS dup_grams,
       CAST(SUM(CASE WHEN 2 * dup >= total THEN 1 ELSE 0 END) AS BIGINT)
         AS n_majority_covered
FROM pd
GROUP BY source
ORDER BY source
"""
