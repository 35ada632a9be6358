"""Sketch-based near-duplicate detection over ``documents`` — the
100 TB-scale dedup family (MinHash+LSH, SimHash) extending the exact
methods in :mod:`taipei_bi_etl_spark.queries.pipeline` (SURVEY §7.1
step 8; BASELINE north star).

Scale shape shared by both operators:

* Sketches (64-perm MinHash signature / 60-bit SimHash fingerprint)
  cost O(shingles) per doc; their aggregation is map-side partial
  min/sum, so the exchange carries one signature-width row per doc per
  task — never the shingles (see _signatures for why this beats a
  literally zero-shuffle higher-order-function formulation).
* Candidate generation shuffles only on **bounded sketch keys** (band
  hash / 4-bit fingerprint block), never on raw content; pairwise work
  happens strictly inside a bucket.
* Exact verification (Jaccard / Hamming) runs only on candidate pairs.

Degenerate buckets are the only quadratic risk; the guards are real
parameters here — ``df_cap`` (drop shingles shared by more than K docs
before the inverted-index join) and ``bucket_cap`` (drop band buckets
holding more than K docs).  The oracle-checked ``queries()`` entries run
with the guards off (the sf data has no degenerate keys — max df 25);
`tests/test_dedup.py` pins the guard semantics on a synthetic corpus.
"""

from __future__ import annotations

from functools import cache, reduce
from operator import add

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from taipei_bi_etl_spark.io import read_table
from taipei_bi_etl_spark.queries import query

N_PERM = 64  # minhash permutations
N_BANDS = 16  # 16 bands x 4 rows: P(detect | J=0.9) ~ 1 - 2.6e-8
ROWS_PER_BAND = N_PERM // N_BANDS
JACCARD_T = 0.8

SIMHASH_BITS = 60  # low 30 bits of each of two portable polynomial hashes
SIMHASH_BLOCKS = 15  # 15 blocks x 4 bits: pigeonhole-complete for hamming <= 14
HAMMING_T = 12


def shingle_array(tok: Column) -> Column:
    """Distinct word-3-gram shingles of a token array (empty if < 3).

    Implemented as zip_with over shifted slices — ~10x faster than
    transform(sequence, element_at) which pays ANSI bounds checks and
    index materialization per element."""
    # greatest(…, 0): slice REJECTS negative lengths, and while the
    # when(n >= 3) guard below lazily skips the zipped branch, the
    # clamp keeps the slices valid under any future non-lazy rewrite.
    n = F.size(tok)
    n2 = F.greatest(n - 2, F.lit(0))
    a = F.slice(tok, 1, n2)
    b = F.slice(tok, 2, n2)
    c = F.slice(tok, 3, n2)
    zipped = F.zip_with(
        a,
        F.zip_with(b, c, lambda x, y: F.concat(x, F.lit(" "), y)),
        lambda x, y: F.concat(x, F.lit(" "), y),
    )
    arr = F.when(n >= 3, zipped).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(arr)


def ngram_hash_array(tok: Column, n: int) -> Column:
    """64-bit hashes of word-n-grams of a token array (with repeats;
    empty if fewer than n tokens).

    Hashes each token once, then left-folds the n token hashes with
    xxhash64 over shifted slices — no n-word string is ever
    materialized, and everything downstream (distinct, inverted-index
    join, signature mins, membership probes) carries 8-byte longs
    instead of n-word strings.  At 100 TB an index shuffle is
    ∝ 8 B/gram; collisions (2⁻⁶⁴) are the only semantic delta vs
    string n-grams.
    """
    th = F.transform(tok, lambda t: F.xxhash64(t))
    sz = F.size(th)
    # clamp: slice rejects negative lengths; the when(sz >= n) guard
    # below lazily skips the branch, but keep the slices valid anyway
    m = F.greatest(sz - (n - 1), F.lit(0))
    shifted = [F.slice(th, i + 1, m) for i in range(n)]
    combined = reduce(
        lambda acc, nxt: F.zip_with(acc, nxt, lambda x, y: F.xxhash64(x, y)),
        shifted,
    )
    return F.when(sz >= n, combined).otherwise(
        F.array().cast("array<bigint>")
    )


def shingle_hash_array(tok: Column) -> Column:
    """Distinct 64-bit hashes of word-3-gram shingles (empty if < 3)."""
    return F.array_distinct(ngram_hash_array(tok, 3))


def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # widen_scan: SimHash's two polynomial char-hashes per shingle are
    # map-side above this scan (measured 1.49× whole-query at sf0.1,
    # SCALE.md r10)
    from taipei_bi_etl_spark.scale import widen_scan

    d = widen_scan(read_table(spark, sf_dir, "documents"))
    tok = F.split(F.col("text"), r"\s+")
    return d.select("doc_id", shingle_array(tok).alias("sh")).filter(
        F.size("sh") > 0
    )


def _doc_shingle_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    # widen_scan: the 64 MinHash permutations are map-side expressions
    # right above this scan — an unsplittable single-file input would
    # evaluate them all on one core (measured 1.11× whole-query at
    # sf0.1, SCALE.md r10; no-op when the scan already has splits).
    from taipei_bi_etl_spark.scale import widen_scan

    d = widen_scan(read_table(spark, sf_dir, "documents"))
    tok = F.split(F.col("text"), r"\s+")
    return d.select("doc_id", shingle_hash_array(tok).alias("sh")).filter(
        F.size("sh") > 0
    )


def cap_document_frequency(index: DataFrame, df_cap: int | None) -> DataFrame:
    """Drop stop-shingles from an exploded (doc_id, shingle) index.

    A shingle shared by df docs contributes df² candidate rows to the
    inverted-index self-join; boilerplate shingles ("all rights
    reserved …") make that quadratic at corpus scale.  One extra
    aggregation on the same shingle partitioning computes df and the
    anti-filter.  Apply it BEFORE doc-size counting so similarity is
    exact Jaccard over the capped universe (stop-shingles leave both
    intersection and union, as in stopword removal) — pairs whose
    overlap rests on sub-cap shingles are then unaffected.
    """
    if df_cap is None:
        return index
    w_df = index.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    return (
        index.join(w_df.filter(F.col("df") <= df_cap).select("shingle"), "shingle")
    )


def _exact_jaccard_on_pairs(pairs: DataFrame, docs_sh: DataFrame) -> DataFrame:
    """Verify candidate (doc_a, doc_b) pairs with exact set Jaccard."""
    sa = docs_sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sha"))
    sb = docs_sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("shb"))
    inter = F.size(F.array_intersect("sha", "shb"))
    union = F.size("sha") + F.size("shb") - inter
    jac = inter.cast("double") / union
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= JACCARD_T)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH banding.
# ---------------------------------------------------------------------------

# Oracle = ALL-pairs exact Jaccard at the same threshold: valid because
# 16x4 banding detects J >= 0.8 with probability 1 - (1 - 0.8^4)^16
# ~ 0.9998 per pair, the testdata's true pairs all have J >= 0.889
# (P(miss) < 2e-7), and xxhash64 is deterministic — the sf0.01 result is
# frozen, so a one-time pass here is a forever pass.
_MINHASH_ORACLE = f"""
WITH shingles AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, greatest(len(tok) - 1, 1)),
                i -> tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2])) AS shingle
  FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS tok FROM documents)
), sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id
), pair_inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM shingles a JOIN shingles b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       ROUND(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 6) AS jaccard
FROM pair_inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= {JACCARD_T}
"""


def _signatures(docs_sh: DataFrame) -> DataFrame:
    """64-column MinHash signature per doc from hashed shingles.

    One real hash per shingle, then N_PERM cheap universal-family
    permutations h*A_i + B_i — 64x fewer hash evaluations than hashing
    each shingle N_PERM times.  Flat columnar exprs over the exploded
    index beat a "zero-shuffle" 64×array_min(transform) formulation
    (measured ~1.7x slower end-to-end): higher-order lambdas run
    interpreted and re-traverse the array per permutation, while the
    explode+groupBy pipeline is whole-stage-codegen with map-side
    partial mins — the exchange carries one 64-long row per doc per
    task, negligible against the scan at any scale.
    """
    hashed = docs_sh.select("doc_id", F.explode("sh").alias("s")).select(
        "doc_id", F.pmod(F.col("s"), F.lit(_MERSENNE_P)).alias("h")
    )
    return hashed.groupBy("doc_id").agg(*_perm_min_cols())


_MERSENNE_P = (1 << 31) - 1

# The permutation-min aggregates (~0.7 s of driver-side py4j
# construction) and the band structs (~0.26 s) are constant expression
# trees over fixed column names, built once and cached (Column trees
# only, no data).
@cache
def _perm_min_cols() -> tuple[Column, ...]:
    """The N_PERM ``min(universal-hash-permutation)`` aggregate columns
    over the exploded shingle-hash column ``h``."""
    import numpy as np

    # Universal-hash permutations mod a Mersenne prime: (h*A_i +
    # B_i) mod P actually permutes (a plain h*A+B is
    # order-preserving and min() would always pick the same
    # shingle).  Operands are bounded (h,A,B < P = 2^31-1) so
    # products stay < 2^62 — no ANSI overflow.
    P = _MERSENNE_P
    rng = np.random.RandomState(7)
    A = rng.randint(1, P, size=N_PERM).tolist()
    B = rng.randint(0, P, size=N_PERM).tolist()
    return tuple(
        F.min(
            F.pmod(F.col("h") * F.lit(int(A[i])) + F.lit(int(B[i])), F.lit(P))
        ).alias(f"m{i}")
        for i in range(N_PERM)
    )


@cache
def _band_structs() -> Column:
    """Array of (band_id, band_hash) structs over signature columns
    (constant expression over the fixed m0..m63 names)."""
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.xxhash64(
                    *[
                        F.col(f"m{b * ROWS_PER_BAND + r}")
                        for r in range(ROWS_PER_BAND)
                    ]
                ).alias("band_hash"),
            )
            for b in range(N_BANDS)
        ]
    )


def minhash_lsh_pairs(
    docs_sh: DataFrame, bucket_cap: int | None = None
) -> DataFrame:
    """MinHash(64) → LSH banding (16x4) → in-bucket candidates → exact
    Jaccard verify at ``JACCARD_T`` over a (doc_id, sh: array<bigint>)
    frame of hashed shingles.

    ``bucket_cap`` drops band buckets holding more than K docs (a bucket
    of n docs emits n² candidate rows; at corpus scale a boilerplate
    band collapses millions of docs into one bucket).  Dropping a bucket
    only loses pairs whose OTHER 15 bands also collide-or-overflow, so
    recall for genuinely rare pairs is preserved — pinned in tests.
    """
    sig = _signatures(docs_sh)
    banded = sig.select("doc_id", F.explode(_band_structs()).alias("band")).select(
        "doc_id", "band.band_id", "band.band_hash"
    )
    if bucket_cap is not None:
        sizes = banded.groupBy("band_id", "band_hash").agg(
            F.count(F.lit(1)).alias("bn")
        )
        banded = banded.join(
            sizes.filter(F.col("bn") <= bucket_cap).select("band_id", "band_hash"),
            ["band_id", "band_hash"],
        )
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(b, ["band_id", "band_hash"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    return _exact_jaccard_on_pairs(cand, docs_sh)


@query("dedup_minhash_lsh", oracle=_MINHASH_ORACLE, tags=("dedup", "extension"))
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(64) → LSH banding (16x4) → in-bucket candidates → exact
    Jaccard verify at 0.8.

    Unlike :func:`dedup_ngram_jaccard`'s inverted shingle index (join
    volume ∝ Σ df(shingle)²), candidate volume here is bounded by band
    buckets — the 100 TB path.  Core in :func:`minhash_lsh_pairs`
    (which also carries the ``bucket_cap`` degenerate-bucket guard).
    """
    # the shingle set feeds two independent subtrees (signatures and the
    # exact-verify join); persist so it computes once per run
    docs_sh = _doc_shingle_hashes(spark, sf_dir).persist()
    return minhash_lsh_pairs(docs_sh)


# ---------------------------------------------------------------------------
# SimHash.  The shingle hash is the portable two-prime polynomial (30
# usable bits per prime → a 60-bit fingerprint), so the ENTIRE sketch —
# votes, fingerprint, hamming pairs — is integer arithmetic both engines
# evaluate identically.  The oracle is the all-pairs O(n²) rewrite,
# valid because the 15×4-bit block decomposition is pigeonhole-COMPLETE
# at hamming ≤ 12 (12 differing bits touch ≤ 12 of 15 blocks): the
# Spark block-join finds exactly the pairs the quadratic scan finds.
# Recall vs exact Jaccard is additionally gated in tests/test_dedup.py.
# ---------------------------------------------------------------------------

_SIMHASH_P1, _SIMHASH_B1 = 1_000_000_007, 31
_SIMHASH_P2, _SIMHASH_B2 = 999_999_937, 37
_HALF_BITS = SIMHASH_BITS // 2


def _poly_sql(src: str, base: int, mod: int) -> str:
    # DuckDB list_reduce seeds acc with the first element — identical to
    # Spark's fold from 0 (0*base + c1 == c1).  Proven by the winnowing
    # oracle in text.py.
    return (
        f"list_reduce(list_transform(string_split({src}, ''),"
        " c -> ascii(c)::BIGINT),"
        f" (acc, x) -> (acc * {base} + x) % {mod})"
    )


def _simhash_oracle() -> str:
    votes = ",\n         ".join(
        f"SUM(CASE WHEN ({'h1' if i < _HALF_BITS else 'h2'}"
        f" >> {i if i < _HALF_BITS else i - _HALF_BITS}) & 1 = 1"
        f" THEN 1 ELSE -1 END) AS v{i}"
        for i in range(SIMHASH_BITS)
    )
    fp = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN (1::BIGINT << {i}) ELSE 0 END)"
        for i in range(SIMHASH_BITS)
    )
    return f"""
WITH shingles AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, greatest(len(tok) - 1, 1)),
                i -> tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2])) AS shingle
  FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS tok FROM documents)
), hashed AS (
  SELECT doc_id,
         {_poly_sql("shingle", _SIMHASH_B1, _SIMHASH_P1)} AS h1,
         {_poly_sql("shingle", _SIMHASH_B2, _SIMHASH_P2)} AS h2
  FROM shingles
), votes AS (
  SELECT doc_id,
         {votes}
  FROM hashed GROUP BY doc_id
), fp AS (
  SELECT doc_id, CAST({fp} AS BIGINT) AS fp FROM votes
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.fp, b.fp)) <= {HAMMING_T}
"""


@query(
    "dedup_simhash", oracle=_simhash_oracle(), tags=("dedup", "extension")
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash over shingle hashes; near-dup pairs = Hamming ≤ 12,
    found via 15-block decomposition (pigeonhole: hamming ≤ 14 pairs
    share at least one exact 4-bit block — no all-pairs scan).

    The fingerprint concatenates the low 30 bits of two independent
    polynomial hashes (bases 31/37, distinct primes) — portable across
    engines, which is what makes the oracle possible; a production swap
    back to xxhash64 only loses the cross-engine check, not semantics.

    Known limitation (inherent to SimHash, not this implementation):
    docs with very few shingles have high fingerprint variance — one
    differing shingle among ~5 can flip dozens of bits — so short-doc
    near-dups can be missed.  Gate short docs to MinHash instead.

    Returns (doc_a, doc_b, hamming).
    """
    fps = simhash_fingerprints(_doc_shingles(spark, sf_dir))
    blocked = simhash_block_index(fps)
    return simhash_pairs_from_blocks(blocked, blocked)


def simhash_fingerprints(docs_sh: DataFrame) -> DataFrame:
    """(doc_id, fp): the 60-bit SimHash per document from its shingle
    set — the hash-once stage an incremental pipeline persists."""
    from taipei_bi_etl_spark.queries.text import _char_array, poly_hash

    chars = _char_array(F.col("s"))
    hashed = docs_sh.select("doc_id", F.explode("sh").alias("s")).select(
        "doc_id",
        poly_hash(chars, _SIMHASH_B1, _SIMHASH_P1).alias("h1"),
        poly_hash(chars, _SIMHASH_B2, _SIMHASH_P2).alias("h2"),
    )
    vote_aggs, fp_fold = _simhash_exprs()
    votes = hashed.groupBy("doc_id").agg(*vote_aggs)
    return votes.select("doc_id", fp_fold.alias("fp"))


@cache
def _simhash_exprs() -> tuple[tuple[Column, ...], Column]:
    """The 60 vote aggregates and the 60-term fingerprint fold over
    fixed column names, cached: ~1 s of driver-side py4j construction
    per build."""
    vote_aggs = tuple(
        F.sum(
            F.shiftright(
                "h1" if i < _HALF_BITS else "h2",
                i if i < _HALF_BITS else i - _HALF_BITS,
            ).bitwiseAND(F.lit(1))
            * 2
            - 1
        ).alias(f"v{i}")
        for i in range(SIMHASH_BITS)
    )
    fp_fold = reduce(
        add,
        [
            F.when(
                F.col(f"v{i}") > 0,
                F.shiftleft(F.lit(1).cast("long"), i),
            ).otherwise(F.lit(0).cast("long"))
            for i in range(SIMHASH_BITS)
        ],
    )
    return vote_aggs, fp_fold


@query(
    "dedup_simhash_incremental",
    oracle=_simhash_oracle(),
    tags=("dedup", "ivm", "extension"),
)
def dedup_simhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SimHash dedup against a persisted block index — the
    third member of the incremental-dedup family (text MinHash:
    `dedup_incremental`; images: `multimodal_phash_dedup_incremental`):
    history documents hash once into the {SIMHASH_BLOCKS}-block index;
    a new batch (doc_id % 4 == 3, ~25%) hashes only itself and probes
    it, so daily cost is ∝ |batch| + matched block buckets.

    IVM identity, hash-proven by the driver gate: the ORACLE is the
    FULL all-pairs recompute; this plan computes
    ``pairs(history) ∪ probe(new, index(history) ∪ index(new))`` —
    equal because the block join is pigeonhole-complete and the
    normalize+distinct covers each unordered pair once (r08: plumbing
    via the shared `incremental.incremental_pairs` scaffold)."""
    from taipei_bi_etl_spark.queries.incremental import incremental_pairs

    fps = simhash_fingerprints(_doc_shingles(spark, sf_dir)).persist()
    return incremental_pairs(
        fps.filter(F.col("doc_id") % 4 != 3),
        fps.filter(F.col("doc_id") % 4 == 3),
        simhash_block_index,
        simhash_pairs_from_blocks,
    )


def simhash_block_index(fps: DataFrame) -> DataFrame:
    """(doc_id, fp, block_id, block_val) rows — the persistable SimHash
    block index (same role as the minhash band index above: bucketed on
    (block_id, block_val) in production so incremental probes co-locate
    without shuffling history)."""
    block_w = SIMHASH_BITS // SIMHASH_BLOCKS
    blocks = F.array(
        *[
            F.struct(
                F.lit(i).alias("block_id"),
                F.shiftright("fp", i * block_w)
                .bitwiseAND(F.lit((1 << block_w) - 1))
                .alias("block_val"),
            )
            for i in range(SIMHASH_BLOCKS)
        ]
    )
    return fps.select("doc_id", "fp", F.explode(blocks).alias("b")).select(
        "doc_id", "fp", "b.block_id", "b.block_val"
    )


def simhash_pairs_from_blocks(
    probe: DataFrame, index: DataFrame
) -> DataFrame:
    """Hamming-≤-{HAMMING_T} pairs with at least one side in ``probe``
    (pass the same frame twice for the full self-join) — pigeonhole-
    complete over the {SIMHASH_BLOCKS}-block decomposition."""
    a = probe.alias("a")
    b = index.alias("b")
    ham = F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp")))
    return (
        a.join(b, ["block_id", "block_val"])
        .filter(F.col("a.doc_id") != F.col("b.doc_id"))
        .select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= HAMMING_T)
        .distinct()
    )


# ---------------------------------------------------------------------------
# Incremental dedup — the daily-batch form.  The reference's whole
# architecture is "process one day, idempotently, against accumulated
# state" (SURVEY §2.9, tasks/bigquery.py:182-195 cleanup + append);
# this is that pattern applied to near-dup detection: a persisted band
# index lets each new batch dedup against 100 TB of history by joining
# band keys, never re-scanning or re-sketching old documents.
# ---------------------------------------------------------------------------


def minhash_band_index(docs_sh: DataFrame) -> DataFrame:
    """(band_id, band_hash, doc_id, sh) index rows for a corpus — the
    persistable state.  In production this is written bucketed by
    (band_id, band_hash) (scale.write_bucketed) so the incremental join
    below is shuffle-free on the history side; history is sketched
    exactly once, on ingest."""
    sig = _signatures(docs_sh)
    banded = sig.select("doc_id", F.explode(_band_structs()).alias("band")).select(
        "doc_id", "band.band_id", "band.band_hash"
    )
    return banded.join(docs_sh, "doc_id")


def minhash_pairs_from_index(
    probe: DataFrame, index: DataFrame, normalized: bool = True
) -> DataFrame:
    """Jaccard-≥-{JACCARD_T} pairs with at least one side in ``probe``
    — the shared band-join + exact-verify kernel over
    :func:`minhash_band_index` rows (r09, VERDICT r08 #6: the bespoke
    body of ``dedup_incremental`` factored into the scaffold's
    pairs/probe shape, mirroring `simhash_pairs_from_blocks`).

    ``normalized=False`` is the self-join shape (strict ``a < b`` —
    pass the same frame twice); ``normalized=True`` is the probe
    shape, where only one side is the batch, so cross pairs arrive
    (new, hist) = (larger, smaller) and need least/greatest plus an
    a-is-min array swap.  Arrays ride the index rows, so the verify
    never re-joins the corpus."""
    a, b = probe.alias("a"), index.alias("b")
    joined = a.join(b, ["band_id", "band_hash"])
    if normalized:
        cand = (
            joined.filter(F.col("a.doc_id") != F.col("b.doc_id"))
            .select(
                F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
                F.greatest(
                    F.col("a.doc_id"), F.col("b.doc_id")
                ).alias("doc_b"),
                F.col("a.sh").alias("sha_probe"),
                F.col("b.sh").alias("shb_other"),
                (F.col("a.doc_id") < F.col("b.doc_id")).alias("a_is_min"),
            )
            .select(
                "doc_a",
                "doc_b",
                F.when(F.col("a_is_min"), F.col("sha_probe"))
                .otherwise(F.col("shb_other"))
                .alias("sha"),
                F.when(F.col("a_is_min"), F.col("shb_other"))
                .otherwise(F.col("sha_probe"))
                .alias("shb"),
            )
        )
    else:
        cand = joined.filter(
            F.col("a.doc_id") < F.col("b.doc_id")
        ).select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.sh").alias("sha"),
            F.col("b.sh").alias("shb"),
        )
    cand = cand.dropDuplicates(["doc_a", "doc_b"])
    inter = F.size(F.array_intersect("sha", "shb"))
    union = F.size("sha") + F.size("shb") - inter
    jac = inter.cast("double") / union
    return (
        cand.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= JACCARD_T)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


def dedup_incremental(
    new_docs_sh: DataFrame, index: DataFrame, bucket_cap: int | None = None
) -> DataFrame:
    """Near-dup pairs (doc_a, doc_b, jaccard) touching the NEW batch:
    new-vs-history plus new-vs-new, at the same threshold as the full
    run.  Guarantee: full_pairs(history ∪ new) = full_pairs(history) ∪
    dedup_incremental(new, index(history)) — pinned in tests.

    Work is ∝ |new batch| + matched band buckets: history contributes
    only rows whose band key collides with a new doc (bucketed index →
    no history shuffle).  ``bucket_cap`` guards degenerate buckets as in
    :func:`minhash_lsh_pairs`."""
    new_index = minhash_band_index(new_docs_sh)
    if bucket_cap is not None:
        sizes = new_index.groupBy("band_id", "band_hash").agg(
            F.count(F.lit(1)).alias("bn")
        )
        new_index = new_index.join(
            sizes.filter(F.col("bn") <= bucket_cap).select("band_id", "band_hash"),
            ["band_id", "band_hash"],
        )
    both = index.unionByName(new_index)
    return minhash_pairs_from_index(new_index, both, normalized=True)


@query(
    "dedup_minhash_incremental",
    oracle=_MINHASH_ORACLE,
    tags=("dedup", "ivm", "extension"),
)
def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash-LSH dedup on the shared scaffold — the
    TENTH incremental form, closing VERDICT r08 #6 (MinHash was the
    FIRST family to grow the daily-batch pattern, r04, and the last
    still carrying private split/probe plumbing; the bespoke body now
    lives once in :func:`minhash_pairs_from_index` and the composition
    is `incremental.incremental_pairs`, like SimHash/phash/paragraph/
    linkage/n-gram before it).

    Decomposition: ``pairs(hist ∪ new) = pairs(hist) ∪ probe(new,
    index(hist) ∪ index(new))`` — exact because band-bucket collision
    is symmetric and the scaffold's distinct covers each unordered
    pair once.  IVM identity hash-proven by the driver gate: the
    ORACLE is the full recompute (`_MINHASH_ORACLE`, the same one
    `dedup_minhash_lsh` passes against)."""
    from taipei_bi_etl_spark.queries.incremental import (
        incremental_pairs,
        quantile_cut_split,
    )

    docs_sh = _doc_shingle_hashes(spark, sf_dir).persist()
    hist, new = quantile_cut_split(docs_sh, "doc_id")
    return incremental_pairs(
        hist,
        new,
        minhash_band_index,
        pairs_fn=lambda p, i: minhash_pairs_from_index(
            p, i, normalized=False
        ),
        probe_fn=minhash_pairs_from_index,
    )
