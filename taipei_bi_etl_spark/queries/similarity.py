"""Similarity search over the ``embeddings`` table (``array<float>``) —
the ANN component of the training-data pipeline (BASELINE north star;
SURVEY §7.1 step 8).

Design for 100 TB:

* The **query set is always the broadcast side** — corpus scans once,
  no corpus-side shuffle at all for brute-force top-k.
* Dot products stay JVM-side (``zip_with`` + ``aggregate`` inside
  whole-stage codegen), never a Python UDF.
* Norms are computed once per vector and carried, not recomputed per
  pair.
* The scale path is ``ann_lsh_bucketed``: random-hyperplane signatures
  shrink the candidate set from |corpus| to one bucket per query; the
  bucket id is the shuffle key (bounded cardinality 2^bits).

Float determinism note: elementwise double products summed strictly
left-to-right are bit-identical between Spark's ``aggregate`` and
DuckDB's ``list_inner_product`` (verified empirically), so similarity
values are safely oracle-hashable after ``ROUND(_, 6)``.
"""

from __future__ import annotations

import os
from functools import cache

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from taipei_bi_etl_spark.io import read_table
from taipei_bi_etl_spark.queries.emb_common import read_embeddings
from taipei_bi_etl_spark.queries import query
from taipei_bi_etl_spark.scale import bcast_dim

N_QUERIES = 10  # vec_id < 10 are the query vectors in the demo queries
TOP_K = 5


def as_double(arr: Column | str) -> Column:
    """array<float> → array<double> so both engines do double math."""
    c = F.col(arr) if isinstance(arr, str) else arr
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Left-to-right double dot product — deterministic, codegen'd."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column, norm_a: Column, norm_b: Column) -> Column:
    return dot(a, b) / (norm_a * norm_b)


def _corpus_with_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    # every consumer normalizes by the norm — zero/NULL/wrong-dim
    # vectors are filtered (emb_common gate, mirrored in the oracles).
    # widen_scan: the similarity family's cost center is map-side
    # per-row kernels (64 hyperplane dots for LSH signatures, query
    # dots for top-k) evaluated directly above this scan — a single
    # unsplittable parquet file would run them all on one core
    # (measured ~70% of dedup_embedding_lsh at sf0.1, SCALE.md r10).
    from taipei_bi_etl_spark.scale import widen_scan

    e = widen_scan(read_embeddings(spark, sf_dir, direction=True))
    emb = as_double("embedding")
    return e.select(
        "vec_id", "label", emb.alias("emb"), l2_norm(emb).alias("norm")
    )


# ---------------------------------------------------------------------------
# Brute-force cosine top-k — the exact baseline every ANN variant is
# measured against.
# ---------------------------------------------------------------------------

_TOPK_ORACLE = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb,
         sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = 64 AND len(list_filter(embedding, x -> x <> 0)) > 0
), q AS (
  SELECT vec_id AS query_id, emb AS qemb, nrm AS qnrm FROM e
  WHERE vec_id < {N_QUERIES}
), scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         list_inner_product(e.emb, q.qemb) / (e.nrm * q.qnrm) AS sim
  FROM e CROSS JOIN q
  WHERE e.vec_id <> q.query_id
)
SELECT query_id, neighbor_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS INT) AS rank,
       ROUND(sim, 6) AS cosine_sim
FROM scored
QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) <= {TOP_K}
"""


@query("ann_cosine_topk", oracle=_TOPK_ORACLE, tags=("similarity", "extension"))
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: broadcast the query vectors, scan the corpus
    once, rank per query.

    Scale: |queries| × dim lives on every executor (broadcast); the only
    shuffle is the per-query top-k (keys = query_id, tiny).  At 100 TB
    replace the final window with per-partition heap top-k +
    re-aggregate if |queries| is large.
    """
    corpus = _corpus_with_norm(spark, sf_dir)
    q = corpus.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("qemb"),
        F.col("norm").alias("qnorm"),
    )
    sim = cosine(F.col("emb"), F.col("qemb"), F.col("norm"), F.col("qnorm"))
    scored = (
        # bounded: fixed query set
        corpus.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), sim.alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank", F.round("sim", 6).alias("cosine_sim"))
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-duplicate pairs (dedup by vector similarity).
# ---------------------------------------------------------------------------

_NEARDUP_ORACLE = """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb,
         sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = 64 AND len(list_filter(embedding, x -> x <> 0)) > 0
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       ROUND(list_inner_product(a.emb, b.emb) / (a.nrm * b.nrm), 6) AS cosine_sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_inner_product(a.emb, b.emb) / (a.nrm * b.nrm) >= 0.99
"""


@query("dedup_embedding_cosine", oracle=_NEARDUP_ORACLE, tags=("dedup", "similarity"))
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate vector pairs (cosine ≥ 0.99), exact all-pairs —
    the VERIFICATION KERNEL, not the scale entry point.

    Use ``dedup_embedding_lsh`` as the default at scale: it generates
    candidates from signature buckets and runs this exact check only
    inside them (no corpus×corpus join).  This all-pairs form stays
    registered as the ground-truth twin the LSH recall gate measures
    against (tests/test_similarity.py).
    """
    corpus = _corpus_with_norm(spark, sf_dir)
    a = corpus.select(
        F.col("vec_id").alias("vec_a"), F.col("emb").alias("ea"), F.col("norm").alias("na")
    )
    b = corpus.select(
        F.col("vec_id").alias("vec_b"), F.col("emb").alias("eb"), F.col("norm").alias("nb")
    )
    sim = cosine(F.col("ea"), F.col("eb"), F.col("na"), F.col("nb"))
    return (
        a.join(bcast_dim(b), F.col("vec_a") < F.col("vec_b"))
        .withColumn("sim", sim)
        .filter(F.col("sim") >= 0.99)
        .select("vec_a", "vec_b", F.round("sim", 6).alias("cosine_sim"))
    )


# ---------------------------------------------------------------------------
# LSH-bucketed ANN — the scale path.  Random-hyperplane signatures;
# candidates only within a bucket.  Recall vs the exact top-k is
# asserted in tests/test_similarity.py; ALSO oracle-checked: the seeded
# hyperplanes are inlined into the SQL as literal vectors, so DuckDB
# reproduces the exact same signatures, candidate sets and ranking.
# ---------------------------------------------------------------------------

# 4 bits x 16 tables tuned for weakly-clustered corpora (recall ~0.98
# on the synthetic testdata where top-k cosine is only ~0.3); on real
# clustered embeddings the same shape is far more selective — raise
# LSH_BITS as intra-cluster similarity rises.
LSH_BITS = 4
LSH_TABLES = 16
LSH_DIM = 64

#: Hot-bucket cap (r11, VERDICT r10 #4 — guide §2.5 skew).  The LSH
#: candidate join is keyed on (table_id, bucket) with only
#: LSH_TABLES × 2^LSH_BITS = 256 distinct keys, so ONE hot bucket
#: (boilerplate near-identical embeddings at 100 TB) is a single
#: unsplittable join key: AQE's skew-join split cannot divide a single
#: enormous key, and 256 keys also caps the stage's parallelism far
#: below a real cluster's core count.  Buckets larger than this cap
#: are salted: each side is split into ``nsplit = ceil(count/cap)``
#: deterministic groups (pmod(xxhash64(id), nsplit) — never rand(),
#: guide §2.5's retry-duplication warning) and the opposite side is
#: replicated nsplit ways, so every pair still meets EXACTLY ONCE (in
#: group (g(a), g(b))) while per-task candidate volume is bounded by
#: cap² and the join fans out to nsplit² schedulable groups per hot
#: bucket.  Buckets at or under the cap get nsplit=1: zero salt
#: groups, no replication — at bench scale (sf0.1 buckets ~hundreds of
#: rows) the join degenerates to today's shape.  Parameterized for
#: production tuning; the default bounds a task at ~25M candidate
#: pairs (~seconds of filter work).
LSH_BUCKET_CAP = int(os.environ.get("SPARK_GRAFT_LSH_BUCKET_CAP", "5000"))


def _bucket_splits(bucketed: DataFrame) -> DataFrame:
    """(table_id, bucket, nsplit) from an ids-only LSH index frame —
    bounded by construction at LSH_TABLES × 2^LSH_BITS rows, so it is
    always broadcastable regardless of corpus size."""
    return bucketed.groupBy("table_id", "bucket").agg(
        F.ceil(F.count(F.lit(1)) / float(LSH_BUCKET_CAP))
        .cast("int")
        .alias("nsplit")
    )


def _salt_sides(
    a: DataFrame, b: DataFrame, splits: DataFrame, a_id: str, b_id: str
) -> tuple[DataFrame, DataFrame, list[str]]:
    """Salt both sides of a (table_id, bucket) pair join with the
    bounded ``splits`` frame (broadcast).  Side ``a`` keeps its own
    deterministic group and replicates across the other side's groups;
    side ``b`` symmetric — pair (x, y) meets exactly once, in group
    (g(x), g(y)).  Returns the salted sides and the join keys."""
    # bounded: splits has ≤ LSH_TABLES × 2^LSH_BITS = 256 rows by
    # construction (one per possible bucket), whatever the corpus size
    bs = F.broadcast(splits)
    ga_own = F.pmod(F.xxhash64(a_id), F.col("nsplit")).cast("int")
    gb_own = F.pmod(F.xxhash64(b_id), F.col("nsplit")).cast("int")
    fan = F.explode(F.sequence(F.lit(0), F.col("nsplit") - 1))
    sa = (
        a.join(bs, ["table_id", "bucket"])
        .withColumn("ga", ga_own)
        .withColumn("gb", fan)
        .drop("nsplit")
    )
    sb = (
        b.join(bs, ["table_id", "bucket"])
        .withColumn("gb", gb_own)
        .withColumn("ga", fan)
        .drop("nsplit")
    )
    return sa, sb, ["table_id", "bucket", "ga", "gb"]


def _hyperplanes() -> list[list[list[float]]]:
    """Deterministic hyperplanes: LSH_TABLES tables × LSH_BITS planes,
    seeded so the signature of a vector is stable across runs/sessions."""
    import numpy as np

    rng = np.random.RandomState(42)
    return rng.standard_normal((LSH_TABLES, LSH_BITS, LSH_DIM)).tolist()


def signature(emb: Column, planes: list[list[float]]) -> Column:
    """Pack sign bits of ⟨emb, plane_i⟩ into one long — the bucket key."""
    bits = [
        F.when(dot(emb, F.array(*[F.lit(v) for v in p])) >= 0, F.lit(1 << i)).otherwise(
            F.lit(0)
        )
        for i, p in enumerate(planes)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("long")


def _memo_key(c: Column) -> str:
    """Expression-string memo key with LAMBDA VARIABLES normalized:
    Spark auto-numbers them per construction (``transform(embedding,
    x_1 -> …)`` then ``x_2 -> …``), so the raw string of a semantically
    identical input never repeats.

    Only identifiers DECLARED as lambda parameters (the tokens before
    ``->``, single or parenthesized multi-arg) are renumbered — a
    blanket ``\\w+_\\d+`` rewrite would collide genuinely different
    column names that differ only in a numeric suffix (``emb_1`` vs
    ``emb_2``) into one memo entry and silently return the wrong
    compiled battery.  Declared vars are renumbered by order of first
    appearance, so two constructions of the same expression get the
    same key while distinct nested vars stay distinct."""
    import re

    s = str(c)
    seen: list[str] = []
    for grp in re.findall(r"\(?((?:\w+_\d+)(?:, \w+_\d+)*)\)? -> ", s):
        for n in grp.split(", "):
            if n not in seen:
                seen.append(n)
    for i, n in enumerate(seen):
        s = re.sub(
            rf"\b{re.escape(n)}\b", f"{n.rsplit('_', 1)[0]}_L{i}", s
        )
    return s


class _ColumnKey:
    """Hashable cache key for a Column argument: equal when the
    :func:`_memo_key` strings are equal.  Carries the Column the
    builder compiles from (the first one seen under that key)."""

    __slots__ = ("col", "key")

    def __init__(self, col: Column | str):
        self.col = F.col(col) if isinstance(col, str) else col
        self.key = _memo_key(self.col)

    def __hash__(self) -> int:
        return hash(self.key)

    def __eq__(self, other) -> bool:
        return isinstance(other, _ColumnKey) and self.key == other.key


# The LSH signature battery is LSH_TABLES×LSH_BITS×LSH_DIM = 4096
# literal nodes plus 64 fold lambdas, ~3 s of driver-side py4j
# construction per build; the JL projection battery is 1024 literals +
# 16 folds, ~1.5 s.  Both are cached per input expression (Column
# trees only, no data).
def lsh_signature_battery(emb: Column | str = "emb") -> Column:
    """``F.array`` of all LSH_TABLES table signatures for ``emb``."""
    return _lsh_signatures(_ColumnKey(emb))


@cache
def _lsh_signatures(emb: _ColumnKey) -> Column:
    planes = _hyperplanes()
    return F.array(
        *[signature(emb.col, planes[t]) for t in range(LSH_TABLES)]
    )


def jl_projection_battery(emb: Column | str = "emb") -> Column:
    """``F.array`` of the OUT_DIM JL sign-projection dots for ``emb``."""
    return _jl_projections(_ColumnKey(emb))


@cache
def _jl_projections(emb: _ColumnKey) -> Column:
    return F.array(
        *[
            dot(emb.col, F.array(*[F.lit(float(s)) for s in row]))
            for row in _jl_rows()
        ]
    )


def _lsh_oracle() -> str:
    """DuckDB twin of ann_lsh_bucketed with the hyperplanes inlined."""
    planes = _hyperplanes()

    def sig_expr(emb: str, t: int) -> str:
        bits = " + ".join(
            f"(CASE WHEN list_inner_product({emb}, "
            f"[{', '.join(repr(v) for v in planes[t][i])}]::DOUBLE[]) >= 0 "
            f"THEN {1 << i} ELSE 0 END)"
            for i in range(LSH_BITS)
        )
        return f"({bits})"

    corpus_sigs = ", ".join(
        f"{sig_expr('emb', t)} AS s{t}" for t in range(LSH_TABLES)
    )
    any_match = " OR ".join(f"e.s{t} = q.s{t}" for t in range(LSH_TABLES))
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb,
         sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = 64 AND len(list_filter(embedding, x -> x <> 0)) > 0
), sigs AS (
  SELECT vec_id, emb, nrm, {corpus_sigs} FROM e
), q AS (
  SELECT * FROM sigs WHERE vec_id < {N_QUERIES}
), cand AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         list_inner_product(e.emb, q.emb) / (e.nrm * q.nrm) AS sim
  FROM sigs e JOIN q ON ({any_match})
  WHERE e.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS INT) AS rank,
       ROUND(sim, 6) AS cosine_sim
FROM cand
QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) <= {TOP_K}
"""


@query("ann_lsh_bucketed", oracle=_lsh_oracle(), tags=("similarity", "extension"))
def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate cosine top-k: OR of LSH_TABLES hyperplane-signature
    tables; exact cosine re-rank inside the candidate union.

    Scale: corpus is scanned once computing LSH_TABLES bucket keys; the
    join key is (table, bucket) with cardinality ≤ LSH_TABLES·2^bits —
    bounded, shuffle-friendly, skew-resistant (hyperplanes split mass
    evenly).  Candidate volume per query ≈ corpus/2^bits per table
    instead of |corpus|.
    """
    corpus = _corpus_with_norm(spark, sf_dir)
    sigs = corpus.select(
        "vec_id",
        "emb",
        "norm",
        lsh_signature_battery("emb").alias("sigs"),
    )
    bucketed = sigs.select(
        "vec_id",
        "emb",
        "norm",
        F.posexplode("sigs").alias("table_id", "bucket"),
    )
    q = bucketed.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("qemb"),
        F.col("norm").alias("qnorm"),
        "table_id",
        "bucket",
    )
    cand = (
        # bounded: fixed query set
        bucketed.join(F.broadcast(q), ["table_id", "bucket"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "emb", "norm", "qemb", "qnorm")
        .dropDuplicates(["query_id", "vec_id"])  # OR across tables
    )
    sim = cosine(F.col("emb"), F.col("qemb"), F.col("norm"), F.col("qnorm"))
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        cand.withColumn("sim", sim)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "rank",
            F.round("sim", 6).alias("cosine_sim"),
        )
    )


# ---------------------------------------------------------------------------
# LSH-bucketed near-duplicate dedup — the DEFAULT embedding-dedup entry
# (VERDICT r01 #4): LSH-bucket candidate pairs → exact cosine verify,
# replacing the registered all-pairs form as what a user calls at scale.
# ---------------------------------------------------------------------------

NEARDUP_SIM = 0.3  # verify threshold (synthetic corpus max pair sim ~0.5)


def _lsh_pair_oracle() -> str:
    """DuckDB twin with the hyperplanes inlined — candidate generation
    and the exact verify both replicated, so the match is hash-exact."""
    planes = _hyperplanes()

    def sig_expr(emb: str, t: int) -> str:
        bits = " + ".join(
            f"(CASE WHEN list_inner_product({emb}, "
            f"[{', '.join(repr(v) for v in planes[t][i])}]::DOUBLE[]) >= 0 "
            f"THEN {1 << i} ELSE 0 END)"
            for i in range(LSH_BITS)
        )
        return f"({bits})"

    corpus_sigs = ", ".join(
        f"{sig_expr('emb', t)} AS s{t}" for t in range(LSH_TABLES)
    )
    any_match = " OR ".join(f"a.s{t} = b.s{t}" for t in range(LSH_TABLES))
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb,
         sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = 64 AND len(list_filter(embedding, x -> x <> 0)) > 0
), sigs AS (
  SELECT vec_id, emb, nrm, {corpus_sigs} FROM e
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       ROUND(list_inner_product(a.emb, b.emb) / (a.nrm * b.nrm), 6)
         AS cosine_sim
FROM sigs a JOIN sigs b ON a.vec_id < b.vec_id AND ({any_match})
WHERE list_inner_product(a.emb, b.emb) / (a.nrm * b.nrm) >= {NEARDUP_SIM}
"""


@query(
    "dedup_embedding_lsh",
    oracle=_lsh_pair_oracle(),
    tags=("dedup", "similarity", "extension"),
)
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs, the 100 TB path: LSH signature
    buckets generate candidate pairs; the exact cosine kernel
    (`dedup_embedding_cosine`'s check) verifies only inside buckets.

    Scale: NO corpus×corpus join anywhere — the self-join key is
    (table_id, bucket) with cardinality ≤ LSH_TABLES·2^LSH_BITS, so
    candidate volume is Σ_buckets |bucket|² instead of n², and each
    bucket is further bounded by the hyperplanes splitting mass evenly.
    The OR across tables is a FIRST-COLLISION emit (keep a joined pair
    iff no earlier table also collides — a map-side filter on the two
    carried signature arrays), not a ``dropDuplicates``: the distinct
    is an exchange + hash aggregate over the candidate volume, which is
    quadratic in bucket size, while the carried signature payload is
    LSH_TABLES ints on the linear index term (guide §2.4 "remove
    shuffles outright"; measured 1.42×/1.18× same-session medians at
    sf0.1, row-identical — SCALE.md r10).  The verify is the codegen'd
    zip_with/aggregate dot product.  Recall vs the exact all-pairs
    kernel is gated in tests/test_similarity.py; the oracle replicates
    the same seeded hyperplanes, so correctness is hash-exact, not
    recall-approximate.
    """
    # the corpus subtree feeds THREE consumers (signatures + both sides
    # of the verify join) and the bucketed-ids subtree feeds both sides
    # of the candidate self-join — without a persist each consumer
    # re-reads the parquet and re-evaluates the 64 hyperplane inner
    # products (measured ~3× the query's whole cost at sf0.1)
    corpus = _corpus_with_norm(spark, sf_dir).persist()
    sigs = corpus.select(
        "vec_id",
        lsh_signature_battery("emb").alias("sigs"),
    )
    # candidate generation carries ids + the LSH_TABLES-int signature
    # array, NEVER the embedding vectors — a joined pair is ~16 ints,
    # while carrying the 64-dim vectors through the fan-out is a
    # |pairs|×dim materialization (the OOM found at sf0.1).  The
    # signature arrays are what make the OR-across-tables a map-side
    # filter instead of a distinct exchange.
    bucketed = sigs.select(
        "vec_id", "sigs", F.posexplode("sigs").alias("table_id", "bucket")
    ).persist()
    a = bucketed.select(
        F.col("vec_id").alias("vec_a"),
        F.col("sigs").alias("sa"),
        "table_id",
        "bucket",
    )
    b = bucketed.select(
        F.col("vec_id").alias("vec_b"),
        F.col("sigs").alias("sb"),
        "table_id",
        "bucket",
    )
    # first-collision emit: keep the joined row iff no EARLIER table
    # already collided for this pair — each pair then surfaces exactly
    # once (from its first colliding table), so no dedup exchange.
    # UNROLLED form (r11, guide §4.1/§7.2): the equivalent
    # exists(zip_with(slice, slice, eq)) is a higher-order function =
    # CodegenFallback, and as part of the JOIN CONDITION it pushed the
    # whole candidate BroadcastHashJoin out of whole-stage codegen —
    # the quadratic candidate stream was filtered INTERPRETED.  The
    # 15-term OR below is pure codegen-able comparisons; identical
    # semantics (hit iff ∃ j ∈ [1..table_id]: sa[j] = sb[j]).
    # Interleaved A/B, identity-gated: 1.26× at sf0.1, 2.40× at sf1
    # (20.7 → 8.6 s — the win grows with candidate volume, exactly the
    # at-scale term; OPTIMIZATION_r11.md).  The verify DOT stays the
    # fold form — its unrolled variant is a measured r04/r07 negative.
    prior_hit = F.lit(False)
    for j in range(1, LSH_TABLES):
        prior_hit = prior_hit | (
            (F.col("table_id") >= F.lit(j))
            & (F.element_at("sa", j) == F.element_at("sb", j))
        )
    first_collision = ~prior_hit
    # hot-bucket salt (r11, guide §2.5): (table_id, bucket) has only
    # 256 distinct values, so one hot bucket is an unsplittable join
    # key AND a parallelism ceiling — see LSH_BUCKET_CAP.  The splits
    # frame is bounded at 256 rows (broadcast); at bench scale every
    # nsplit is 1 and the join output is bit-identical to the unsalted
    # form (pairs meet exactly once either way — oracle hash-exact).
    splits = _bucket_splits(bucketed)
    sa, sb, salt_keys = _salt_sides(a, b, splits, "vec_a", "vec_b")
    cand = (
        # deliberately NOT a forced broadcast: the id side is
        # |corpus|×LSH_TABLES rows, which outgrows the driver at real
        # corpus sizes; AQE converts this to a broadcast join at
        # runtime whenever the persisted side is actually small
        sa.join(sb, salt_keys)
        .filter(F.col("vec_a") < F.col("vec_b"))
        .filter(first_collision)
        .select("vec_a", "vec_b")
    )
    # exact verify: join the deduplicated id pairs back to the corpus —
    # vectors touch only surviving candidates.  Deliberately NO broadcast
    # hint here either: ca/cb carry the full corpus WITH 64-dim vectors,
    # which is strictly larger than the id side the candidate join already
    # refuses to broadcast; at 100 TB a forced broadcast of the corpus
    # OOMs every executor.  A plain shuffle equi-join on vec_a/vec_b moves
    # only surviving pairs against the corpus, and AQE still downgrades to
    # a broadcast join at runtime whenever the corpus is genuinely small
    # (it is at bench scale — same physical plan, no forced hint).
    ca = corpus.select(
        F.col("vec_id").alias("vec_a"),
        F.col("emb").alias("ea"),
        F.col("norm").alias("na"),
    )
    cb = corpus.select(
        F.col("vec_id").alias("vec_b"),
        F.col("emb").alias("eb"),
        F.col("norm").alias("nb"),
    )
    sim = cosine(F.col("ea"), F.col("eb"), F.col("na"), F.col("nb"))
    return (
        cand.join(ca, "vec_a")
        .join(cb, "vec_b")
        .withColumn("sim", sim)
        .filter(F.col("sim") >= NEARDUP_SIM)
        .select("vec_a", "vec_b", F.round("sim", 6).alias("cosine_sim"))
    )


def _lsh_bucket_index(corpus: DataFrame) -> DataFrame:
    """(vec_id, table_id, bucket) LSH index rows — the persistable
    embedding-dedup state (bucketed on (table_id, bucket) in
    production, like the MinHash band index).  IDS ONLY by design: the
    candidate self-join fans out to Σ_buckets |bucket|² rows, so index
    rows must stay 16-ish bytes — vectors join back only for surviving
    candidates (the sf0.1 OOM lesson in `dedup_embedding_lsh`)."""
    sigs = corpus.select(
        "vec_id",
        lsh_signature_battery("emb").alias("sigs"),
    )
    return sigs.select(
        "vec_id", F.posexplode("sigs").alias("table_id", "bucket")
    ).persist()


def emb_pairs_from_index(
    probe: DataFrame,
    index: DataFrame,
    vectors: DataFrame,
    normalized: bool = False,
) -> DataFrame:
    """(vec_a, vec_b, cosine_sim) for every bucket-colliding pair with
    at least one side in ``probe``, exact-verified at ``NEARDUP_SIM``
    — the ONE copy of the embedding-LSH probe + verify kernel (r10,
    VERDICT r09 #1; the `minhash_pairs_from_index` precedent), shared
    by the registered in-plan IVM (`dedup_embedding_incremental`) and
    the stored-index deployment form (`ivm_store.emb_index_advance`).

    ``probe``/``index`` are ids-only (vec_id, table_id, bucket) rows;
    ``vectors`` is (vec_id, emb, norm).  Vectors join back only for
    SURVIVING candidates (the sf0.1 |pairs|×dim OOM lesson).  With
    ``normalized`` the pair is least/greatest-ordered (the probe term,
    where only one side is the batch); otherwise a strict ``a < b``
    filter (the self-join term)."""
    ca = vectors.select(
        F.col("vec_id").alias("vec_a"),
        F.col("emb").alias("ea"),
        F.col("norm").alias("na"),
    )
    cb = vectors.select(
        F.col("vec_id").alias("vec_b"),
        F.col("emb").alias("eb"),
        F.col("norm").alias("nb"),
    )
    a = probe.select(F.col("vec_id").alias("vec_a"), "table_id", "bucket")
    b = index.select(F.col("vec_id").alias("vec_b"), "table_id", "bucket")
    # hot-bucket salt, sized from the INDEX side (the stored, large
    # side); the probe side replicates nsplit ways — see LSH_BUCKET_CAP
    sa, sb, salt_keys = _salt_sides(
        a, b, _bucket_splits(index), "vec_a", "vec_b"
    )
    j = sa.join(sb, salt_keys)
    if normalized:
        cand = j.filter(F.col("vec_a") != F.col("vec_b")).select(
            F.least(F.col("vec_a"), F.col("vec_b")).alias("vec_a"),
            F.greatest(F.col("vec_a"), F.col("vec_b")).alias("vec_b"),
        )
    else:
        cand = j.filter(F.col("vec_a") < F.col("vec_b")).select(
            "vec_a", "vec_b"
        )
    cand = cand.dropDuplicates(["vec_a", "vec_b"])
    sim = cosine(F.col("ea"), F.col("eb"), F.col("na"), F.col("nb"))
    return (
        cand.join(ca, "vec_a")
        .join(cb, "vec_b")
        .withColumn("sim", sim)
        .filter(F.col("sim") >= NEARDUP_SIM)
        .select("vec_a", "vec_b", F.round("sim", 6).alias("cosine_sim"))
    )


@query(
    "dedup_embedding_incremental",
    oracle=_lsh_pair_oracle(),
    tags=("dedup", "similarity", "ivm", "extension"),
)
def dedup_embedding_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental embedding near-dup dedup against a persisted LSH
    bucket index — the ELEVENTH incremental form, closing the one
    dedup family (embeddings) that had no daily-batch shape: new
    vectors hash into {LSH_TABLES} bucket ids and probe the stored
    index, so daily cost is ∝ |batch| + collided buckets and history
    is never re-hashed.

    Scaffold composition (`incremental.incremental_pairs` +
    `quantile_cut_split`), like MinHash/SimHash/n-gram before it —
    with ONE scale-driven deviation: index rows carry IDS ONLY
    (:func:`_lsh_bucket_index`), so the verify joins candidate pairs
    back to the shared corpus frame instead of riding arrays through
    the bucket join (the sf0.1 |pairs|×dim OOM).  Vectors touch only
    surviving candidates on either term.  The probe + verify kernel
    lives once in :func:`emb_pairs_from_index` (r10), shared with the
    STORED-INDEX deployment form `ivm_store.emb_index_advance` —
    this registered query is the hash-provable identity (both terms
    in one plan); the store is what a production DAG runs, at daily
    cost ∝ |batch| + collided buckets instead of re-deriving
    yesterday's term.

    IVM identity hash-proven by the driver gate: the ORACLE is the
    full recompute (`_lsh_pair_oracle`, the same hyperplanes-inlined
    SQL `dedup_embedding_lsh` passes against)."""
    from taipei_bi_etl_spark.queries.incremental import (
        incremental_pairs,
        quantile_cut_split,
    )

    corpus = _corpus_with_norm(spark, sf_dir).persist()
    hist, new = quantile_cut_split(corpus, "vec_id")
    return incremental_pairs(
        hist,
        new,
        _lsh_bucket_index,
        pairs_fn=lambda p, i: emb_pairs_from_index(p, i, corpus, False),
        probe_fn=lambda p, i: emb_pairs_from_index(p, i, corpus, True),
    )


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss sign projection — dimensionality reduction as a
# corpus transform (the bytes-shrink step ahead of ANN bucketing).
# ---------------------------------------------------------------------------

IN_DIM = 64
OUT_DIM = 16


def _jl_sign(i: int, j: int) -> int:
    """Deterministic ±1 entry of the projection matrix (md5 of the
    index pair — well-mixed; a multiplicative-hash parity here is a
    trap: with even OUT_DIM the parity is constant per row, which
    collapses the matrix to rank 1)."""
    import hashlib

    h = hashlib.md5(f"{i},{j}".encode()).digest()
    return 1 if h[0] % 2 == 0 else -1


def _jl_rows() -> list[list[int]]:
    """OUT_DIM sign rows, each IN_DIM long (matrix is a pure function
    of indices — identical literals go to Spark and the oracle)."""
    return [
        [_jl_sign(i, j) for i in range(IN_DIM)] for j in range(OUT_DIM)
    ]


_JL_ORACLE = f"""
WITH p AS (
  SELECT vec_id,
         [{", ".join(
             "ROUND(list_inner_product(embedding::DOUBLE[], ["
             + ", ".join(f"{s}.0" for s in row)
             + "]), 6)"
             for row in _jl_rows()
         )}] AS proj
  FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = 64
)
SELECT vec_id,
       CAST(generate_subscripts(proj, 1) - 1 AS INT) AS dim,
       unnest(proj) AS value
FROM p
"""


@query(
    "embedding_random_projection",
    oracle=_JL_ORACLE,
    tags=("similarity", "extension"),
)
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss sign projection {IN_DIM}→{OUT_DIM}: each
    output dim is a ±1-weighted sum of the input — the classic
    distance-preserving shrink that quarters vector bytes before LSH /
    IVF bucketing (and the building block of SimHash-style signatures).

    The sign matrix is a pure function of (i, j) — no training, no
    state — inlined as literals on both engines, so the projection is
    content-addressed and reproducible anywhere.  Everything is a
    map-side zip_with/aggregate fold in whole-stage codegen: zero
    shuffle, zero Python; DuckDB's ``list_inner_product`` folds the
    same doubles in the same order, so values hash-match at ROUND 6.

    At 100 TB this is the bytes-bound preprocessing scan: 4× fewer
    floats into every downstream shuffle (bucketing, k-means, PQ).

    Output is long-form (vec_id, dim, value) — one scalar row per
    projected coordinate — so the result is canonicalizable by any
    row-hashing comparator (array columns are not; see VERDICT r01).
    """
    e = read_embeddings(spark, sf_dir)  # NULL/wrong-dim rows filtered
    emb = as_double("embedding")
    rows = _jl_rows()
    proj = F.array(
        *[
            F.round(
                dot(
                    emb,
                    F.array(*[F.lit(float(s)) for s in row]),
                ),
                6,
            )
            for row in rows
        ]
    )
    return e.select(
        "vec_id", F.posexplode(proj).alias("dim", "value")
    ).select("vec_id", F.col("dim").cast("int").alias("dim"), "value")


# ---------------------------------------------------------------------------
# JL-shortlist ANN — project, shortlist in 16-dim, re-rank exact.
# ---------------------------------------------------------------------------

JL_SHORTLIST = 256


def _jl_sql_row(row: list[int]) -> str:
    return "[" + ", ".join(f"{s}.0" for s in row) + "]"


_JL_ANN_ORACLE = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb,
         sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]))
           AS nrm,
         [{", ".join("list_inner_product(embedding::DOUBLE[], " + _jl_sql_row(r) + ")" for r in _jl_rows())}]
           AS p
  FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = 64 AND len(list_filter(embedding, x -> x <> 0)) > 0
), pn AS (
  SELECT vec_id, emb, nrm, p, sqrt(list_inner_product(p, p)) AS pnrm FROM e
), q AS (
  SELECT vec_id AS query_id, emb AS qemb, nrm AS qnrm,
         p AS qp, pnrm AS qpnrm
  FROM pn WHERE vec_id < {N_QUERIES}
), shortlist AS (
  SELECT q.query_id, pn.vec_id AS neighbor_id, pn.emb, pn.nrm,
         q.qemb, q.qnrm,
         list_inner_product(pn.p, q.qp) / (pn.pnrm * q.qpnrm) AS jl_sim
  FROM pn CROSS JOIN q
  WHERE pn.vec_id <> q.query_id
  QUALIFY ROW_NUMBER() OVER (PARTITION BY q.query_id
                             ORDER BY jl_sim DESC, pn.vec_id) <= {JL_SHORTLIST}
)
SELECT query_id, neighbor_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY list_inner_product(emb, qemb) / (nrm * qnrm) DESC,
                                        neighbor_id) AS INT) AS rank,
       ROUND(list_inner_product(emb, qemb) / (nrm * qnrm), 6) AS cosine_sim
FROM shortlist
QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY list_inner_product(emb, qemb) / (nrm * qnrm) DESC,
                                    neighbor_id) <= {TOP_K}
"""


@query(
    "ann_jl_shortlist_topk",
    oracle=_JL_ANN_ORACLE,
    tags=("similarity", "extension"),
)
def ann_jl_shortlist_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage ANN: shortlist {JL_SHORTLIST} candidates per query by
    cosine in the 16-dim JL sign projection, then re-rank the shortlist
    with the exact 64-dim cosine and keep top-{TOP_K} — the
    project-shortlist-rerank composition every production vector store
    runs (and the third scale path next to LSH buckets and PQ codes).

    Scale: the 64-dim dot product — the expensive kernel — runs on
    |queries|·{JL_SHORTLIST} rows instead of |queries|·|corpus|; the
    corpus-wide pass happens in 16 dims (4× fewer multiplies, 4× fewer
    bytes if the projection is materialized).  Every stage is codegen'd
    zip_with/aggregate — and because both engines fold identical
    doubles in identical order, even this composed pipeline
    hash-matches the oracle exactly.  Recall vs the exact top-k is
    gated in tests/test_similarity.py (measured 1.0 at this shortlist
    on the synthetic corpus; the isotropic-embedding worst case still
    clears 0.9).  The shortlist is constant in corpus size, so the
    scan-fraction it represents only shrinks as the corpus grows.
    """
    pn = _corpus_with_norm(spark, sf_dir)
    proj = jl_projection_battery("emb")
    pn = pn.select(
        "vec_id", "emb", "norm", proj.alias("p")
    ).withColumn("pnorm", l2_norm(F.col("p")))
    q = pn.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("qemb"),
        F.col("norm").alias("qnorm"),
        F.col("p").alias("qp"),
        F.col("pnorm").alias("qpnorm"),
    )
    jl_sim = dot(F.col("p"), F.col("qp")) / (F.col("pnorm") * F.col("qpnorm"))
    w_short = Window.partitionBy("query_id").orderBy(
        F.col("jl_sim").desc(), F.col("neighbor_id")
    )
    shortlist = (
        # bounded: fixed query set
        pn.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "emb",
            "norm",
            "qemb",
            "qnorm",
            jl_sim.alias("jl_sim"),
        )
        .withColumn("r", F.row_number().over(w_short))
        .filter(F.col("r") <= JL_SHORTLIST)
    )
    exact = dot(F.col("emb"), F.col("qemb")) / (F.col("norm") * F.col("qnorm"))
    w_final = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        shortlist.withColumn("sim", exact)
        .withColumn("rank", F.row_number().over(w_final))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("int").alias("rank"),
            F.round(F.col("sim"), 6).alias("cosine_sim"),
        )
    )
