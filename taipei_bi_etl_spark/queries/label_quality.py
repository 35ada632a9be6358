"""Label-quality operators over the embedding corpus — the curation
step a training pipeline runs between embedding and training: find
probably-mislabeled examples (Cleanlab-style neighborhood consensus,
Northcutt et al. 2021) and mine hard negatives for metric learning
(Schroff et al. 2015's semi-hard mining, the batch-offline form).

Both are exact brute-force kernels in the `ann_cosine_topk` house
pattern (broadcast one side, deterministic (sim DESC, id ASC) ranking,
ROUND(sim, 6) only in the projection) — at 100 TB swap the
candidate-generation stage for the JL shortlist or IVF forms in
`similarity.py`/`clustering.py`; the per-candidate ranking and label
logic below is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from taipei_bi_etl_spark.queries import query
from taipei_bi_etl_spark.queries.similarity import (
    _corpus_with_norm,
    cosine,
)
from taipei_bi_etl_spark.scale import bcast_dim

K_NN = 10
N_HARD_QUERIES = 50
HARD_K = 5

_PAIR_CTE = """
e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS emb,
         sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) = 64 AND len(list_filter(embedding, x -> x <> 0)) > 0 AND label IS NOT NULL
)
"""

_CONSISTENCY_ORACLE = f"""
WITH {_PAIR_CTE},
ranked AS (
  SELECT a.vec_id, a.label,
         CASE WHEN b.label = a.label THEN 1 ELSE 0 END AS same,
         ROW_NUMBER() OVER (
           PARTITION BY a.vec_id
           ORDER BY list_inner_product(a.emb, b.emb) / (a.nrm * b.nrm) DESC,
                    b.vec_id
         ) AS rn
  FROM e a JOIN e b ON a.vec_id <> b.vec_id
)
SELECT vec_id, label,
       CAST(SUM(same) AS BIGINT) AS k_same,
       CAST(SUM(same) * 2 < {K_NN} AS BOOLEAN) AS flagged
FROM ranked WHERE rn <= {K_NN}
GROUP BY vec_id, label
"""


@query(
    "knn_label_consistency",
    oracle=_CONSISTENCY_ORACLE,
    tags=("similarity", "curation", "extension"),
)
def knn_label_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every vector: how many of its K nearest neighbors share its
    label, flagging points whose neighborhood majority disagrees —
    the confident-learning screen for label errors run before a
    labeled corpus is trusted for training.

    Scale: the corpus side is broadcast once (|V|·dim doubles); the
    only shuffle is the per-vector top-K window keyed on vec_id.
    ALL-pairs candidate generation is the exact kernel — at corpus
    sizes where n² scans stop being free, generate candidates with
    `ann_jl_shortlist_topk`'s 16-dim pass or the IVF cells and keep
    this ranking stage as-is.
    """
    # unlabeled vectors cannot be label-screened (oracle WHERE twin)
    corpus = _corpus_with_norm(spark, sf_dir).filter(
        F.col("label").isNotNull()
    )
    a = corpus.select(
        F.col("vec_id"), F.col("label"),
        F.col("emb").alias("ea"), F.col("norm").alias("na"),
    )
    b = corpus.select(
        F.col("vec_id").alias("nbr_id"), F.col("label").alias("nbr_label"),
        F.col("emb").alias("eb"), F.col("norm").alias("nb"),
    )
    sim = cosine(F.col("ea"), F.col("eb"), F.col("na"), F.col("nb"))
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("nbr_id"))
    ranked = (
        a.join(bcast_dim(b), F.col("vec_id") != F.col("nbr_id"))
        .select(
            "vec_id", "label",
            (F.col("nbr_label") == F.col("label")).cast("int").alias("same"),
            sim.alias("sim"),
            "nbr_id",
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= K_NN)
    )
    return ranked.groupBy("vec_id", "label").agg(
        F.sum("same").cast("long").alias("k_same"),
        (F.sum("same") * 2 < K_NN).alias("flagged"),
    )


_HARD_NEG_ORACLE = f"""
WITH {_PAIR_CTE},
q AS (
  SELECT vec_id AS query_id, label AS qlabel, emb AS qemb, nrm AS qnrm
  FROM e WHERE vec_id < {N_HARD_QUERIES}
),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id, e.label AS neg_label,
         list_inner_product(e.emb, q.qemb) / (e.nrm * q.qnrm) AS sim
  FROM e JOIN q ON e.vec_id <> q.query_id AND e.label <> q.qlabel
)
SELECT query_id, neighbor_id, neg_label,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY query_id ORDER BY sim DESC, neighbor_id
       ) AS INT) AS rank,
       ROUND(sim, 6) AS cosine_sim
FROM scored
QUALIFY ROW_NUMBER() OVER (
  PARTITION BY query_id ORDER BY sim DESC, neighbor_id
) <= {HARD_K}
"""


@query(
    "ann_hard_negatives",
    oracle=_HARD_NEG_ORACLE,
    tags=("similarity", "curation", "extension"),
)
def ann_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining: for each query vector, the K most similar
    vectors carrying a DIFFERENT label — the offline pass that builds
    contrastive/metric-learning batches (the highest-similarity wrong-
    label examples are the gradient-bearing ones).

    Scale: same shape as `ann_cosine_topk` (broadcast queries, one
    corpus scan, per-query top-k shuffle); the label-mismatch
    predicate lands in the scan filter, BEFORE ranking, so the window
    input shrinks by the positive-class mass.
    """
    corpus = _corpus_with_norm(spark, sf_dir)
    q = corpus.filter(F.col("vec_id") < N_HARD_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("emb").alias("qemb"),
        F.col("norm").alias("qnorm"),
    )
    sim = cosine(F.col("emb"), F.col("qemb"), F.col("norm"), F.col("qnorm"))
    scored = (
        # bounded: fixed query set (vec_id < N_HARD_QUERIES)
        corpus.crossJoin(F.broadcast(q))
        .filter(
            (F.col("vec_id") != F.col("query_id"))
            & (F.col("label") != F.col("qlabel"))
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("neg_label"),
            sim.alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= HARD_K)
        .select(
            "query_id", "neighbor_id", "neg_label", "rank",
            F.round("sim", 6).alias("cosine_sim"),
        )
    )


# ---------------------------------------------------------------------------
# LSH-bucketed + JL-shortlist twin — the corpus-scale path for the
# consistency screen.
# ---------------------------------------------------------------------------

KNN_SHORT = 64


def _consistency_jl_oracle() -> str:
    from taipei_bi_etl_spark.queries.similarity import (
        LSH_BITS,
        LSH_TABLES,
        _hyperplanes,
        _jl_rows,
        _jl_sql_row,
    )

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
        f"{sig_expr('embedding::DOUBLE[]', t)} AS s{t}"
        for t in range(LSH_TABLES)
    )
    any_match = " OR ".join(f"a.s{t} = b.s{t}" for t in range(LSH_TABLES))
    proj = ", ".join(
        "list_inner_product(embedding::DOUBLE[], " + _jl_sql_row(r) + ")"
        for r in _jl_rows()
    )
    return f"""
WITH e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS emb,
         sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]))
           AS nrm,
         [{proj}] AS p,
         {corpus_sigs}
  FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) = 64 AND len(list_filter(embedding, x -> x <> 0)) > 0 AND label IS NOT NULL
), pn AS (
  SELECT *, sqrt(list_inner_product(p, p)) AS pnrm FROM e
), shortlist AS (
  SELECT a.vec_id, a.label,
         b.vec_id AS nbr_id, b.label AS nbr_label
  FROM pn a JOIN pn b ON a.vec_id <> b.vec_id AND ({any_match})
  QUALIFY ROW_NUMBER() OVER (
    PARTITION BY a.vec_id
    ORDER BY list_inner_product(a.p, b.p) / (a.pnrm * b.pnrm) DESC,
             b.vec_id
  ) <= {KNN_SHORT}
), ranked AS (
  SELECT s.vec_id, s.label,
         CASE WHEN s.nbr_label = s.label THEN 1 ELSE 0 END AS same
  FROM shortlist s
  JOIN pn ea ON ea.vec_id = s.vec_id
  JOIN pn eb ON eb.vec_id = s.nbr_id
  QUALIFY ROW_NUMBER() OVER (
    PARTITION BY s.vec_id
    ORDER BY list_inner_product(ea.emb, eb.emb) / (ea.nrm * eb.nrm) DESC,
             s.nbr_id
  ) <= {K_NN}
)
SELECT vec_id, label,
       CAST(SUM(same) AS BIGINT) AS k_same,
       CAST(SUM(same) * 2 < {K_NN} AS BOOLEAN) AS flagged
FROM ranked GROUP BY vec_id, label
"""


@query(
    "knn_label_consistency_jl",
    oracle=_consistency_jl_oracle(),
    tags=("similarity", "curation", "extension"),
)
def knn_label_consistency_jl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-scale twin of `knn_label_consistency`, genuinely
    sub-quadratic: candidate pairs come from the LSH (table_id, bucket)
    self-join (`similarity.py`'s seeded hyperplane machinery — id-only
    pairs, Σ_buckets |bucket|² candidates instead of |V|²), candidates
    are shortlisted to the top KNN_SHORT by the 16-dim
    Johnson-Lindenstrauss projected cosine (16 doubles per side, never
    the 64-dim vector), and only the |V|·KNN_SHORT survivors re-join
    the full embedding for the exact re-rank.  Same
    (vec_id, label, k_same, flagged) surface; the oracle replicates
    hyperplanes, projection, shortlist and re-rank exactly (inlined
    literal matrices), so correctness is hash-exact, not
    recall-approximate.  Agreement with the exact
    `knn_label_consistency` screen is separately gated in
    tests/test_r03_properties.py.

    Scale: no all-pairs join anywhere — candidate generation is keyed
    on (table_id, bucket) with cardinality ≤ LSH_TABLES·2^LSH_BITS
    (raise LSH_BITS as corpora cluster); the JL frame joined back to
    score the shortlist carries 16 doubles + norm per vector; the
    64-dim embedding is equi-joined (no forced broadcast — AQE decides)
    only against shortlist survivors.
    """
    from taipei_bi_etl_spark.io import read_table
    from taipei_bi_etl_spark.queries.similarity import (
        as_double,
        dot,
        jl_projection_battery,
        lsh_signature_battery,
    )

    from taipei_bi_etl_spark.queries.emb_common import read_embeddings

    # cosine family; unlabeled vectors cannot be label-screened.
    # widen_scan: the 16 JL projection dots + LSH signatures are
    # map-side above this scan (measured 1.25–1.37× whole-query at
    # sf0.1, SCALE.md r10)
    from taipei_bi_etl_spark.scale import widen_scan

    e = widen_scan(read_embeddings(spark, sf_dir, direction=True)).filter(
        F.col("label").isNotNull()
    )
    emb = as_double("embedding")
    # both batteries are cached compiled expressions (~5 s of
    # driver-side py4j construction together when built)
    proj = jl_projection_battery(emb)
    # the SMALL per-vector frame: 16-dim projection + its norm + the
    # LSH signatures — no 64-dim embedding.  Persisted because it feeds
    # the bucket explode and both sides of the shortlist scoring join.
    pn = (
        e.select(
            "vec_id",
            "label",
            proj.alias("p"),
            lsh_signature_battery(emb).alias("sigs"),
        )
        .withColumn("pnrm", F.sqrt(dot(F.col("p"), F.col("p"))))
        .persist()
    )
    # candidate generation on IDS ONLY via the bounded (table_id, bucket)
    # key; dropDuplicates ORs the tables.  Pairs are DIRECTED (each
    # vector needs its own neighbor list), so keep both orders.
    bucketed = pn.select(
        "vec_id", F.posexplode("sigs").alias("table_id", "bucket")
    )
    cand = (
        bucketed.join(
            bucketed.select(
                F.col("vec_id").alias("nbr_id"), "table_id", "bucket"
            ),
            ["table_id", "bucket"],
        )
        .filter(F.col("vec_id") != F.col("nbr_id"))
        .dropDuplicates(["vec_id", "nbr_id"])
    )
    # shortlist scoring joins back ONLY the projected frame (16 doubles
    # per side) — plain equi-joins, AQE broadcasts when genuinely small.
    pa = pn.select(
        "vec_id", "label", F.col("p").alias("pa"), F.col("pnrm").alias("pna")
    )
    pb = pn.select(
        F.col("vec_id").alias("nbr_id"),
        F.col("label").alias("nbr_label"),
        F.col("p").alias("pb"),
        F.col("pnrm").alias("pnb"),
    )
    jl_sim = dot(F.col("pa"), F.col("pb")) / (F.col("pna") * F.col("pnb"))
    w_short = Window.partitionBy("vec_id").orderBy(
        F.desc("jl_sim"), F.asc("nbr_id")
    )
    shortlist = (
        cand.join(pa, "vec_id")
        .join(pb, "nbr_id")
        .withColumn("jl_sim", jl_sim)
        .withColumn("srn", F.row_number().over(w_short))
        .filter(F.col("srn") <= KNN_SHORT)
        .select("vec_id", "label", "nbr_id", "nbr_label")
    )
    # exact re-rank: the 64-dim embedding touches only shortlist rows.
    corpus = _corpus_with_norm(spark, sf_dir)
    ea = corpus.select(
        "vec_id", F.col("emb").alias("ea"), F.col("norm").alias("na")
    )
    eb = corpus.select(
        F.col("vec_id").alias("nbr_id"),
        F.col("emb").alias("eb"),
        F.col("norm").alias("nb"),
    )
    exact = cosine(F.col("ea"), F.col("eb"), F.col("na"), F.col("nb"))
    w_exact = Window.partitionBy("vec_id").orderBy(
        F.desc("sim"), F.asc("nbr_id")
    )
    ranked = (
        shortlist.join(ea, "vec_id")
        .join(eb, "nbr_id")
        .withColumn("sim", exact)
        .withColumn("rn", F.row_number().over(w_exact))
        .filter(F.col("rn") <= K_NN)
        .select(
            "vec_id", "label",
            (F.col("nbr_label") == F.col("label")).cast("int").alias("same"),
        )
    )
    return ranked.groupBy("vec_id", "label").agg(
        F.sum("same").cast("long").alias("k_same"),
        (F.sum("same") * 2 < K_NN).alias("flagged"),
    )


# ---------------------------------------------------------------------------
# IVF-bucketed consistency screen — the full-corpus curation pass
# (VERDICT r03 #7): mirror of `ann_ivf_topk` at the label-quality
# surface.
# ---------------------------------------------------------------------------


@query(
    "knn_label_consistency_ivf",
    oracle=None,
    tags=("similarity", "curation", "extension", "iterative"),
)
def knn_label_consistency_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The consistency screen a curation pipeline actually runs over a
    FULL corpus: candidates from the trained IVF coarse quantizer
    (`clustering._fit_centroids`, seeded k-means) — every vector is
    assigned to its nearest cell and probes its N_PROBE nearest cells —
    then the exact 64-dim re-rank and neighborhood-majority flags of
    `knn_label_consistency` over the bounded candidates.

    Rows-only: the trained centroids are float learned state (the
    k-means rows-only argument, COVERAGE.md); correctness is gated by
    tests/test_clustering.py's flag-agreement test vs the exact
    all-pairs screen (≥0.9 agreement, ≥0.99 coverage).

    Scale: the only join key is the cell id (cardinality N_CLUSTERS —
    raise it with corpus size; candidate volume per vector is
    N_PROBE·avg-cell, never |V|); candidates are id-only pairs, the
    embeddings equi-join back for the re-rank (AQE decides broadcast).
    """
    from taipei_bi_etl_spark.queries.clustering import (
        N_PROBE,
        _fit_centroids,
        _nearest_cells,
    )

    centroids = _fit_centroids(spark, sf_dir)
    corpus = _corpus_with_norm(spark, sf_dir)
    assigned = corpus.select(
        F.col("vec_id").alias("nbr_id"),
        _nearest_cells(F.col("emb"), centroids, 1)[0].alias("cell"),
    )
    probing = corpus.select(
        "vec_id",
        F.explode(
            _nearest_cells(F.col("emb"), centroids, N_PROBE)
        ).alias("cell"),
    )
    cand = probing.join(assigned, "cell").filter(
        F.col("vec_id") != F.col("nbr_id")
    )
    ea = corpus.select(
        "vec_id", "label", F.col("emb").alias("ea"), F.col("norm").alias("na")
    )
    eb = corpus.select(
        F.col("vec_id").alias("nbr_id"),
        F.col("label").alias("nbr_label"),
        F.col("emb").alias("eb"),
        F.col("norm").alias("nb"),
    )
    sim = cosine(F.col("ea"), F.col("eb"), F.col("na"), F.col("nb"))
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("nbr_id"))
    ranked = (
        cand.join(ea, "vec_id")
        .join(eb, "nbr_id")
        .withColumn("sim", sim)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= K_NN)
        .select(
            "vec_id", "label",
            (F.col("nbr_label") == F.col("label")).cast("int").alias("same"),
        )
    )
    return ranked.groupBy("vec_id", "label").agg(
        F.sum("same").cast("long").alias("k_same"),
        (F.sum("same") * 2 < K_NN).alias("flagged"),
    )
