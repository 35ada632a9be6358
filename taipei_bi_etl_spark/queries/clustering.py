"""Clustering operators: near-duplicate connected components (the
"keep one per duplicate cluster" step a dedup pipeline actually needs)
and k-means over embeddings (the trained-quantizer IVF path for ANN).

Scale notes:

* Connected components run as iterative min-label propagation over the
  candidate-pair edge list — the edge list is the OUTPUT of sketch dedup
  (tiny relative to the corpus), so each iteration is a join on that
  small set; iterations ≈ component diameter (near-dup clusters are
  shallow).  The driver only checks a convergence count per round.
* K-means uses pyspark.ml (distributed Lloyd iterations, seeded); the
  trained centroids then drive ``ann_ivf_topk``: corpus assignment is
  one broadcast argmax pass, queries probe the nearest N_PROBE cells —
  candidate volume |corpus|·nprobe/k instead of |corpus|.
"""

from __future__ import annotations

from functools import cache

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from taipei_bi_etl_spark.queries import query
from taipei_bi_etl_spark.queries.dedup import JACCARD_T
from taipei_bi_etl_spark.queries.similarity import (
    N_QUERIES,
    TOP_K,
    _ColumnKey,
    _corpus_with_norm,
    cosine,
    dot,
)

# ---------------------------------------------------------------------------
# Near-dup connected components.
# ---------------------------------------------------------------------------

_CC_ORACLE = f"""
WITH RECURSIVE shingles AS (
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
), pairs AS (
  SELECT doc_a, doc_b
  FROM pair_inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= {JACCARD_T}
), reach(node, root) AS (
  SELECT d, d FROM (SELECT doc_a AS d FROM pairs UNION SELECT doc_b FROM pairs) t(d)
  UNION
  SELECT e.b, r.root
  FROM reach r
  JOIN (SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs) e ON e.a = r.node
)
SELECT node AS doc_id, CAST(MIN(root) AS BIGINT) AS component_id
FROM reach GROUP BY node
"""


#: Round past which min_label_components cuts lineage through a temp
#: parquet table instead of localCheckpoint (see the docstring's
#: LONG-LOOP GUARD).  Certified registry queries converge in ≤ 6
#: rounds and never reach it; the checkpoint-materialization doubling
#: becomes visible past ~14.  HONEST TRADE (measured): on a loop that
#: converges right AT the onset (1M chain, 20 rounds) the guard costs
#: ~2x total (119-158 s single-run in-situ vs ~60 s unguarded — the
#: parquet rounds replace checkpoints that were still cheap); past
#: ~21 rounds the unguarded loop doubles per round (r07 fuzzy graph:
#: 136 s/round by 20, 219 by 21, unconverged) while the severed loop
#: stays flat — the guard converts "unusable" into "linear", which is
#: the right trade for an engine primitive.
_SEVER_ROUND = 14


def min_label_components(pairs: DataFrame, a: str, b: str) -> DataFrame:
    """Connected components over undirected (a, b) pairs by iterative
    min-label propagation; returns (node, component_id) for every node
    that appears in a pair.

    Scale: each round is one join + one agg on the node key (shared
    hash partitioning); rounds ≤ graph diameter, and dedup similarity
    graphs are unions of near-cliques (diameter ~2-3), so convergence
    is a handful of rounds, not O(n).  The per-round count() action is
    the loop's convergence check — driver sees a scalar only.

    ROUTING (r07, measured): this form is for small-DIAMETER graphs
    only.  Min labels propagate one graph hop per round (the pointer
    jump compresses the label forest, not graph distance), so chain-
    shaped graphs need O(diameter) rounds.  When a blocking key bounds
    components (entity resolution), use per-block union-find in one
    applyInPandas pass instead (`linkage.fuzzy_linkage_clusters`).

    LONG-LOOP GUARD (r08 — the r07 "round-cost doubling" LOCALIZED,
    SCALE.md "min-label doubling: mechanism localized"): the per-round
    ×2 past ~15 rounds lives ENTIRELY in the CHECKPOINT MATERIALIZATION
    step — the identical round pipeline run to a ``count()`` stays flat
    (~0.9 s at 1M nodes) while the following localCheckpoint of the
    same frame doubles (1.5 → 2.4 → 4.6 → 10.5 s), tracking the label
    value collapse.  Five carriers were ELIMINATED by variant probes
    (tools/minlabel_probe.py): join strategy (BHJ pointer jump doubles
    identically), stored partition layout (node-repartitioned
    checkpoint doubles; the measured 32→1-partition collapse is an
    epiphenomenon), retained prior checkpoints (explicit unpersist
    doubles), lineage, and AQE.  The ONE flat variant is severing each
    round through PARQUET (write + re-read): flat at 200k AND 1M
    through convergence.  So past round {_SEVER_ROUND} the loop stores
    labels as a temp parquet table instead of a localCheckpoint —
    linear IO per round replaces the exponential tail; certified
    registry queries converge in ≤ 6 rounds, so their plans and
    SHUFFLES rows are untouched.
    """
    import os
    import shutil
    import tempfile

    edges = pairs.select(
        F.col(a).alias("src"), F.col(b).alias("dst")
    ).unionByName(
        pairs.select(F.col(b).alias("src"), F.col(a).alias("dst"))
    ).persist()
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component_id", F.col("node"))
        .persist()
    )
    sever_dir: str | None = None
    rnd = 0
    while True:
        neighbor_min = (
            edges.join(
                labels.withColumnRenamed("node", "dst_node"),
                F.col("dst") == F.col("dst_node"),
            )
            .groupBy(F.col("src").alias("node"))
            .agg(F.min("component_id").alias("nbr_min"))
        )
        # old_label rides along so the convergence check below is a
        # FILTER on the checkpointed frame instead of a node-keyed join
        # of new vs old labels — one less shuffle per round (r11,
        # interleaved A/B 1.26× on the sf0.1 minhash graph, identity
        # asserted in-script; OPTIMIZATION_r11.md item #5)
        propagated = labels.join(neighbor_min, "node", "left").select(
            "node",
            F.col("component_id").alias("old_label"),
            F.least(
                F.col("component_id"), F.coalesce("nbr_min", "component_id")
            ).alias("component_id"),
        )
        # pointer jumping: follow my label's label (labels are node ids,
        # so the label table doubles as a parent map) — distance to the
        # component minimum HALVES per round, turning O(diameter)
        # rounds into O(log diameter); a 30-cell grid chain converges
        # in ~5 rounds instead of ~30.
        parent = propagated.select(
            F.col("node").alias("p_node"),
            F.col("component_id").alias("p_label"),
        )
        new_labels = propagated.join(
            parent, propagated["component_id"] == parent["p_node"], "left"
        ).select(
            "node",
            "old_label",
            F.least(
                F.col("component_id"),
                F.coalesce("p_label", "component_id"),
            ).alias("component_id"),
        )
        # Lineage MUST be cut each round (localCheckpoint, not persist:
        # each round references the previous labels TWICE — propagation
        # + convergence check — so an uncut logical plan doubles per
        # round and long-diameter graphs OOM the driver just BUILDING
        # the plan string).  Past _SEVER_ROUND the cut goes through a
        # temp PARQUET table instead: the checkpoint-materialization
        # doubling (docstring) makes localCheckpoint exponentially
        # expensive in long loops, while the parquet round-trip is
        # measured flat.
        if rnd < _SEVER_ROUND:
            new_labels = new_labels.localCheckpoint()
        else:
            if sever_dir is None:
                # driver-local tempdir by default (local[*] shares the
                # filesystem); multi-node deployments set
                # SPARK_GRAFT_SEVER_DIR to a POSIX-MOUNTED shared
                # filesystem (NFS/Lustre/fuse-mounted bucket) — NOT a
                # bare gs://|hdfs:// URI: mkdtemp/rmtree are local-FS
                # APIs and would fail on a URI scheme; object-store
                # paths would need Hadoop FS API plumbing instead
                # (ADVICE r09 #1)
                base = os.environ.get("SPARK_GRAFT_SEVER_DIR")
                sever_dir = tempfile.mkdtemp(
                    prefix="minlabel_sever_", dir=base
                )
            path = f"{sever_dir}/r{rnd}"
            new_labels.write.mode("overwrite").parquet(path)
            new_labels = labels.sparkSession.read.parquet(path)
        changed = new_labels.filter(
            F.col("component_id") != F.col("old_label")
        ).count()
        labels = new_labels.select("node", "component_id")
        rnd += 1
        if changed == 0:
            break
    edges.unpersist()
    if sever_dir is not None:
        # the FINAL labels frame must survive the temp-table cleanup:
        # an EAGER localCheckpoint TRUNCATES LINEAGE (persist alone
        # does not — a later cache release/eviction would recompute
        # from the just-deleted parquet and fail, ADVICE r08 #1).  The
        # checkpointed frame is a bare parquet scan with no join
        # pipeline, so the checkpoint-materialization doubling
        # pathology (docstring) cannot apply.  LOCAL-MODE NOTE: the
        # sever directory itself comes from tempfile.mkdtemp on the
        # DRIVER — fine on local[*] where driver and executors share a
        # filesystem; a multi-node deployment must point
        # SPARK_GRAFT_SEVER_DIR at a POSIX-MOUNTED shared filesystem
        # (NFS or similar — not a gs://|hdfs:// URI, which the
        # mkdtemp/rmtree pair above cannot handle) so executors can
        # read what the driver named.
        labels = labels.localCheckpoint(eager=True)
        shutil.rmtree(sever_dir, ignore_errors=True)
    return labels


@query(
    "dedup_components",
    oracle=_CC_ORACLE,
    tags=("dedup", "extension", "iterative"),
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignment: connected components over the
    MinHash-verified near-dup pairs via iterative min-label propagation
    (oracle: DuckDB recursive CTE).  component_id = min doc_id in the
    cluster — the canonical survivor a dedup pipeline keeps."""
    from taipei_bi_etl_spark.queries.dedup import dedup_minhash_lsh

    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    labels = min_label_components(pairs, "doc_a", "doc_b")
    return labels.select(
        F.col("node").alias("doc_id"), F.col("component_id").cast("long")
    )


def star_components(pairs: DataFrame, a: str, b: str) -> DataFrame:
    """Connected components by ALTERNATING LARGE-STAR / SMALL-STAR
    (Kiveris et al. 2014, "Connected Components in MapReduce and
    Beyond") — the scale-optimal layout twin of
    :func:`min_label_components`, same (node, component_id) output.

    large-star(u): every neighbor v > u re-points at
    m = min(Γ(u) ∪ {{u}}); small-star(u) (on canonical u > v edges):
    every neighbor and u itself point at the neighborhood minimum.
    The fixed point is a 2-level star per component with the minimum
    id at the center.

    Why it exists next to min-label: label propagation moves ONE label
    per node per round and a high-degree hub's neighborhood re-sends
    the hub's whole adjacency every round; the star operations
    REWRITE the edge list, so hubs disintegrate into direct pointers
    to the minimum in O(log n) rounds with edge volume that shrinks
    monotonically — the behavior that survives power-law duplicate
    clusters.  Each round: two groupBy-on-node aggregates + explodes;
    the edge frame is localCheckpoint'd per round (iterative
    self-reference policy — see min_label_components).
    """
    e = (
        pairs.select(F.col(a).alias("x"), F.col(b).alias("y"))
        .filter(F.col("x") != F.col("y"))
        .select(
            F.greatest("x", "y").alias("u"), F.least("x", "y").alias("v")
        )
        .distinct()
        .localCheckpoint()
    )
    while True:
        both = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        nbrs = both.groupBy("u").agg(F.collect_set("v").alias("ns"))
        m_all = F.array_min(
            F.array_union(F.col("ns"), F.array(F.col("u")))
        )
        large = (
            nbrs.select(
                m_all.alias("m"),
                F.explode(
                    F.filter("ns", lambda v: v > F.col("u"))
                ).alias("w"),
            )
            .filter(F.col("w") != F.col("m"))
            .select(F.col("w").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # small-star over the canonical (u > v) form of large's output
        nbrs2 = large.groupBy("u").agg(F.collect_set("v").alias("ns"))
        small = (
            nbrs2.select(
                F.array_min("ns").alias("m"),
                F.explode(
                    F.array_union(F.array(F.col("u")), F.col("ns"))
                ).alias("w"),
            )
            .filter(F.col("w") != F.col("m"))
            .select(
                F.greatest("w", "m").alias("u"), F.least("w", "m").alias("v")
            )
            .distinct()
            .localCheckpoint()
        )
        changed = (
            small.exceptAll(e).count() + e.exceptAll(small).count()
        )
        e = small
        if changed == 0:
            break
    return (
        e.select(F.col("u").alias("node"), F.col("v").alias("component_id"))
        .unionByName(
            e.select(
                F.col("v").alias("node"), F.col("v").alias("component_id")
            )
        )
        .groupBy("node")
        .agg(F.min("component_id").alias("component_id"))
    )


@query(
    "dedup_components_star",
    oracle=_CC_ORACLE,
    tags=("dedup", "extension", "iterative"),
)
def dedup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME duplicate-cluster assignment as `dedup_components`
    (identical oracle — the recursive-CTE reachability), computed by
    the alternating large-star/small-star edge rewriting instead of
    min-label propagation; see :func:`star_components` for why this
    layout wins on power-law cluster graphs."""
    from taipei_bi_etl_spark.queries.dedup import dedup_minhash_lsh

    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    labels = star_components(pairs, "doc_a", "doc_b")
    return labels.select(
        F.col("node").alias("doc_id"), F.col("component_id").cast("long")
    )


# ---------------------------------------------------------------------------
# K-means over embeddings + IVF ANN.
# ---------------------------------------------------------------------------

N_CLUSTERS = 16
N_PROBE = 8


def _fit_centroids(spark: SparkSession, sf_dir: str) -> list[list[float]]:
    """Distributed Lloyd iterations (pyspark.ml), fixed seed."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    corpus = _corpus_with_norm(spark, sf_dir)
    feats = corpus.select(array_to_vector("emb").alias("features"))
    km = KMeans(k=N_CLUSTERS, seed=42, maxIter=10)
    model = km.fit(feats)
    return [c.tolist() for c in model.clusterCenters()]


def _nearest_cells(emb: Column, centroids: list[list[float]], n: int) -> Column:
    """Indices of the n centroids with highest cosine to emb (array)."""
    return _nearest_cells_battery(
        _ColumnKey(emb), n, tuple(tuple(c) for c in centroids)
    )


# The nearest-cells battery is N_CLUSTERS × EMB_DIM × 2 = 2048 per-scalar
# F.lit py4j calls, ~2.5 s per build and built twice per IVF query, so
# it is cached per (input expression, n, centroid values); keying by
# value keeps it correct even if a refit produced different centers.
# Column trees are not tied to a session, so unlike
# ``mango_parity._FRAME_MEMO`` the key carries no applicationId.
@cache
def _nearest_cells_battery(
    emb: _ColumnKey, n: int, centroids: tuple[tuple[float, ...], ...]
) -> Column:
    import math

    def py_norm(c: tuple[float, ...]) -> float:
        # identical float semantics to the in-plan l2_norm it replaces:
        # left-to-right double fold + IEEE sqrt (bit-equality verified
        # live and pinned in tests) — the centroid is a CONSTANT, so
        # its norm belongs in the driver, not in every row's codegen
        acc = 0.0
        for v in c:
            acc += v * v
        return math.sqrt(acc)

    sims = F.array(
        *[
            F.struct(
                (dot(emb.col, F.lit([float(v) for v in c])) / F.lit(py_norm(c)))
                .alias("sim"),
                F.lit(i).alias("cell"),
            )
            for i, c in enumerate(centroids)
        ]
    )
    top = F.slice(F.reverse(F.array_sort(sims)), 1, n)
    return F.transform(top, lambda s: s["cell"])


@query("embedding_kmeans", oracle=None, tags=("similarity", "extension", "iterative"))
def embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means cluster profile of the embedding corpus (pyspark.ml,
    seeded): cluster sizes + mean intra-cluster cosine to the centroid.
    Rows-only: iterative algorithm, no ANSI twin."""
    centroids = _fit_centroids(spark, sf_dir)
    corpus = _corpus_with_norm(spark, sf_dir)
    cell = _nearest_cells(F.col("emb"), centroids, 1)[0]
    return (
        corpus.withColumn("cell", cell)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )


@query("ann_ivf_topk", oracle=None, tags=("similarity", "extension", "iterative"))
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: trained coarse quantizer (k-means), corpus assigned to
    its nearest cell, queries probe the N_PROBE nearest cells, exact
    cosine re-rank inside probed cells.  Recall vs the exact top-k is
    gated in tests/test_clustering.py."""
    centroids = _fit_centroids(spark, sf_dir)
    corpus = _corpus_with_norm(spark, sf_dir)
    assigned = corpus.withColumn(
        "cell", _nearest_cells(F.col("emb"), centroids, 1)[0]
    )
    q = (
        corpus.filter(F.col("vec_id") < N_QUERIES)
        .withColumn("probes", _nearest_cells(F.col("emb"), centroids, N_PROBE))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("emb").alias("qemb"),
            F.col("norm").alias("qnorm"),
            F.explode("probes").alias("cell"),
        )
    )
    # bounded: fixed query set
    cand = assigned.join(F.broadcast(q), "cell").filter(
        F.col("vec_id") != F.col("query_id")
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
# Semantic dedup (SemDeDup, Abbas et al. 2023): k-means cells bound the
# pair search; exact cosine only within a cell; components; keep the
# min-id survivor per cluster.
# ---------------------------------------------------------------------------

SEM_COSINE_T = 0.99


@query(
    "semantic_dedup", oracle=None, tags=("dedup", "similarity", "iterative")
)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space dedup at corpus scale: the coarse quantizer turns
    the O(n²) all-pairs cosine (dedup_embedding_cosine — retained as the
    exact kernel/oracle) into per-cell joins, so pairwise work is
    bounded by cell size, exactly like LSH band buckets.  Misses only
    pairs straddling a cell boundary — near-identical vectors (cosine
    ≥ 0.99) almost surely share a nearest centroid; the within-cell
    recall gate lives in tests/test_clustering.py.

    Returns one row per vector: (vec_id, component_id, keep) with
    keep = "is the canonical min-id member of its duplicate cluster".
    Rows-only at the driver (k-means is iterative, no ANSI twin).
    """
    centroids = _fit_centroids(spark, sf_dir)
    corpus = _corpus_with_norm(spark, sf_dir)
    assigned = corpus.withColumn(
        "cell", _nearest_cells(F.col("emb"), centroids, 1)[0]
    ).persist()
    a = assigned.select(
        "cell",
        F.col("vec_id").alias("vec_a"),
        F.col("emb").alias("ea"),
        F.col("norm").alias("na"),
    )
    b = assigned.select(
        "cell",
        F.col("vec_id").alias("vec_b"),
        F.col("emb").alias("eb"),
        F.col("norm").alias("nb"),
    )
    sim = cosine(F.col("ea"), F.col("eb"), F.col("na"), F.col("nb"))
    pairs = (
        a.join(b, "cell")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn("sim", sim)
        .filter(F.col("sim") >= SEM_COSINE_T)
        .select("vec_a", "vec_b")
    )
    comp = min_label_components(pairs, "vec_a", "vec_b").withColumnRenamed(
        "node", "vec_id"
    )
    return (
        assigned.select("vec_id")
        .join(comp, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce("component_id", F.col("vec_id"))
            .cast("long")
            .alias("component_id"),
            (
                F.coalesce("component_id", F.col("vec_id"))
                == F.col("vec_id")
            ).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# Leakage-safe corpus split — split by duplicate-CLUSTER, not by document.
# ---------------------------------------------------------------------------

from taipei_bi_etl_spark.queries.clustering_split_oracle import (  # noqa: E402
    _LEAKAGE_SPLIT_ORACLE,
)


@query(
    "split_leakage_safe",
    oracle=_LEAKAGE_SPLIT_ORACLE,
    tags=("curation", "dedup", "extension"),
)
def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test split keyed on the NEAR-DUP CLUSTER representative
    instead of the document itself — the leakage guard
    ``corpus_hash_split`` cannot give: two near-duplicate documents
    hash to different buckets under per-doc content addressing, so one
    lands in train and its twin in test, inflating eval.  Here every
    member of a near-dup component inherits the representative's (min
    doc_id) content hash, so a whole cluster moves between splits as a
    unit and eval contamination by near-dups is structurally zero.

    Pipeline composition: MinHash-LSH verified pairs → min-label
    components → representative text hash → 80/10/10 bucket.  Docs in
    no component are their own representative (singleton clusters).

    Scale: the component step runs on the PAIR list (output of sketch
    dedup, ≪ corpus); the only corpus-sized shuffles are the LEFT join
    attaching component ids and the rep-text lookup join on rep_id.
    Split assignment stays content-addressed ⇒ stable under
    re-partitioning, re-ingestion, and appends (a new near-dup of a
    test doc joins the test split, never train).
    """
    from taipei_bi_etl_spark.io import read_table
    from taipei_bi_etl_spark.queries.curation import _SPLIT_B1, _SPLIT_P1
    from taipei_bi_etl_spark.queries.dedup import dedup_minhash_lsh
    from taipei_bi_etl_spark.queries.text import _char_array, poly_hash

    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    labels = min_label_components(pairs, "doc_a", "doc_b")
    d = read_table(spark, sf_dir, "documents")
    rep = (
        d.select("doc_id", "source")
        .join(labels, d["doc_id"] == labels["node"], "left")
        .select(
            "doc_id",
            "source",
            F.coalesce("component_id", "doc_id").cast("long").alias("rep_id"),
        )
    )
    rep_hash = d.select(
        F.col("doc_id").alias("h_doc_id"),
        (poly_hash(_char_array(F.col("text")), _SPLIT_B1, _SPLIT_P1) % 100)
        .alias("b1"),
    )
    return (
        rep.join(rep_hash, rep["rep_id"] == rep_hash["h_doc_id"])
        .select(
            "doc_id",
            "source",
            "rep_id",
            F.when(F.col("b1") < 80, "train")
            .when(F.col("b1") < 90, "val")
            .otherwise("test")
            .alias("split"),
        )
    )


# ---------------------------------------------------------------------------
# k-center greedy diversity sampling (coreset selection).
# ---------------------------------------------------------------------------

KCENTER_STEPS = 4

_KCENTER_ORACLE = f"""
WITH RECURSIVE
pts AS (
    SELECT vec_id, list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
    FROM embeddings
    WHERE embedding IS NOT NULL AND len(embedding) = 64
),
dists AS (
    SELECT a.vec_id AS i, b.vec_id AS j,
           list_sum(list_transform(list_zip(a.v, b.v),
               t -> (t[1] - t[2]) * (t[1] - t[2]))) AS dist
    FROM pts a, pts b
),
sel(step, chosen) AS (
    SELECT 0, [CAST(0 AS BIGINT)]
    UNION ALL
    SELECT s.step + 1,
           list_append(s.chosen, (
               SELECT p.vec_id FROM pts p
               WHERE NOT list_contains(s.chosen, p.vec_id)
               ORDER BY (SELECT MIN(d.dist) FROM dists d
                         WHERE d.i = p.vec_id
                           AND list_contains(s.chosen, d.j)) DESC,
                        p.vec_id ASC
               LIMIT 1))
    FROM sel s WHERE s.step < {KCENTER_STEPS}
)
SELECT UNNEST(chosen) AS vec_id FROM sel WHERE step = {KCENTER_STEPS}
"""


@query(
    "kcenter_diverse_sample",
    oracle=_KCENTER_ORACLE,
    tags=("clustering", "iterative", "curation"),
)
def kcenter_diverse_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center (farthest-point) selection over the embedding
    table — the coreset/diversity sampler a curation pipeline uses to
    pick maximally-spread exemplars (dataset distillation, eval-set
    seeding, dedup anchors).  Start from vec_id 0, then k times pick
    the point FARTHEST from the chosen set (max of min-distances).

    Exactness: embeddings are integerized to micros and distances are
    Σ(Δ²) in BIGINT — fully exact, so the greedy argmax (with vec_id
    tie-break) is bit-identical cross-engine, which is what lets a
    float-geometry algorithm be hash-checked against the recursive-CTE
    oracle (the oracle materializes all pairwise distances — O(n²) is
    fine for DuckDB at sf0.01 and EXACTLY what the Spark side avoids).

    Scale: the classic streaming form — maintain ONE min-distance
    column over the corpus; each round is (a) TakeOrdered(1) for the
    argmax (per-partition heaps, 1 row to the driver), (b) a map-only
    `least(mind, dist(x, new_center))` update with the 64-int center
    inlined as a literal (broadcast by the plan).  k rounds = k scans,
    no pairwise materialization, no shuffle at all.

    Domain bound: distances are int64 MICROS fixed-point — squared
    per-coordinate deltas sum over 64 dims, so coordinates must stay
    within |x| ≲ 150 (unit-scale embeddings are far inside).  Beyond
    that, move the accumulator to DECIMAL(38,0) (the SCALE.md
    integer-width escalation rule).
    """
    from taipei_bi_etl_spark.queries.emb_common import read_embeddings

    emb = read_embeddings(spark, sf_dir)  # zip_with needs all 64 dims
    to_micros = F.transform(
        "embedding", lambda x: F.round(x.cast("double") * 1_000_000, 0).cast("long")
    )
    pts = emb.select("vec_id", to_micros.alias("v")).persist()

    def dist_to(center_vec: list[int]) -> F.Column:
        lit = F.array(*[F.lit(int(c)) for c in center_vec])
        return F.aggregate(
            F.zip_with("v", lit, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    first = pts.filter(F.col("vec_id") == 0).collect()[0]
    chosen = [0]
    state = pts.withColumn("mind", dist_to(list(first.v)))
    for _ in range(KCENTER_STEPS):
        nxt = (
            state.filter(~F.col("vec_id").isin(chosen))
            .orderBy(F.desc("mind"), F.asc("vec_id"))
            .limit(1)
            .collect()[0]
        )
        chosen.append(int(nxt.vec_id))
        state = state.withColumn(
            "mind", F.least(F.col("mind"), dist_to(list(nxt.v)))
        )
    return spark.createDataFrame([(c,) for c in chosen], "vec_id long")


# ---------------------------------------------------------------------------
# Grid DBSCAN — density clustering via JL projection + grid cells
# (the r01-backlogged compose: "DBSCAN needs a low-dim projection
# first — grid join explodes in 64-dim").
# ---------------------------------------------------------------------------

DBSCAN_EPS = 0.5
DBSCAN_MIN_PTS = 4
_GRID_OFF = 1 << 20  # coordinate offset so packed cell keys stay positive


def _dbscan_proj_rows() -> list[list[int]]:
    from taipei_bi_etl_spark.queries.similarity import _jl_rows

    return _jl_rows()[:2]


def _dbscan_oracle() -> str:
    rows = _dbscan_proj_rows()

    def r(row):
        return "[" + ", ".join(f"{s}.0" for s in row) + "]"

    eps, mp, off = DBSCAN_EPS, DBSCAN_MIN_PTS, _GRID_OFF
    return f"""
WITH RECURSIVE
p AS (
  SELECT vec_id,
         CAST(floor(list_inner_product(embedding::DOUBLE[], {r(rows[0])})
                    / {eps}) AS BIGINT) + {off} AS cx,
         CAST(floor(list_inner_product(embedding::DOUBLE[], {r(rows[1])})
                    / {eps}) AS BIGINT) + {off} AS cy
  FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) = 64
),
cells AS (
  SELECT cx, cy, cx * {2 * off} + cy AS cell, COUNT(*) AS n
  FROM p GROUP BY 1, 2
),
core AS (SELECT * FROM cells WHERE n >= {mp}),
adj AS (
  SELECT a.cell AS ca, b.cell AS cb
  FROM core a JOIN core b
    ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
),
labels AS (
  -- adj includes self-pairs, so MIN over neighbors includes the own
  -- label and the recursive term needs only ONE reference to labels
  SELECT 0 AS iter, ca AS cell, MIN(cb) AS lbl,
         SUM(MIN(cb)) OVER () AS tot
  FROM adj GROUP BY ca
  UNION ALL
  SELECT iter + 1, cell, lbl, SUM(lbl) OVER () AS tot FROM (
    SELECT l.iter AS iter, a.ca AS cell, MIN(l.lbl) AS lbl,
           MIN(l.tot) AS prev
    FROM labels l JOIN adj a ON a.cb = l.cell
    GROUP BY l.iter, a.ca
  ) QUALIFY SUM(lbl) OVER () < MIN(prev) OVER ()
),
final_lbl AS (
  SELECT cell, lbl FROM labels
  WHERE iter = (SELECT MAX(iter) FROM labels)
),
assigned AS (
  SELECT pt.vec_id, fl.lbl
  FROM p pt
  JOIN core c ON pt.cx = c.cx AND pt.cy = c.cy
  JOIN final_lbl fl ON fl.cell = c.cell
)
SELECT a.vec_id,
       CAST(m.cluster_id AS BIGINT) AS cluster_id
FROM assigned a
JOIN (
  SELECT lbl, MIN(vec_id) AS cluster_id FROM assigned GROUP BY lbl
) m USING (lbl)
"""


@query(
    "dbscan_grid_clusters",
    oracle=_dbscan_oracle(),
    tags=("clustering", "extension", "iterative"),
)
def dbscan_grid_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Density clustering (grid DBSCAN): JL-project embeddings to 2-D
    (closed-form sign matrix shared with `embedding_random_projection`),
    bucket into eps-cells, mark cells with ≥ min_pts as CORE, connect
    8-adjacent core cells into components, and label every point in a
    core cell with its component — points outside core cells are noise
    (omitted), exactly DBSCAN's core/noise split at grid granularity.

    The grid is why this scales where true DBSCAN's eps-range join
    cannot: density comes from ONE hash aggregate on the packed cell
    key (no pairwise distances), adjacency joins |core-cells|² at most
    (bounded by the occupied grid, not |points|²), and the component
    propagation runs on cells, not points.  In 64-dim a grid is
    hopeless (3^64 neighbor offsets) — the JL projection is what buys
    the 2-D grid while approximately preserving density structure.

    Cluster ids are canonicalized to the minimum member vec_id, so the
    labeling is content-addressed; the oracle replicates the whole
    chain including the component fixpoint (recursive CTE with a
    label-sum QUALIFY stop — same pattern as the k-core oracle).
    """
    from taipei_bi_etl_spark.io import read_table
    from taipei_bi_etl_spark.queries.similarity import as_double, dot

    from taipei_bi_etl_spark.queries.emb_common import read_embeddings

    rows = _dbscan_proj_rows()
    e = read_embeddings(spark, sf_dir)  # dot() needs all 64 dims
    emb = as_double("embedding")
    proj = [
        dot(emb, F.array(*[F.lit(float(s)) for s in row])) for row in rows
    ]
    eps, off = DBSCAN_EPS, _GRID_OFF
    p = e.select(
        "vec_id",
        (F.floor(proj[0] / eps).cast("long") + off).alias("cx"),
        (F.floor(proj[1] / eps).cast("long") + off).alias("cy"),
    )
    cells = (
        p.groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("cell", F.col("cx") * (2 * off) + F.col("cy"))
    )
    core = cells.filter(F.col("n") >= DBSCAN_MIN_PTS).persist()
    a = core.select(
        F.col("cx").alias("ax"), F.col("cy").alias("ay"),
        F.col("cell").alias("ca"),
    )
    b = core.select(
        F.col("cx").alias("bx"), F.col("cy").alias("by"),
        F.col("cell").alias("cb"),
    )
    adj = a.join(
        b,
        (F.abs(F.col("ax") - F.col("bx")) <= 1)
        & (F.abs(F.col("ay") - F.col("by")) <= 1),
    ).select("ca", "cb")
    comp = min_label_components(adj, "ca", "cb").withColumnRenamed(
        "node", "cell"
    )
    assigned = (
        p.join(core.select("cx", "cy", "cell"), ["cx", "cy"])
        .join(comp, "cell")
        .select("vec_id", F.col("component_id").alias("lbl"))
    )
    canon = assigned.groupBy("lbl").agg(F.min("vec_id").alias("cluster_id"))
    out = assigned.join(canon, "lbl").select(
        "vec_id", F.col("cluster_id").cast("long").alias("cluster_id")
    )
    core.unpersist()
    return out


CLUSTER_SAMPLE_K = 5


def _balanced_sample_oracle() -> str:
    return f"""
WITH clusters AS (
{_dbscan_oracle()}
)
SELECT cluster_id, vec_id,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY cluster_id
         ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
       ) AS INT) AS sample_rank
FROM clusters
QUALIFY sample_rank <= {CLUSTER_SAMPLE_K}
"""


@query(
    "cluster_balanced_sample",
    oracle=_balanced_sample_oracle(),
    tags=("clustering", "curation", "extension"),
)
def cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced selection: up to K vectors per density cluster,
    ranked by content hash — the diversity-preserving sampler a
    curation pipeline uses so dense regions don't drown sparse ones
    (the cluster-quota idea behind SemDeDup-style pruning and balanced
    eval-set construction), composed directly on `dbscan_grid_clusters`.

    Content-addressed (md5 of vec_id) like every sampler here: stable
    under repartitioning.  The oracle nests the full recursive DBSCAN
    derivation as a CTE and applies the same per-cluster quota — the
    composition, not just the parts, is hash-checked.

    Scale: the quota is one window over the (point, cluster) frame,
    partitioned by cluster — bounded state per cluster, no global sort.
    """
    assigned = dbscan_grid_clusters(spark, sf_dir)
    w = Window.partitionBy("cluster_id").orderBy(
        F.md5(F.col("vec_id").cast("string")), F.col("vec_id")
    )
    return (
        assigned.withColumn(
            "sample_rank", F.row_number().over(w).cast("int")
        )
        .filter(F.col("sample_rank") <= CLUSTER_SAMPLE_K)
        .select("cluster_id", "vec_id", "sample_rank")
    )
