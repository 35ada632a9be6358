"""Similarity-search quality gates beyond the oracle hash check:
the LSH ANN path must actually find (most of) the true neighbors."""

from __future__ import annotations

from taipei_bi_etl_spark.queries.similarity import (
    ann_cosine_topk,
    ann_lsh_bucketed,
    dedup_embedding_cosine,
)
from tests.conftest import SF_DIR


def test_lsh_recall_vs_exact(spark):
    exact = {
        (r.query_id, r.neighbor_id)
        for r in ann_cosine_topk(spark, SF_DIR).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ann_lsh_bucketed(spark, SF_DIR).collect()
    }
    recall = len(exact & approx) / len(exact)
    # 4 tables x 12 bits on a small corpus: top-1/2 neighbors are near
    # the query and collide with high probability; distant tail may not.
    assert recall >= 0.5, f"LSH recall too low: {recall:.2f}"


def test_lsh_is_deterministic(spark):
    a = sorted(map(tuple, ann_lsh_bucketed(spark, SF_DIR).collect()))
    b = sorted(map(tuple, ann_lsh_bucketed(spark, SF_DIR).collect()))
    assert a == b


def test_near_dup_pairs_are_symmetric_free(spark):
    rows = dedup_embedding_cosine(spark, SF_DIR).collect()
    assert all(r.vec_a < r.vec_b for r in rows)


def test_lsh_dedup_recall_and_precision_vs_all_pairs(spark):
    """The default dedup_embedding_lsh entry must be a high-recall,
    perfect-precision SUBSET of the exact all-pairs kernel at the same
    threshold: every emitted pair is a true near-dup (the verify step is
    exact) and near-identical pairs collide in ≥1 of 16 tables with
    overwhelming probability."""
    from pyspark.sql import functions as F

    from taipei_bi_etl_spark.queries.similarity import (
        NEARDUP_SIM,
        _corpus_with_norm,
        cosine,
        dedup_embedding_lsh,
    )

    got = {
        (r.vec_a, r.vec_b)
        for r in dedup_embedding_lsh(spark, SF_DIR).collect()
    }
    corpus = _corpus_with_norm(spark, SF_DIR)
    a = corpus.select(
        F.col("vec_id").alias("vec_a"),
        F.col("emb").alias("ea"),
        F.col("norm").alias("na"),
    )
    b = corpus.select(
        F.col("vec_id").alias("vec_b"),
        F.col("emb").alias("eb"),
        F.col("norm").alias("nb"),
    )
    sim = cosine(F.col("ea"), F.col("eb"), F.col("na"), F.col("nb"))
    truth = {
        (r.vec_a, r.vec_b)
        for r in a.join(F.broadcast(b), F.col("vec_a") < F.col("vec_b"))
        .filter(sim >= NEARDUP_SIM)
        .select("vec_a", "vec_b")
        .collect()
    }
    assert truth, "test corpus must contain near-dup pairs at threshold"
    assert got <= truth  # precision 1.0 — verify step is exact
    recall = len(got & truth) / len(truth)
    assert recall >= 0.7, f"LSH dedup recall too low: {recall:.2f}"


def test_lsh_dedup_first_collision_emit_unique_and_shuffle_free(spark):
    """The OR-across-tables is a first-collision emit (r10): each pair
    must surface EXACTLY once without a dedup exchange — no aggregate
    keyed on the PAIR ids anywhere in the plan (the old dropDuplicates
    planned an Exchange + HashAggregate over the quadratic candidate
    volume).  r11: the hot-bucket salt adds a legitimate BOUNDED
    aggregate — bucket counts keyed on (table_id, bucket), ≤256 rows —
    so the pin is scoped to pair-keyed aggregates instead of banning
    aggregates outright (ADVICE r10 #4 anticipated exactly this)."""
    import re

    from taipei_bi_etl_spark.queries.similarity import dedup_embedding_lsh

    df = dedup_embedding_lsh(spark, SF_DIR)
    pairs = [(r.vec_a, r.vec_b) for r in df.collect()]
    assert len(pairs) == len(set(pairs)) > 0
    plan = df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    # formatted explain prints aggregate grouping as "Keys [n]: [...]";
    # none may group on the candidate-pair ids
    pair_keyed = [
        m for m in re.findall(r"Keys \[\d+\]: \[([^\]]*)\]", plan)
        if "vec_a" in m and "vec_b" in m
    ]
    assert pair_keyed == [], pair_keyed
    # the candidate join is the SALTED one: join keys carry the salt
    # groups (ga, gb) alongside (table_id, bucket)
    assert re.search(r"keys \[\d+\]: \[table_id#[^\]]*\bga#", plan, re.I), (
        "candidate join is not salted"
    )


def test_lsh_hot_bucket_salt_bounded_and_identical(spark, monkeypatch):
    """r11 (VERDICT r10 #4, guide §2.5): one hot LSH bucket is a single
    unsplittable join key.  With the cap forced tiny, a degenerate
    40-row bucket must (a) split into nsplit = ceil(40/10) = 4 salt
    groups with per-group side size far below the bucket size, (b)
    still produce EXACTLY the unsalted join's pair multiset (every pair
    meets exactly once — the first-collision emit upstream relies on
    it), and (c) leave an at-cap bucket entirely unsalted (nsplit=1)."""
    from pyspark.sql import functions as F

    import taipei_bi_etl_spark.queries.similarity as sim

    monkeypatch.setattr(sim, "LSH_BUCKET_CAP", 10)
    rows = [(i, 0, 0) for i in range(40)] + [(100 + i, 1, 3) for i in range(5)]
    idx = spark.createDataFrame(
        rows, "vec_id long, table_id int, bucket long"
    )
    a = idx.select(F.col("vec_id").alias("vec_a"), "table_id", "bucket")
    b = idx.select(F.col("vec_id").alias("vec_b"), "table_id", "bucket")
    splits = sim._bucket_splits(idx)
    ns = {(r.table_id, r.bucket): r.nsplit for r in splits.collect()}
    assert ns == {(0, 0): 4, (1, 3): 1}
    sa, sb, keys = sim._salt_sides(a, b, splits, "vec_a", "vec_b")
    # bounded per-task volume: no (table, bucket, ga, gb) group's side
    # may approach the 40-row hot bucket (expected ~10 per salt group)
    mx = (
        sa.groupBy(*keys).count().agg(F.max("count")).collect()[0][0]
    )
    assert mx < 20, f"salt group size {mx} not bounded"
    # exactly-once pair emission, identical multiset vs the unsalted join
    salted = sorted(
        (r.vec_a, r.vec_b)
        for r in sa.join(sb, keys).select("vec_a", "vec_b").collect()
    )
    plain = sorted(
        (r.vec_a, r.vec_b)
        for r in a.join(b, ["table_id", "bucket"])
        .select("vec_a", "vec_b")
        .collect()
    )
    assert salted == plain
    assert len(salted) == 40 * 40 + 5 * 5


def test_pq_recall_vs_exact_l2(spark):
    """PQ ADC shortlist + exact re-rank must recover most of the true
    L2 top-k (PQ quantizes L2 distance, so the baseline here is the
    exact L2 scan, not the cosine ranking)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from taipei_bi_etl_spark.queries.quantization import ann_pq_topk, _sq_l2
    from taipei_bi_etl_spark.queries.similarity import (
        N_QUERIES,
        TOP_K,
        _corpus_with_norm,
    )

    c = _corpus_with_norm(spark, SF_DIR)
    q = c.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb")
    )
    j = c.crossJoin(F.broadcast(q)).filter(F.col("vec_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("vec_id"))
    exact = {
        (r.query_id, r.vec_id)
        for r in j.withColumn("d2", _sq_l2(F.col("emb"), F.col("qemb")))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "vec_id")
        .collect()
    }
    rows = ann_pq_topk(spark, SF_DIR).collect()
    approx = {(r.query_id, r.neighbor_id) for r in rows}
    assert len(rows) == N_QUERIES * TOP_K
    # K_SUB=32 codebooks, shortlist 100/500: measured 0.90 at seed data
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.7, f"PQ recall too low: {recall:.2f}"


def test_pq_is_deterministic(spark):
    from taipei_bi_etl_spark.queries.quantization import ann_pq_topk

    a = sorted(map(tuple, ann_pq_topk(spark, SF_DIR).collect()))
    b = sorted(map(tuple, ann_pq_topk(spark, SF_DIR).collect()))
    assert a == b


def test_jl_shortlist_recall_vs_exact(spark):
    """Project-shortlist-rerank must recover the exact top-k almost
    entirely (isotropic embeddings are the worst case for projections;
    a rank-collapsed sign matrix fails this hard — the regression this
    gate exists to catch)."""
    from taipei_bi_etl_spark.queries.similarity import (
        ann_cosine_topk,
        ann_jl_shortlist_topk,
    )

    exact = {
        (r.query_id, r.neighbor_id)
        for r in ann_cosine_topk(spark, SF_DIR).collect()
    }
    jl = {
        (r.query_id, r.neighbor_id)
        for r in ann_jl_shortlist_topk(spark, SF_DIR).collect()
    }
    recall = len(exact & jl) / len(exact)
    assert recall >= 0.9, f"JL shortlist recall too low: {recall:.2f}"


def test_deterministic_ivf_invariant_under_partition_layout(spark):
    """The load-bearing claim of ann_ivf_deterministic_topk: the
    trained state (and hence the full result) is BIT-IDENTICAL across
    partition layouts — the property pyspark.ml KMeans lacks and the
    reason the library-backed IVF is rows-only."""
    from pyspark.sql import functions as F

    from taipei_bi_etl_spark.io import read_table
    from taipei_bi_etl_spark.queries.ann_deterministic import (
        PICO,
        _train_centroids,
    )
    from tests.conftest import SF_DIR

    def quantize(df):
        return df.select(
            "vec_id",
            F.transform(
                "embedding",
                lambda x: F.floor(x.cast("double") * PICO).cast("long"),
            ).alias("qv"),
        )

    emb = read_table(spark, SF_DIR, "embeddings")
    c1 = _train_centroids(quantize(emb.repartition(1)))
    c2 = _train_centroids(quantize(emb.repartition(17, "vec_id")))
    c3 = _train_centroids(
        quantize(emb.repartition(5).sortWithinPartitions(F.desc("vec_id")))
    )
    assert c1 == c2 == c3


def test_compiled_battery_memos_reuse_expressions(spark):
    """r10 optimization: the LSH signature / JL projection batteries
    are ~3 s / ~1.5 s of driver-side py4j expression construction —
    cached per input-expression string (``functools.cache`` keyed by
    ``_ColumnKey``).  The cache must (a) hand back the SAME
    immutable Column tree on repeat calls and (b) leave the resolved
    plan identical to a fresh (memo-bypassing) construction — i.e. it
    caches expressions only, never data or plan state."""
    import re

    from pyspark.sql import functions as F

    from taipei_bi_etl_spark.queries import similarity as S

    # (a) repeat calls return the identical compiled tree
    assert S.lsh_signature_battery("emb") is S.lsh_signature_battery("emb")
    assert S.jl_projection_battery("emb") is S.jl_projection_battery("emb")
    # ... including for lambda-bearing inputs, whose raw expression
    # string never repeats (Spark auto-numbers lambda variables) — the
    # memo key normalizes them (the knn_label_consistency_jl binding)
    assert S.jl_projection_battery(
        S.as_double("embedding")
    ) is S.jl_projection_battery(S.as_double("embedding"))
    # distinct bindings get distinct compiles
    assert S.lsh_signature_battery("emb") is not S.lsh_signature_battery(
        F.col("other")
    )
    # ... including bindings that differ ONLY in a numeric suffix:
    # the key renumbers DECLARED lambda variables, never column names
    # (a blanket \w+_\d+ rewrite would merge emb_1/emb_2 into one memo
    # entry and silently return the wrong compiled battery)
    assert S._memo_key(F.col("emb_1")) != S._memo_key(F.col("emb_2"))
    assert S.lsh_signature_battery(
        F.col("emb_1")
    ) is not S.lsh_signature_battery(F.col("emb_2"))
    # lambda-var renumbering is by first appearance, so identical
    # constructions share a key while distinct nested vars stay apart
    assert S._memo_key(
        F.transform(F.col("e"), lambda x: x.cast("double"))
    ) == S._memo_key(F.transform(F.col("e"), lambda x: x.cast("double")))
    assert S._memo_key(
        F.zip_with(F.col("a"), F.col("b"), lambda x, y: x + y)
    ) != S._memo_key(F.zip_with(F.col("a"), F.col("b"), lambda x, y: y + x))

    # (b) memoized vs fresh construction: same analyzed plan (modulo
    # auto-numbered lambda variables)
    df = spark.createDataFrame(
        [(1, [float(i) for i in range(S.LSH_DIM)])], "vec_id int, emb array<double>"
    )
    fresh_sigs = F.array(
        *[
            S.signature(F.col("emb"), S._hyperplanes()[t])
            for t in range(S.LSH_TABLES)
        ]
    )

    def plan(c):
        p = df.select(c.alias("out"))._jdf.queryExecution().analyzed().toString()
        p = re.sub(r"#\d+", "#X", p)
        return re.sub(r"lambda ([a-z]+)_\d+", r"lambda \1_N", p)

    assert plan(S.lsh_signature_battery("emb")) == plan(fresh_sigs)
