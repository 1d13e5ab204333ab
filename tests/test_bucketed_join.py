"""Bucketed-table layout: an LSH-bucketed corpus table removes the corpus
side's exchange from ``ann_join_topk``'s probe equi-join."""

from pyspark.sql import functions as F


def test_bucketed_corpus_removes_ann_join_corpus_exchange(spark):
    """The docstring claim behind ann_join_topk's 10^12-row story:
    materialize with_lsh_bucket onto the corpus and bucket the table by
    lsh_bucket — the probe equi-join then reads the corpus pre-bucketed
    (no corpus-side exchange; one fewer shuffle than the plain-parquet
    plan)."""
    from localmod_spark.operators.similarity import ann_join_topk, with_lsh_bucket

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        q = emb.where(F.col("vec_id") % 50 == 0)
        plain_plan = ann_join_topk(
            q, emb, dim=64, k=3, n_planes=6
        )._jdf.queryExecution().executedPlan().toString()

        spark.sql("DROP TABLE IF EXISTS emb_bucketed_ann")
        (
            with_lsh_bucket(emb, dim=64, n_planes=6)
            .write.mode("overwrite")
            .bucketBy(8, "lsh_bucket")
            .format("parquet")
            .saveAsTable("emb_bucketed_ann")
        )
        corpus = spark.table("emb_bucketed_ann")
        # corpus already carries lsh_bucket → skip the re-bucketing by
        # joining the exploded query probes against the stored column
        from pyspark.sql import Window
        from localmod_spark.operators.similarity import _norm, _per_query_topk

        q_b = with_lsh_bucket(q, dim=64, n_planes=6)
        probes = [F.col("lsh_bucket")] + [
            F.col("lsh_bucket").bitwiseXOR(F.lit(1 << i)) for i in range(6)
        ]
        qx = q_b.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("_qvec"),
            _norm(F.col("embedding")).alias("_qn"),
            F.explode(F.array(*probes)).alias("_probe"),
        )
        joined = (
            corpus.withColumn("_cn", _norm(F.col("embedding")))
            .join(qx, F.col("lsh_bucket") == F.col("_probe"))
            .where(F.col("vec_id") != F.col("query_id"))
        )
        out = _per_query_topk(joined, 3, "vec_id", "embedding")
        bucketed_plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in bucketed_plan, bucketed_plan
        n_plain = plain_plan.count("Exchange hashpartitioning")
        n_bucketed = bucketed_plan.count("Exchange hashpartitioning")
        assert n_bucketed < n_plain, (n_bucketed, n_plain)
        assert out.count() > 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS emb_bucketed_ann")
