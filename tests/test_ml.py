"""MLlib integration tests: TF-IDF pipeline, KMeans IVF, and model scoring
over Structured Streaming (the north star's "ML integration via MLlib")."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from arkflow_spark.ml import (
    array_to_vector,
    assign_buckets,
    fit_kmeans_ivf,
    tfidf_pipeline,
    vector_to_array,
)
from arkflow_spark.tables import load
from tests.conftest import SF_SMOKE


def test_tfidf_pipeline_fit_transform(spark):
    docs = load(spark, SF_SMOKE, "documents")
    model = tfidf_pipeline(num_features=1 << 12).fit(docs)
    out = model.transform(docs).select(
        "doc_id", vector_to_array("features").alias("f")
    )
    rows = out.collect()
    assert len(rows) == docs.count()
    # every non-empty document gets a non-zero feature vector
    assert all(len(r.f) == 1 << 12 for r in rows)
    assert any(sum(r.f) > 0 for r in rows)


def test_kmeans_ivf_assign_covers_all_vectors(spark):
    emb = load(spark, SF_SMOKE, "embeddings")
    model = fit_kmeans_ivf(emb, k=4, seed=7)
    assigned = assign_buckets(model, emb)
    assert assigned.count() == emb.count()
    buckets = {r.bucket for r in assigned.select("bucket").distinct().collect()}
    assert buckets <= set(range(4)) and len(buckets) >= 2
    # deterministic under a fixed seed: refit reproduces the assignment
    model2 = fit_kmeans_ivf(emb, k=4, seed=7)
    a1 = sorted((r.vec_id, r.bucket) for r in assigned.collect())
    a2 = sorted(
        (r.vec_id, r.bucket) for r in assign_buckets(model2, emb).collect()
    )
    assert a1 == a2


def test_score_stream_applies_model_per_microbatch(spark):
    emb = load(spark, SF_SMOKE, "embeddings")
    model = fit_kmeans_ivf(emb, k=3, seed=11)
    with tempfile.TemporaryDirectory() as d:
        emb.write.parquet(f"{d}/in")
        stream = (
            spark.readStream.schema(emb.schema)
            .parquet(f"{d}/in")
            .withColumn("embedding", array_to_vector(F.col("embedding")))
        )
        scored = model.transform(stream)
        q = (
            scored.writeStream.format("memory")
            .queryName("ml_scored")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.sql(
            "SELECT COUNT(*) AS n, COUNT(DISTINCT bucket) AS nb FROM ml_scored"
        ).collect()[0]
        assert got.n == emb.count() and 1 <= got.nb <= 3


def test_ml_score_processor_in_engine_pipeline(spark, tmp_path):
    """YAML-surface AI integration: a saved KMeans model scored by the
    engine's ml_score processor over a parquet file input."""
    import textwrap

    import yaml as _y

    from arkflow_spark.config import EngineConfig
    from arkflow_spark.engine import Engine

    emb = load(spark, SF_SMOKE, "embeddings")
    model = fit_kmeans_ivf(emb, k=3, seed=5)
    mpath = str(tmp_path / "kmeans_model")
    model.save(mpath)
    cfg = EngineConfig.from_dict(
        _y.safe_load(
            textwrap.dedent(
                f"""
                streams:
                  - name: score
                    input:
                      type: file
                      format: parquet
                      path: {SF_SMOKE}/embeddings.parquet
                    pipeline:
                      processors:
                        - type: ml_score
                          model_path: {mpath}
                          model_class: pyspark.ml.clustering.KMeansModel
                          vector_cols: [embedding]
                        - type: sql
                          query: "SELECT bucket, COUNT(*) AS n FROM flow GROUP BY bucket"
                    output:
                      type: memory
                """
            )
        )
    )
    eng = Engine(spark, cfg)
    out = eng.streams[0].run_batch()
    rows = {r["bucket"]: r["n"] for r in out.collect()}
    assert sum(rows.values()) == emb.count() and set(rows) <= {0, 1, 2}


def test_ivf_index_partitioned_write_prunes_probe(spark, tmp_path):
    """The stored-IVF-index shape from SCALE.md: write assignments
    partitionBy(bucket), probe one bucket — the scan must carry a
    PartitionFilter on bucket (file pruning: a probe touches one bucket's
    files, corpus/nlist of the data, not everything)."""
    emb = load(spark, SF_SMOKE, "embeddings")
    model = fit_kmeans_ivf(emb, k=4, seed=7)
    assigned = assign_buckets(model, emb).select("vec_id", "bucket")
    idx = str(tmp_path / "ivf_index")
    assigned.write.partitionBy("bucket").parquet(idx)
    probe = spark.read.parquet(idx).filter(F.col("bucket") == 2)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan
    expected = {r.vec_id for r in assigned.filter(F.col("bucket") == 2).collect()}
    assert {r.vec_id for r in probe.collect()} == expected


def test_hubness_numpy_topk_is_deterministic(spark):
    """The vectorized kNN-graph pass (numpy matmul + lexsort top-k)
    must produce identical output across evaluations — the lexsort
    tie-break on candidate id is what pins it; argpartition-style
    unstable selection would flake the driver's hash."""
    from tests.conftest import SF_SMOKE

    from arkflow_spark.queries import QUERIES

    a = QUERIES["embedding_hubness_knn"](spark, SF_SMOKE).collect()
    b = QUERIES["embedding_hubness_knn"](spark, SF_SMOKE).collect()
    assert a == b
    assert a[0]["n_vectors"] > 0
