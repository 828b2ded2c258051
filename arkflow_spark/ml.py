"""MLlib integration — the north-star "Structured Streaming with ML
integration via MLlib" surface.

The reference markets "AI integration" but ships no ML operators (its
surface is the SQL/VRL/python processors; SURVEY §2.3) — so this module is
beyond-reference capability, built the Spark-native way:

- feature pipelines: ``tfidf_pipeline`` (RegexTokenizer → HashingTF → IDF),
  the hashed scale path for text featurization (fixed-width vectors, no
  vocabulary shuffle; the exact small-vocab variant is the oracled
  ``text_tfidf`` query in :mod:`arkflow_spark.queries.ml_q`);
- IVF coarse quantizers: ``fit_kmeans_ivf`` learns nlist centroids with
  MLlib KMeans instead of reusing data labels (``ann_ivf_assign`` is the
  label-centroid variant with a DuckDB oracle; KMeans is what you run when
  labels don't exist);
- streaming inference: any fitted ``PipelineModel``/clustering model's
  ``transform`` applies directly to a Structured Streaming DataFrame —
  MLlib transformers are row-local, so the scoring stage is narrow (no
  shuffle, no state) and scales with input splits.

Scale notes: HashingTF avoids the vocabulary-build shuffle entirely
(hashing trick), so fit() only aggregates the IDF vector (one treeAggregate
over document frequencies); KMeans cost is dominated by k×dim broadcast per
iteration — both are the standard 100 TB-safe shapes.
"""

from __future__ import annotations

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.clustering import KMeans, KMeansModel
from pyspark.ml.feature import IDF, HashingTF, RegexTokenizer
from pyspark.ml.functions import array_to_vector, vector_to_array
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# letter-run terms (>=2 chars), shared with the oracled text_tfidf query
TERM_RE = "[a-z]{2,}"


def tfidf_pipeline(
    input_col: str = "text",
    output_col: str = "features",
    num_features: int = 1 << 18,
) -> Pipeline:
    """Unfitted TF-IDF feature pipeline (hashing trick → no vocabulary
    shuffle; fit() computes only the IDF document-frequency vector)."""
    return Pipeline(
        stages=[
            RegexTokenizer(
                inputCol=input_col,
                outputCol="__terms",
                pattern=TERM_RE,
                gaps=False,
                toLowercase=True,
            ),
            HashingTF(
                inputCol="__terms", outputCol="__tf", numFeatures=num_features
            ),
            IDF(inputCol="__tf", outputCol=output_col),
        ]
    )


def fit_kmeans_ivf(
    df: DataFrame,
    k: int = 8,
    seed: int = 42,
    embedding_col: str = "embedding",
) -> KMeansModel:
    """Learn ``k`` IVF centroids from an ``array<float>`` column with MLlib
    KMeans (fixed seed → deterministic local runs). Use when no label/bucket
    structure exists; ``ann_ivf_assign`` covers the labeled case."""
    vec = df.withColumn(embedding_col, array_to_vector(F.col(embedding_col)))
    km = KMeans(
        k=k, seed=seed, featuresCol=embedding_col, predictionCol="bucket"
    )
    return km.fit(vec)


def assign_buckets(
    model: KMeansModel, df: DataFrame, embedding_col: str = "embedding"
) -> DataFrame:
    """Assign every vector to its nearest learned centroid (the IVF index
    build). Narrow stage: centroids ship with the plan, no shuffle."""
    vec = df.withColumn(embedding_col, array_to_vector(F.col(embedding_col)))
    return model.transform(vec)


__all__ = [
    "Pipeline",
    "PipelineModel",
    "array_to_vector",
    "assign_buckets",
    "fit_kmeans_ivf",
    "tfidf_pipeline",
    "vector_to_array",
]
