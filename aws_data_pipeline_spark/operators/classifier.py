"""Trained quality classification (the GPT-3/CCNet-style filter family).

Rule gates (``text.gopher_quality_flags``) and statistical tilts
(``sampling.dsir_log_weights``) are closed-form; the third production
filter is a TRAINED classifier: logistic regression over hashed
token-count features, positives = a trusted slice (curated corpus, target
domain), negatives = the raw pool, score = P(looks like the target).

Spark-first shape:
- featurization is pure JVM Column algebra — explode tokens, md5 bucket
  (the shared portable hash), per-doc bucket counts scattered into a
  fixed-width array via ``map_from_entries`` + ``transform(sequence)``,
  then ``array_to_vector``; no Python UDF anywhere;
- training is Spark ML ``LogisticRegression`` — a bounded iterative job
  over partial gradient aggregates (each iteration is one pass of
  map-side gradient sums). At 100 TB you fit on a SAMPLE (a classifier
  needs thousands of examples, not billions — ``train_frac``) and SCORE
  the full corpus with the fitted model, which is a stateless map-side
  projection;
- scoring broadcasts the coefficient vector inside the model transform —
  no shuffle at all.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from aws_data_pipeline_spark.functions.portable import md5_prefix_long
from aws_data_pipeline_spark.operators import lit_array, widen_narrow_input
from aws_data_pipeline_spark.operators.text import tokens

# feature width; the fit and the scoring must featurize alike
N_BUCKETS = 256


def bucket_count_features(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, features: ml Vector) — per-doc hashed token-count vectors.

    Rows with NULL text — and rows whose text yields only EMPTY tokens
    (``''``, the artifact the single-space split produces for empty
    strings and consecutive spaces) — are ABSENT from the output (and
    therefore from every score): an empty token is not evidence, and
    counting it would systematically inflate one pseudo-random bucket in
    both training and scoring. Callers must left-join scores and decide a
    policy for unscored documents.

    All JVM: the (bucket -> count) map scatters into a dense fixed-width
    array with ``transform(sequence(...))``, so the only shuffle is the
    per-doc groupBy. Buckets use the shared portable md5 hash, so the
    SAME featurizer serves DSIR and this classifier — weights learned
    here are comparable across engines re-deriving the features.
    """
    from pyspark.ml.functions import array_to_vector

    bucket = F.pmod(md5_prefix_long(F.col("tok")), F.lit(N_BUCKETS))
    counts = (
        widen_narrow_input(df)
        .select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok"))
        .filter(F.col("tok") != "")
        .select(id_col, bucket.alias("bucket"))
        .groupBy(id_col, "bucket")
        .agg(F.count("*").alias("c"))
        .groupBy(id_col)
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("bucket"), F.col("c")))
            ).alias("m")
        )
    )
    # element_at on a MAP is key lookup (1-based indexing applies to
    # arrays only) — the keys are the bucket ids themselves
    arr = F.transform(
        F.sequence(F.lit(0), F.lit(N_BUCKETS - 1)),
        lambda i: F.coalesce(
            F.element_at(F.col("m"), i.cast("long")), F.lit(0)
        ).cast("double"),
    )
    return counts.select(id_col, array_to_vector(arr).alias("features"))


def train_quality_classifier(
    df: DataFrame,
    is_positive: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_iter: int = 50,
    train_frac: float = 1.0,
):
    """Fit the LR quality model; returns the fitted Spark ML model.

    ``train_frac`` is the 100 TB lever: sample the labeled frame before
    the fit (a linear model saturates at thousands of examples per class),
    keeping every training iteration's pass proportional to the sample,
    never the corpus.
    """
    from pyspark.ml.classification import LogisticRegression

    labeled = df.select(
        F.col(id_col), F.col(text_col), is_positive.cast("double").alias("label")
    )
    if train_frac < 1.0:
        labeled = labeled.sample(fraction=train_frac, seed=42)
    # loud empty-input contract (same as the index trainers): a model fit
    # on nothing is a caller error, not a Summarizer crash inside L-BFGS.
    # Probed on the PRE-feature frame (scorable = non-null text) so the
    # guard never runs the featurization join twice.
    if labeled.where(F.col(text_col).isNotNull()).isEmpty():
        raise ValueError(
            "train_quality_classifier: no scorable training documents"
        )
    feats = bucket_count_features(labeled, id_col, text_col)
    train = feats.join(labeled.select(id_col, "label"), id_col)
    lr = LogisticRegression(
        featuresCol="features",
        labelCol="label",
        regParam=0.01,
        maxIter=max_iter,
        standardization=True,
    )
    return lr.fit(train)


def score_quality(
    model,
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, p_target) per scorable document (NULL-text rows are absent —
    see bucket_count_features) — stateless map-side scoring. The fitted
    coefficients are extracted to LITERALS and the sigmoid margin is
    computed with column functions (zip_with dot product inside codegen):
    scoring never ships the model object into a task closure. That is
    both the scale posture (no JVM model deserialization per task; pure
    whole-stage codegen arithmetic) and a correctness guard — a Spark ML
    model fresh from ``fit`` carries its training summary, which holds
    the live SparkSession, and serializing THAT into a closure breaks as
    soon as anything non-serializable (an ObservationManager, say) has
    been initialized on the session. Binary-LR probability is exactly
    ``sigmoid(w·x + b)`` with coefficients already in the original
    feature space (Spark ML rescales after a standardized fit), so this
    matches ``model.transform`` to float arithmetic."""
    from pyspark.ml.functions import vector_to_array

    coef = [float(c) for c in model.coefficients]
    intercept = float(model.intercept)
    feats = bucket_count_features(df, id_col, text_col)
    margin = F.aggregate(
        F.zip_with(
            vector_to_array(F.col("features")),
            lit_array(coef, "double"),
            lambda x, w: x * w,
        ),
        F.lit(intercept),
        lambda acc, v: acc + v,
    )
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))
    return feats.select(id_col, p.alias("p_target"))
