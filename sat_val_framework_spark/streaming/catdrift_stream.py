"""Streaming categorical-drift monitoring: per-micro-batch tv/js of an
unordered column's distribution vs the fixed configured baseline.

The streaming twin of the round-4 'drift_categorical' suite kind: a surge
of one span kind (or a new language code) hours after the batch run must
still flag. Each micro-batch is scored with the BATCH
categorical drift scores and verdict builder through the shared
``file_monitor`` scaffold — one code path both modes, verdict rows
(+ epoch_id) appended to the same parquet sink shape as the other monitors.
The baseline is validated once, when the monitor starts, not per
micro-batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from sat_val_framework_spark.fixtures import DOCUMENTS_SCHEMA
from sat_val_framework_spark.operators.drift import (
    categorical_drift_scores,
    categorical_verdicts_from_scores,
    require_baseline_cat,
)
from sat_val_framework_spark.streaming._monitor import file_monitor


def streaming_categorical_drift(
    spark: SparkSession,
    input_path: str,
    baseline_cat: DataFrame,
    sink_path: str,
    column: str = "kind",
    tv_threshold: float = 0.1,
    js_threshold: float | None = None,
    max_files: int = 4,
) -> StreamingQuery:
    """Score each micro-batch's span-kind mix (or a top-level column's
    values) against the categorical baseline; verdict rows (+ epoch_id)
    append to ``sink_path``. Same series conventions as the runner's
    'drift_categorical' dispatch: NULL kinds become the '<NULL>' sentinel
    category, span-less docs contribute presence markers so an empty
    partition gets its typed EmptySeriesError verdict per epoch. A
    ``column`` with no baseline rows raises ValueError here, before the
    stream starts."""
    require_baseline_cat(baseline_cat, column)

    def score(batch: DataFrame) -> DataFrame:
        if column == "kind":
            kinds = F.transform(
                F.col("spans"), lambda s: F.coalesce(s["kind"], F.lit("<NULL>"))
            )
            series = batch.select(
                F.col("part_id"), F.explode_outer(kinds).alias("value")
            )
        else:
            series = batch.select(
                "part_id",
                F.coalesce(F.col(column).cast("string"), F.lit("<NULL>")).alias("value"),
            )
        scores = categorical_drift_scores(series, baseline_cat, column)
        return categorical_verdicts_from_scores(
            scores, f"drift_categorical:{column}", tv_threshold, js_threshold
        )

    return file_monitor(spark, input_path, DOCUMENTS_SCHEMA, sink_path, score, max_files)
