"""Streaming drift monitoring: per-micro-batch KS/PSI/EMD vs the fixed
baseline.

Late-arriving data can drift long after the batch validation ran; this
operator re-expresses B7/B8 over an unbounded source. Each micro-batch's
per-partition histograms are scored against the same analytic baseline via
the shared ``file_monitor`` scaffold reusing the batch drift kernel — one
code path for both modes, verdicts appended to the same parquet sink shape.
The baseline is resolved once, when the monitor starts: a micro-batch runs
only its own histogram and kernel, no baseline job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from sat_val_framework_spark import profile
from sat_val_framework_spark.fixtures import DOCUMENTS_SCHEMA
from sat_val_framework_spark.operators.drift import drift_check, resolve_baseline
from sat_val_framework_spark.streaming._monitor import file_monitor


def streaming_drift(
    spark: SparkSession,
    input_path: str,
    baseline,
    sink_path: str,
    column: str = "n_spans",
    ks_threshold: float = 0.15,
    psi_threshold: float = 0.2,
    emd_threshold: float = 1.0,
    stats: tuple[str, ...] = ("ks", "psi"),
    max_files: int = 4,
) -> StreamingQuery:
    """Score each micro-batch's documents against the baseline; verdict rows
    (+ epoch_id) append to ``sink_path``. Per-batch semantics: a batch that
    drifts fails for that batch — lineage keeps the history. ``stats``
    selects which of the kernel's siblings (ks/psi/emd) emit verdicts,
    exactly as in the batch ``drift_check`` — all come from the same
    single-pass histogram either way. ``baseline`` is a Spark or pandas
    baseline_stats frame; a column it has no rows for raises ValueError
    here, before the stream starts."""
    series_fn = {"n_spans": profile.n_spans_series, "text_len": profile.text_len_series}[column]
    resolved = resolve_baseline(baseline, column)

    def score(batch: DataFrame) -> DataFrame:
        verdicts, _scores = drift_check(
            series_fn(batch),
            resolved,
            column,
            ks_threshold=ks_threshold,
            psi_threshold=psi_threshold,
            emd_threshold=emd_threshold,
            stats=stats,
        )
        return verdicts

    return file_monitor(spark, input_path, DOCUMENTS_SCHEMA, sink_path, score, max_files)
