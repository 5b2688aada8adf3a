"""Seeded documents table for the benchmark workloads.

Same shape and injected-violation rates as ``fixtures.documents_df``: 0.1%
duplicate ids, 0.2% dangling media refs, 0.05% NULL span arrays and one
drifted partition. Every value derives from integer arithmetic on the row
index and the seed, so a seed gives the same table at any parallelism. The
seed moves the mixer and the positions of the injected violations; seed 42
reproduces ``fixtures.documents_df`` exactly (``python3 -m perfbench.docgen``
checks that).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from sat_val_framework_spark.fixtures import DOCUMENTS_SCHEMA, DRIFT_PART, MOD, N_MEDIA, N_PARTS
from sat_val_framework_spark.fixtures import SEED as FIXTURE_SEED


def _mix(i: Column, j: Column | int, tag: int, seed: int) -> Column:
    jj = F.lit(j) if isinstance(j, int) else j
    h = F.pmod(
        i * F.lit(1_000_003) + jj.cast("long") * F.lit(7_919) + F.lit(tag * 104_729 + seed * 999_983),
        F.lit(MOD),
    )
    return F.pmod(h * h + h, F.lit(MOD))


def documents(spark: SparkSession, n_docs: int, seed: int, n_parts: int = N_PARTS) -> DataFrame:
    """``n_docs`` documents over ``n_parts`` partitions for ``seed``."""
    shift = (seed - FIXTURE_SEED) % 2000
    i = F.col("id")
    k = i + F.lit(shift)  # violation positions move with the seed
    drifted = (i % n_parts) == F.lit((DRIFT_PART + seed - FIXTURE_SEED) % n_parts)
    n_spans = (
        F.lit(1) + _mix(i, 0, 1, seed) % 12 + F.when(drifted, F.lit(4)).otherwise(F.lit(0))
    ).cast("int")

    def span(j: Column) -> Column:
        kind_h = _mix(i, j, 2, seed)
        is_text = kind_h % 10 < 7
        kind = (
            F.when(is_text, F.lit("text"))
            .when(kind_h % 2 == 0, F.lit("image"))
            .otherwise(F.lit("audio"))
        )
        text_len = (F.when(drifted, F.lit(120)).otherwise(F.lit(20)) + _mix(i, j, 4, seed) % 200).cast("int")
        text = F.when(
            is_text, F.rpad(F.format_string("t-%d-%d-", i, j.cast("long")), text_len, "x")
        ).otherwise(F.lit(None).cast("string"))
        media_ref = F.when(is_text, F.lit(None).cast("string")).otherwise(
            F.when(k % 500 == F.lit(3), F.format_string("m-missing-%d", i)).otherwise(
                F.format_string("m-%06d", _mix(i, j, 3, seed) % N_MEDIA)
            )
        )
        return F.struct(
            kind.alias("kind"),
            text.alias("text"),
            media_ref.alias("media_ref"),
            j.cast("int").alias("offset"),
        )

    spans = F.transform(F.sequence(F.lit(0), n_spans - 1), span)
    dup = (k % 1000 == F.lit(7)) & (i > 0)
    null_spans = k % 2000 == F.lit(11)
    return spark.range(n_docs).select(
        F.when(dup, F.format_string("doc-%08d", i - 1))
        .otherwise(F.format_string("doc-%08d", i))
        .alias("doc_id"),
        (i % n_parts).cast("int").alias("part_id"),
        F.when(null_spans, F.lit(None).cast(DOCUMENTS_SCHEMA["spans"].dataType))
        .otherwise(spans)
        .alias("spans"),
    )


if __name__ == "__main__":
    import sys

    from sat_val_framework_spark.fixtures import documents_df
    from sat_val_framework_spark.session import get_spark

    spark = get_spark(master="local[2]", extra_conf={"spark.ui.showConsoleProgress": "false"})
    try:
        n = 20_000
        ours, theirs = documents(spark, n, FIXTURE_SEED), documents_df(spark, n)
        same = (
            ours.schema == theirs.schema
            and ours.exceptAll(theirs).isEmpty()
            and theirs.exceptAll(ours).isEmpty()
        )
        other = documents(spark, n, 7)
        moved = not other.exceptAll(theirs).isEmpty()
    finally:
        spark.stop()
    print(f"seed {FIXTURE_SEED} equals fixtures.documents_df: {same}; seed 7 differs: {moved}")
    sys.exit(0 if same and moved else 1)
