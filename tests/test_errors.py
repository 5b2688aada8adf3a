"""Typed errors-as-values: a check that cannot evaluate emits status=ERROR
verdict rows with an error_kind tag — the engine twin of the reference's
``return_caught_errors`` + ``LoadingErrors`` vocabulary
(/root/reference/sat_val_framework/implement.py:18-56). No exception may
escape ``run_suite``; a resumed run retries exactly the errored pairs."""

import pytest
from pyspark.sql import functions as F

from sat_val_framework_spark import fixtures as fx
from sat_val_framework_spark.runner import run_suite
from sat_val_framework_spark.suite import Check, CheckSuite
from sat_val_framework_spark.verdicts import (
    ERR_EMPTY_SERIES,
    ERR_MISSING_INPUT,
    ERROR,
)


def test_missing_catalog_yields_error_verdicts_not_raise(spark, docs):
    suite = CheckSuite(checks=[
        Check("ref", "spans.media_ref", {"dim_table_alias": "media_catalog"}),
    ])
    res = run_suite(spark, docs, suite, catalog=None)  # the dim table is MISSING
    rows = res.verdicts.collect()
    assert rows, "must emit verdicts, not raise"
    assert all(r["status"] == ERROR for r in rows)
    assert all(r["error_kind"] == ERR_MISSING_INPUT for r in rows)
    # one ERROR verdict per partition — per-granule granularity survives
    assert {r["part_id"] for r in rows} == set(range(fx.N_PARTS))
    assert any("catalog" in (r["sample_violations"] or [""])[0] for r in rows)


def test_raise_on_error_restores_fail_fast(spark, docs):
    suite = CheckSuite(checks=[Check("ref", "spans.media_ref", {"dim_table_alias": "media_catalog"})])
    with pytest.raises(ValueError):
        run_suite(spark, docs, suite, catalog=None, raise_on_error=True)


def test_error_pairs_are_retried_on_resume(spark, docs, catalog, tmp_path):
    """A retryable ERROR (missing input) does NOT count as done: after the
    environment is fixed, the same run_id re-evaluates exactly those pairs
    and the newest (now PASS/FAIL) row supersedes on read."""
    from sat_val_framework_spark import checkpoint as ckpt

    suite = CheckSuite(checks=[Check("ref", "spans.media_ref", {"dim_table_alias": "media_catalog"})])
    path = str(tmp_path / "ck")
    r1 = run_suite(spark, docs, suite, catalog=None, checkpoint_path=path, run_id="e1")
    assert all(r["status"] == ERROR for r in r1.verdicts.collect())
    # fix the environment: provide the catalog, resume the same run
    r2 = run_suite(spark, docs, suite, catalog=catalog, checkpoint_path=path, run_id="e1")
    assert r2.verdicts.count() == fx.N_PARTS  # every pair retried
    final = ckpt.read_checkpoint(spark, path).filter(F.col("run_id") == "e1")
    statuses = {r["status"] for r in final.collect()}
    assert ERROR not in statuses  # newest row wins: errors superseded
    # and now a further resume is a noop
    r3 = run_suite(spark, docs, suite, catalog=catalog, checkpoint_path=path, run_id="e1")
    assert r3.verdicts.count() == 0


def test_broken_checkpoint_sink_degrades_to_in_memory_error_verdicts(spark, docs, catalog, baseline, tmp_path):
    """When the checkpoint sink itself is unwritable, the error-verdict
    re-emit must not raise out of run_suite (ADVICE r2): every check degrades
    to an in-memory ERROR verdict and the pairs stay pending for retry."""
    from sat_val_framework_spark.runner import DEFAULT_SUITE, run_suite

    blocker = tmp_path / "not_a_dir"
    blocker.write_text("plain file, not a directory")
    res = run_suite(
        spark, docs, DEFAULT_SUITE,
        catalog=catalog, baseline=baseline,
        checkpoint_path=str(blocker / "ckpt"),  # parent is a file -> appends fail
        run_id="broken-sink",
    )
    rows = res.verdicts.collect()
    assert rows, "verdicts must still be returned in memory"
    assert all(r["status"] == "ERROR" for r in rows)
    assert all(r["error_kind"] is not None for r in rows)


def test_drift_sibling_errors_cover_both_constraints(spark, docs):
    """A failure in the shared drift pass yields ERROR rows for EVERY
    configured sibling, each with its own params_json."""
    suite = CheckSuite(checks=[
        Check("drift_ks", "n_spans", {"threshold": 0.15}),
        Check("drift_psi", "n_spans", {"threshold": 0.2}),
    ])
    res = run_suite(spark, docs, suite, baseline=None)  # baseline MISSING
    rows = res.verdicts.collect()
    cids = {r["constraint_id"] for r in rows}
    assert cids == {"drift_ks:n_spans", "drift_psi:n_spans"}
    assert all(r["status"] == ERROR for r in rows)
    pj = {r["constraint_id"]: r["params_json"] for r in rows}
    assert "0.15" in pj["drift_ks:n_spans"] and "0.2" in pj["drift_psi:n_spans"]


def test_drift_emits_only_requested_sibling(spark, docs, baseline):
    """A suite configuring ONLY drift_ks must not gain drift_psi verdicts
    with a default threshold (ADVICE r1)."""
    suite = CheckSuite(checks=[Check("drift_ks", "n_spans", {"threshold": 0.15})])
    res = run_suite(spark, docs, suite, baseline=baseline)
    cids = {r["constraint_id"] for r in res.verdicts.collect()}
    assert cids == {"drift_ks:n_spans"}


def test_empty_series_partition_gets_error_verdict(spark):
    """A partition whose docs all have NULL spans has no text_len series —
    drift must emit a typed EmptySeriesError verdict for it, not silently
    drop the (constraint, partition) pair (ADVICE r1)."""
    base = fx.documents_df(spark, 400, n_parts=4)
    docs2 = base.withColumn(
        "spans",
        F.when(F.col("part_id") == 2, F.lit(None).cast(fx.DOCUMENTS_SCHEMA["spans"].dataType))
        .otherwise(F.col("spans")),
    )
    suite = CheckSuite(checks=[Check("drift_ks", "text_len", {"threshold": 0.15})])
    res = run_suite(spark, docs2, suite, baseline=fx.baseline_stats_df(spark))
    by_part = {r["part_id"]: r for r in res.verdicts.collect()}
    assert set(by_part) == {0, 1, 2, 3}  # EVERY partition has a verdict
    assert by_part[2]["status"] == ERROR
    assert by_part[2]["error_kind"] == ERR_EMPTY_SERIES
    assert all(by_part[p]["status"] != ERROR for p in (0, 1, 3))


def test_empty_series_error_counts_done_on_resume(spark, tmp_path):
    """EmptySeriesError is data-inherent: it counts as done so resume stays
    a noop (no forever-pending pair)."""
    base = fx.documents_df(spark, 400, n_parts=4)
    docs2 = base.withColumn(
        "spans",
        F.when(F.col("part_id") == 2, F.lit(None).cast(fx.DOCUMENTS_SCHEMA["spans"].dataType))
        .otherwise(F.col("spans")),
    )
    suite = CheckSuite(checks=[Check("drift_ks", "text_len", {"threshold": 0.15})])
    path = str(tmp_path / "ck")
    run_suite(spark, docs2, suite, baseline=fx.baseline_stats_df(spark),
              checkpoint_path=path, run_id="s1")
    r2 = run_suite(spark, docs2, suite, baseline=fx.baseline_stats_df(spark),
                   checkpoint_path=path, run_id="s1")
    assert r2.verdicts.count() == 0


def test_summarize_verdicts_rollup(spark):
    """One row per constraint: status counts, pass_rate, violation totals
    over NON-ERROR rows only, deterministic worst group (ties -> lowest),
    NULL worst for fully-passing and all-ERROR constraints."""
    from sat_val_framework_spark.verdicts import summarize_verdicts

    rows = [
        # c1: two FAILs (tie at 5 violations -> worst = lower part), one PASS
        ("c1", 2, "FAIL", 5), ("c1", 7, "FAIL", 5), ("c1", 1, "PASS", 0),
        # c2: all pass
        ("c2", 1, "PASS", 0), ("c2", 2, "PASS", 0),
        # c3: one ERROR (violation_count=1 is the marker, not a count) + one FAIL
        ("c3", 4, "ERROR", 1), ("c3", 5, "FAIL", 3),
        # c4: all ERROR
        ("c4", 9, "ERROR", 1),
    ]
    v = spark.createDataFrame(
        rows, "constraint_id string, part_id int, status string, violation_count long")
    out = {r["constraint_id"]: r for r in summarize_verdicts(v).collect()}
    c1 = out["c1"]
    assert (c1["n_groups"], c1["n_pass"], c1["n_fail"], c1["n_error"]) == (3, 1, 2, 0)
    assert c1["total_violations"] == 10 and c1["max_violations"] == 5
    assert c1["worst_group"] == "2" and abs(c1["pass_rate"] - 0.333333) < 1e-6
    assert out["c2"]["worst_group"] is None and out["c2"]["pass_rate"] == 1.0
    c3 = out["c3"]
    assert (c3["n_error"], c3["total_violations"], c3["worst_group"]) == (1, 3, "5")
    c4 = out["c4"]
    assert (c4["n_error"], c4["total_violations"], c4["max_violations"]) == (1, 0, 0)
    assert c4["worst_group"] is None and c4["pass_rate"] == 0.0


def test_execution_time_failure_is_a_retryable_error_verdict(spark, docs, catalog, tmp_path):
    """A plan that fails only when it runs — here the catalog's parquet
    files are deleted after ``spark.read`` — yields typed, retryable ERROR
    verdicts on a run WITHOUT checkpoint_path: each check runs inside
    run_suite, so the failure cannot surface later from the caller's
    action (ADVICE r6)."""
    import shutil

    from sat_val_framework_spark.verdicts import ERR_FILE_NOT_FOUND, RETRYABLE_ERROR_KINDS

    src = str(tmp_path / "catalog")
    catalog.write.parquet(src)
    gone = spark.read.parquet(src)
    shutil.rmtree(src)
    suite = CheckSuite(checks=[
        Check("ref", "spans.media_ref", {"dim_table_alias": "media_catalog", "strategy": "broadcast"}),
    ])
    res = run_suite(spark, docs, suite, catalog=gone)
    rows = res.verdicts.collect()
    assert {r["part_id"] for r in rows} == set(range(fx.N_PARTS))
    assert all(r["status"] == ERROR for r in rows)
    assert all(r["error_kind"] == ERR_FILE_NOT_FOUND for r in rows)
    assert ERR_FILE_NOT_FOUND in RETRYABLE_ERROR_KINDS
