"""Shared fixtures: one local SparkSession per test session, a seeded
documents table (Spark) and its pandas oracle twin computed independently."""

from __future__ import annotations

import uuid

import numpy as np
import pandas as pd
import pytest

from sat_val_framework_spark import fixtures as fx
from sat_val_framework_spark.session import get_spark

N_DOCS = 4_000  # 250 docs/partition: KS sampling noise ~0.09 << drift 0.33
N_PARTS = fx.N_PARTS


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def docs(spark):
    return fx.documents_df(spark, N_DOCS).cache()


@pytest.fixture(scope="session")
def catalog(spark):
    return fx.media_catalog_df(spark)


@pytest.fixture(scope="session")
def baseline(spark):
    return fx.baseline_stats_df(spark)


@pytest.fixture(scope="session")
def baseline_cat(spark):
    return fx.baseline_kinds_df(spark)


@pytest.fixture(scope="session")
def docs_pd() -> pd.DataFrame:
    return fx.documents_pandas(N_DOCS)


@pytest.fixture(scope="session")
def oracle(docs_pd) -> dict:
    """Exact expected per-partition facts, computed with plain pandas/numpy —
    never via Spark — so Spark results are checked against independent math."""
    exp: dict = {
        "rows_per_part": docs_pd.groupby("part_id").size().to_dict(),
        "null_spans_per_part": docs_pd[docs_pd.spans.isna()].groupby("part_id").size().to_dict(),
    }

    # uniqueness: rows whose doc_id occurs >1 times, attributed per partition
    counts = docs_pd.groupby("doc_id").size()
    dup_ids = set(counts[counts > 1].index)
    dup_rows = docs_pd[docs_pd.doc_id.isin(dup_ids)]
    exp["dup_rows_per_part"] = dup_rows.groupby("part_id").size().to_dict()
    exp["dup_ids"] = dup_ids

    # referential: media spans whose ref is absent from the catalog
    valid_refs = {"m-%06d" % k for k in range(fx.N_MEDIA)}
    orphan_rows = []
    for rec in docs_pd.itertuples():
        if rec.spans is None:
            continue
        for s in rec.spans:
            if s["kind"] != "text" and s["media_ref"] not in valid_refs:
                orphan_rows.append((rec.part_id, s["media_ref"]))
    orph = pd.DataFrame(orphan_rows, columns=["part_id", "media_ref"])
    exp["orphans_per_part"] = (
        orph.groupby("part_id").size().to_dict() if len(orph) else {}
    )

    # per-partition n_spans stats
    ns = docs_pd.assign(
        n_spans=docs_pd.spans.map(lambda s: len(s) if s is not None else np.nan)
    )
    g = ns.groupby("part_id").n_spans
    exp["n_spans_min"] = g.min().to_dict()
    exp["n_spans_max"] = g.max().to_dict()
    exp["n_spans_nulls"] = ns.n_spans.isna().groupby(ns.part_id).sum().to_dict()

    # drift scores per partition vs the analytic baselines (same binning)
    def hist_scores(values: pd.Series, lo0: float, width: float, n_bins: int, ref: np.ndarray):
        b = np.clip(((values - lo0) // width).astype(int), 0, n_bins - 1)
        cnt = np.bincount(b, minlength=n_bins).astype(float)
        p = cnt / max(cnt.sum(), 1)
        ks = float(np.abs(np.cumsum(p) - np.cumsum(ref)).max())
        pc = np.clip(p, 1e-6, None)
        qc = np.clip(ref, 1e-6, None)
        psi = float(((pc - qc) * np.log(pc / qc)).sum())
        return ks, psi

    ref_ns = np.zeros(fx.N_BINS)
    ref_ns[1:13] = 1 / 12
    ref_tl = np.zeros(fx.N_BINS)
    ref_tl[2:22] = 10 / 200
    ks_ns, psi_ns, ks_tl, psi_tl = {}, {}, {}, {}
    for p_id, grp in ns.dropna(subset=["n_spans"]).groupby("part_id"):
        ks_ns[p_id], psi_ns[p_id] = hist_scores(grp.n_spans, 0.0, 1.0, fx.N_BINS, ref_ns)
    tl_rows = []
    for rec in docs_pd.itertuples():
        if rec.spans is None:
            continue
        for s in rec.spans:
            if s["kind"] == "text":
                tl_rows.append((rec.part_id, len(s["text"])))
    tl = pd.DataFrame(tl_rows, columns=["part_id", "text_len"])
    for p_id, grp in tl.groupby("part_id"):
        ks_tl[p_id], psi_tl[p_id] = hist_scores(grp.text_len, 0.0, 10.0, fx.N_BINS, ref_tl)
    exp["ks_n_spans"], exp["psi_n_spans"] = ks_ns, psi_ns
    exp["ks_text_len"], exp["psi_text_len"] = ks_tl, psi_tl
    return exp


def verdict_map(vdf: pd.DataFrame) -> dict:
    """(constraint_id, part_id) -> (status, violation_count)."""
    return {
        (r.constraint_id, r.part_id): (r.status, r.violation_count)
        for r in vdf.itertuples()
    }


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` runs ``fn()`` under a fresh Spark job group and
    returns (its result, the number of jobs it launched), read from
    ``sc.statusTracker().getJobIdsForGroup`` once the listener bus has
    delivered every event (the tracker is fed asynchronously, so a job
    could otherwise go uncounted)."""
    sc = spark.sparkContext

    def run(fn):
        group = f"count_jobs-{uuid.uuid4().hex[:8]}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
