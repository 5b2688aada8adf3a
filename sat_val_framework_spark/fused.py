"""Fused suite execution: the whole DEFAULT_SUITE in three scans.

SURVEY.md §4 flags multi-constraint scan sharing as the one optimization
Catalyst cannot do for us: eight independent check plans mean eight scans
of the documents table and ~20 sequential stage waves. This module fuses
the suite into the minimal set of passes, emitting verdict rows identical
to the modular runner (tested):

- **Pass A (doc-level)**: ONE ``groupBy(part_id)`` hash-agg computes the
  schema assertion counters, per-column stats, AND the n_spans histogram
  (one ``sum(when(bin==b,1))`` per bin — n_bins extra agg expressions, not
  an extra shuffle). Whole-stage codegen keeps it one pipeline.
- **Pass B (span-level)**: ONE ``posexplode`` + broadcast catalog join +
  ``groupBy(part_id)`` computes the text_len histogram AND the media_ref
  orphan counters in the same aggregation — the two span consumers share
  the explode instead of re-scanning.
- **Pass C**: doc_id uniqueness AND the fd:doc_id->part_id dependency from
  ONE two-level aggregate (its own shuffle by key, unavoidable — but both
  global constraints share it).

KS/PSI still run through the vectorized applyInPandas kernel (north-star
requirement) over the unpivoted histogram rows — Python sees n_parts x
n_bins rows, nothing more. The drift baselines are read through the same
``operators.drift.resolve_baseline`` the modular runner uses.

With a checkpoint, the passes' verdict rows run once: they are
materialized (eager ``localCheckpoint``), appended with lineage, and the
same rows are returned.

Contract citations as in the modular operators (reference
/root/reference/sat_val_framework/implement.py:100-118,140-190).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sat_val_framework_spark.fixtures import DOCUMENTS_SCHEMA
from sat_val_framework_spark.operators.drift import _EPS, resolve_baseline
from sat_val_framework_spark.operators.stats import _norm_type
from sat_val_framework_spark.verdicts import (
    ERR_EMPTY_SERIES,
    ERROR,
    FAIL,
    PASS,
    merged_samples,
    sample_col,
)


def _bin(col, lo0: float, width: float, n_bins: int):
    return F.least(
        F.greatest(F.floor((col.cast("double") - F.lit(lo0)) / F.lit(width)), F.lit(0)),
        F.lit(n_bins - 1),
    ).cast("int")


def _drift_kernel(ref: np.ndarray, col_name: str, ks_thr: float, psi_thr: float):
    ref_cum = ref.cumsum()
    n_bins = len(ref)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        counts = np.zeros(n_bins)
        counts[pdf["bin_id"].to_numpy()] = pdf["c"].to_numpy()
        n = counts.sum()
        part = int(pdf["part_id"].iloc[0])
        if n == 0:
            # zero observations: drift is undefined — a typed ERROR verdict,
            # same semantics as the modular drift_check (errors-as-values)
            return pd.DataFrame(
                {
                    "constraint_id": [f"drift_ks:{col_name}", f"drift_psi:{col_name}"],
                    "part_id": [part, part],
                    "status": [ERROR, ERROR],
                    "error_kind": [ERR_EMPTY_SERIES, ERR_EMPTY_SERIES],
                    "rows_scanned": [0, 0],
                    "violation_count": [1, 1],
                }
            )
        p = counts / n
        ks = float(np.abs(p.cumsum() - ref_cum).max())
        pc = np.clip(p, _EPS, None)
        qc = np.clip(ref, _EPS, None)
        psi = float(((pc - qc) * np.log(pc / qc)).sum())
        return pd.DataFrame(
            {
                "constraint_id": [f"drift_ks:{col_name}", f"drift_psi:{col_name}"],
                "part_id": [part, part],
                "status": [FAIL if ks > ks_thr else PASS, FAIL if psi > psi_thr else PASS],
                "error_kind": [None, None],
                "rows_scanned": [int(n), int(n)],
                "violation_count": [int(ks > ks_thr), int(psi > psi_thr)],
            }
        )

    return kernel


def _hist_verdicts(
    wide: DataFrame,
    prefix: str,
    n_bins: int,
    ref: np.ndarray,
    col_name: str,
    ks_thr: float,
    psi_thr: float,
) -> DataFrame:
    """Unpivot the n_bins histogram columns to (part_id, bin_id, c) rows and
    run the Arrow drift kernel."""
    stack = ", ".join(f"{b}, `{prefix}{b}`" for b in range(n_bins))
    hist = wide.selectExpr("part_id", f"stack({n_bins}, {stack}) as (bin_id, c)")
    out = hist.groupBy("part_id").applyInPandas(
        _drift_kernel(ref, col_name, ks_thr, psi_thr),
        schema="constraint_id string, part_id int, status string, error_kind string, "
        "rows_scanned long, violation_count long",
    )
    return out.withColumn("sample_violations", F.array().cast("array<string>"))


FUSED_CONSTRAINT_IDS = [
    "schema_assert",
    "stats:n_spans",
    "drift_ks:n_spans",
    "drift_psi:n_spans",
    "ref:media_ref",
    "drift_ks:text_len",
    "drift_psi:text_len",
    "unique:doc_id",
    "profile:n_spans",
    "fd:doc_id->part_id",
    "quantile:n_spans",
    "drift_categorical:kind",
    "span_grammar:spans",
]

# fused profile counters cover n_spans values 0..PROFILE_DOMAIN-1 exactly
# (structural max in the fixture is 17); out-of-domain values are counted
# and yield a typed ERROR verdict instead of a silently-wrong profile
PROFILE_DOMAIN = 32


def run_suite_fused(
    spark: SparkSession,
    docs: DataFrame,
    catalog: DataFrame,
    baseline: DataFrame,
    part_col: str = "part_id",
    stats_lo: float = 1,
    stats_hi: float = 64,
    ks_threshold: float = 0.15,
    psi_threshold: float = 0.2,
    profile_max_top_share: float = 0.9,
    profile_min_entropy: float = 0.5,
    baseline_cat=None,
    q: float = 0.5,
    q_lo: float = 5,
    q_hi: float = 8,
    cat_tv_threshold: float = 0.05,
    cat_js_threshold: float | None = None,
    span_allowed_kinds: tuple = ("text", "image", "audio"),
    checkpoint_path: str | None = None,
    run_id: str | None = None,
) -> DataFrame:
    """The DEFAULT_SUITE's verdicts in three scans. Returns the union of
    verdict rows (same CHECK_OUTPUT_COLS shape as the modular runner):
    a lazy plan without ``checkpoint_path`` (its one consumer is the
    caller), the materialized rows it appended with one.

    ``baseline_cat``: categorical baseline (col_name, value, ref_frac) for
    the drift_categorical:kind twin — Spark or pandas frame; defaults to
    the fixture's analytic span-kind mix (this fused path is specific to
    the DOCUMENTS_SCHEMA fixture shape by design). The quantile twin's
    defaults (q/q_lo/q_hi) mirror DEFAULT_SUITE's quantile:n_spans check.

    Scope note (VERDICT r4 #2): the fused quantile covers ``n_spans``
    ONLY — its exactness comes from the unit-bin histogram counters being
    exact VALUE counts, and the per-span ``text_len`` domain has no such
    counters (the drift histogram's coarse baseline bins cannot
    reconstruct a quantile). A suite declaring ``quantile:text_len`` /
    ``profile:text_len`` runs through the modular runner's per-span
    series path (runner._numeric_frame) — deliberate routing, not a gap:
    an exact per-span percentile is a sort-based agg over an exploded
    frame and would not fuse into the doc-level Pass A anyway.

    With ``checkpoint_path``: resumable like the modular runner — the
    doc-level and span-level passes scan only partitions with ANY pending
    constraint (pushed-down isin filter); uniqueness always scans all rows
    (duplicates cross partition boundaries) but emits only pending
    verdicts; already-checkpointed (constraint, partition) pairs are never
    re-emitted, and new verdicts are appended with lineage. The pass output
    runs ONCE — an eager localCheckpoint feeds both the append and the
    returned frame (PLANS.md checkpoint rule: two consumers, constraints ×
    partitions rows) — so acting on the result re-runs no pass.
    """
    import uuid

    from sat_val_framework_spark import checkpoint as ckpt
    from sat_val_framework_spark.verdicts import RETRYABLE_ERROR_KINDS, finalize_verdicts

    run_id = run_id or uuid.uuid4().hex[:12]
    done_pairs: set[tuple[str, int]] = set()
    scan_docs = docs
    if checkpoint_path:
        existing = ckpt.read_checkpoint(spark, checkpoint_path)
        done_pairs = {
            (r["constraint_id"], r["part_id"])
            for r in existing.filter(F.col("run_id") == run_id)
            # same retry contract as run_suite (runner.py): a retryable ERROR
            # verdict does NOT count as done — a checkpoint shared with a
            # modular run (or a future fused retryable error) must re-run
            # those pairs on fused resume, not permanently skip them
            .filter(~F.coalesce(F.col("error_kind"), F.lit("")).isin(*RETRYABLE_ERROR_KINDS))
            .select("constraint_id", "part_id")
            .distinct()
            .collect()
        }
        all_parts = {r["part_id"] for r in docs.select(part_col).distinct().collect()}
        pending_parts = {
            p for p in all_parts
            if any((cid, p) not in done_pairs for cid in FUSED_CONSTRAINT_IDS)
        }
        if not pending_parts:
            return spark.createDataFrame([], ckpt.VERDICT_SCHEMA).drop(
                "run_id", "latency_ms", "params_json", "snapshot_id", "ts"
            )
        if pending_parts != all_parts:
            scan_docs = docs.filter(F.col(part_col).isin(sorted(pending_parts)))
    verdicts = _run_fused_passes(
        spark, scan_docs, docs, catalog, baseline, part_col,
        stats_lo, stats_hi, ks_threshold, psi_threshold,
        profile_max_top_share, profile_min_entropy,
        baseline_cat, q, q_lo, q_hi, cat_tv_threshold, cat_js_threshold,
        span_allowed_kinds,
    )
    if checkpoint_path:
        if done_pairs:
            done_df = spark.createDataFrame(
                [(c, p) for (c, p) in sorted(done_pairs)], "constraint_id string, part_id int"
            )
            verdicts = verdicts.join(done_df, ["constraint_id", "part_id"], "left_anti")
        verdicts = verdicts.localCheckpoint(eager=True)
        ckpt.append_verdicts(finalize_verdicts(verdicts, run_id), checkpoint_path)
    return verdicts


def _run_fused_passes(
    spark: SparkSession,
    docs: DataFrame,
    docs_all: DataFrame,
    catalog: DataFrame,
    baseline,
    part_col: str = "part_id",
    stats_lo: float = 1,
    stats_hi: float = 64,
    ks_threshold: float = 0.15,
    psi_threshold: float = 0.2,
    profile_max_top_share: float = 0.9,
    profile_min_entropy: float = 0.5,
    baseline_cat=None,
    q: float = 0.5,
    q_lo: float = 5,
    q_hi: float = 8,
    cat_tv_threshold: float = 0.05,
    cat_js_threshold: float | None = None,
    span_allowed_kinds: tuple = ("text", "image", "audio"),
) -> DataFrame:
    """The three passes. ``docs`` may be partition-filtered for resume;
    ``docs_all`` is the full table (uniqueness must see every row)."""
    if baseline_cat is None:
        from sat_val_framework_spark.fixtures import baseline_kinds_pandas

        baseline_cat = baseline_kinds_pandas()
    bcat = baseline_cat if isinstance(baseline_cat, pd.DataFrame) else baseline_cat.toPandas()
    # (value, ref_frac) pairs for the kind mix — metadata-sized, baked into
    # the Pass B aggregation as per-category counters
    cats = [
        (str(r.value), float(r.ref_frac))
        for r in bcat[bcat.col_name == "kind"].itertuples()
    ]
    if not cats:
        raise ValueError("baseline_cat has no rows for col_name='kind'")
    if any(q <= 0 for _, q in cats):
        # a ref_frac=0 category would put 0*log(0/m) = NaN into the js
        # sum (the modular path's when(q>0) guard never ships such a row
        # a term at all) — reject eagerly like the empty-baseline case so
        # fused and modular cannot silently diverge (advice r4)
        raise ValueError(
            "baseline_cat ref_frac must be > 0 for every category "
            "(drop zero-mass rows; they carry no drift information)"
        )
    (lo_ns, w_ns, nb_ns), ref_ns = resolve_baseline(baseline, "n_spans")
    (lo_tl, w_tl, nb_tl), ref_tl = resolve_baseline(baseline, "text_len")

    # ---- Pass A: one doc-level hash-agg --------------------------------
    # span count from the cheapest leaf (kind) -> nested pruning skips the
    # text bytes entirely on this pass (measured 2.8x faster scan)
    kinds = F.col("spans").getField("kind")
    n_spans = F.when(kinds.isNull(), F.lit(None).cast("int")).otherwise(F.size(kinds))
    # span-grammar flags ride the SAME doc-level select (the pre-projection
    # keeps nested pruning alive past the nondeterministic split grouping —
    # CLAUDE.md): kind vocabulary + media refs + offset order, text rule OFF
    # by design so Pass A stays text-free (Pass B reads the text bytes).
    # Identical expressions to the modular operator => byte-identical
    # verdicts (test_fused).
    from sat_val_framework_spark.operators.span_grammar import RULES, _leaf_flags

    sg_flags = _leaf_flags(
        kinds,
        None,
        F.col("spans").getField("media_ref"),
        F.col("spans").getField("offset"),
        list(span_allowed_kinds),
        require_spans=False,
    )
    sg_bad = None
    for f_ in sg_flags.values():
        sg_bad = f_ if sg_bad is None else (sg_bad | f_)
    sg_ann = F.format_string(
        "%s:%s",
        F.col("doc_id").cast("string"),
        F.concat_ws("+", *[F.when(sg_flags[r], F.lit(r)) for r in RULES]),
    )
    d = docs.select(
        F.col(part_col).alias("part_id"),
        F.col("doc_id"),
        n_spans.alias("n_spans"),
        sg_bad.alias("sg_bad"),
        sg_ann.alias("sg_ann"),
    )
    ns_null = F.col("n_spans").isNull()
    ns_oob = (F.col("n_spans") < stats_lo) | (F.col("n_spans") > stats_hi)
    bin_ns = _bin(F.col("n_spans"), lo_ns, w_ns, nb_ns)
    aggs = [
        F.count(F.lit(1)).alias("rows"),
        F.sum(ns_null.cast("long")).alias("null_spans"),
        sample_col(F.col("doc_id"), ns_null).alias("null_samples"),
        F.sum(ns_oob.cast("long")).alias("ns_oob"),
        sample_col(F.col("doc_id"), ns_oob | ns_null).alias("ns_samples"),
        F.sum(F.col("sg_bad").cast("long")).alias("sg_viol"),
        sample_col(F.col("sg_ann"), F.col("sg_bad")).alias("sg_samples"),
    ] + [
        F.sum(F.when(~ns_null & (bin_ns == b), 1).otherwise(0)).alias(f"h_ns_{b}")
        for b in range(nb_ns)
    ]
    # profile value counters: when the baseline histogram has UNIT bins from
    # 0 (true for n_spans), the h_ns_* counters ARE exact value counts and
    # the profile reuses them for free — only the overflow guard is added
    # (bin clamping hides values outside [0, nb), and a clamped profile
    # would be silently wrong; measured: 33 separate counters cost ~7% suite
    # throughput at 12M, the reuse + 1 guard costs ~0)
    unit_bins = lo_ns == 0.0 and w_ns == 1.0
    pv_prefix, pv_domain = ("h_ns_", nb_ns) if unit_bins else ("pv_", PROFILE_DOMAIN)
    if not unit_bins:
        aggs += [
            F.sum(F.when(F.col("n_spans") == v, 1).otherwise(0)).alias(f"pv_{v}")
            for v in range(PROFILE_DOMAIN)
        ]
    aggs += [
        # coalesce: a NULL n_spans makes the range predicate NULL, and an
        # all-NULL partition would otherwise sum to NULL and fall through
        # BOTH pv_oob filters (dropping its profile verdict entirely)
        F.sum(
            F.coalesce(
                ((F.col("n_spans") < 0) | (F.col("n_spans") >= pv_domain)).cast("long"),
                F.lit(0),
            )
        ).alias("pv_oob")
    ]
    # two-level bounded sampling, still one scan: level 1 groups by
    # (partition, input split) so each collect_list is bounded by split size
    # (maxPartitionBytes), then level 2 merges ≤10 samples per split —
    # a wholly-violating partition cannot OOM the final agg buffer
    l1_a = d.groupBy("part_id", F.spark_partition_id().alias("__split")).agg(*aggs)
    merge_a = [
        F.sum("rows").alias("rows"),
        F.sum("null_spans").alias("null_spans"),
        merged_samples("null_samples").alias("null_samples"),
        F.sum("ns_oob").alias("ns_oob"),
        merged_samples("ns_samples").alias("ns_samples"),
        F.sum("sg_viol").alias("sg_viol"),
        merged_samples("sg_samples").alias("sg_samples"),
    ] + [F.sum(f"h_ns_{b}").alias(f"h_ns_{b}") for b in range(nb_ns)] + (
        [] if unit_bins else [F.sum(f"pv_{v}").alias(f"pv_{v}") for v in range(PROFILE_DOMAIN)]
    ) + [F.sum("pv_oob").alias("pv_oob")]
    # n_parts rows only — persist so the four consumers (schema, stats,
    # drift, ref's rows_scanned, uniqueness verdict) share ONE computation
    # of the pass instead of re-expanding the scan subtree each.
    wide_a = l1_a.groupBy("part_id").agg(*merge_a).persist()

    # driver-side structural schema comparison — same check the modular
    # schema_assert does (ADVICE r1: a structurally drifted input must FAIL
    # in fused mode too, not just on NULL-span counts)
    schema_ok = [f.name for f in docs.schema.fields] == [
        f.name for f in DOCUMENTS_SCHEMA.fields
    ] and all(
        _norm_type(docs.schema[f.name].dataType) == _norm_type(DOCUMENTS_SCHEMA[f.name].dataType)
        for f in DOCUMENTS_SCHEMA.fields
    )
    schema_viol = F.col("null_spans") + F.lit(0 if schema_ok else 1)
    schema_v = wide_a.select(
        F.lit("schema_assert").alias("constraint_id"),
        "part_id",
        F.when(schema_viol > 0, F.lit(FAIL)).otherwise(F.lit(PASS)).alias("status"),
        F.col("rows").alias("rows_scanned"),
        schema_viol.cast("long").alias("violation_count"),
        F.col("null_samples").alias("sample_violations"),
    )
    sg_v = wide_a.select(
        F.lit("span_grammar:spans").alias("constraint_id"),
        "part_id",
        F.when(F.col("sg_viol") > 0, F.lit(FAIL)).otherwise(F.lit(PASS)).alias("status"),
        F.col("rows").alias("rows_scanned"),
        F.col("sg_viol").cast("long").alias("violation_count"),
        F.col("sg_samples").alias("sample_violations"),
    )
    stats_viol = F.col("ns_oob") + F.col("null_spans")  # max_null_rate=0.0
    stats_v = wide_a.select(
        F.lit("stats:n_spans").alias("constraint_id"),
        "part_id",
        F.when(stats_viol > 0, F.lit(FAIL)).otherwise(F.lit(PASS)).alias("status"),
        F.col("rows").alias("rows_scanned"),
        stats_viol.cast("long").alias("violation_count"),
        F.col("ns_samples").alias("sample_violations"),
    )
    drift_ns_v = _hist_verdicts(
        wide_a, "h_ns_", nb_ns, ref_ns, "n_spans", ks_threshold, psi_threshold
    )

    # profile constraint from the SAME pass: per-part scalars derived from
    # the value counters, then the shared verdict builder (identical
    # thresholds/samples/ERROR semantics as the modular profile_check)
    from sat_val_framework_spark.operators.stats import profile_verdicts_from_wide
    from sat_val_framework_spark.verdicts import ERR_EXECUTION

    pv = [F.col(f"{pv_prefix}{v}") for v in range(pv_domain)]
    n_obs = None
    n_distinct = None
    clogc = None
    for c in pv:
        n_obs = c if n_obs is None else n_obs + c
        d = (c > 0).cast("int")
        n_distinct = d if n_distinct is None else n_distinct + d
        t = F.when(c > 0, c.cast("double") * F.log(c)).otherwise(F.lit(0.0))
        clogc = t if clogc is None else clogc + t
    profile_wide = wide_a.select(
        "part_id",
        F.col("rows").alias("rows_scanned"),
        n_obs.alias("n_obs"),
        F.greatest(*pv).alias("top_n"),
        n_distinct.alias("n_distinct"),
        clogc.alias("clogc"),
        F.col("pv_oob"),
    )
    profile_ok_v = profile_verdicts_from_wide(
        profile_wide.filter(F.col("pv_oob") == 0),
        "profile:n_spans",
        max_top_share=profile_max_top_share,
        min_entropy=profile_min_entropy,
    )
    # out-of-domain values: the fused counters cannot profile them exactly —
    # a typed ERROR verdict (errors-as-values) tells the caller to run the
    # modular profile_check, instead of a silently-truncated distribution
    profile_oob_v = profile_wide.filter(F.col("pv_oob") > 0).select(
        F.lit("profile:n_spans").alias("constraint_id"),
        "part_id",
        F.lit(ERROR).alias("status"),
        F.lit(ERR_EXECUTION).alias("error_kind"),
        F.col("rows_scanned").cast("long").alias("rows_scanned"),
        F.lit(1).cast("long").alias("violation_count"),
        F.array(
            F.concat(F.lit(f"n_spans outside fused profile domain [0,{pv_domain}): "),
                     F.col("pv_oob").cast("string"),
                     F.lit(" rows; run modular profile_check"))
        ).alias("sample_violations"),
    )
    profile_v = profile_ok_v.unionByName(profile_oob_v)

    # quantile constraint from the SAME value counters (exact when every
    # value is inside the counter domain — the pv_oob guard below): the
    # q-quantile of an integer column is fully determined by its value
    # counts. The per-part quantile is computed in a tiny Arrow kernel over
    # the SAME unpivoted histogram rows the drift kernel reads (n_parts x
    # n_bins rows — metadata) — NOT as Catalyst expressions: cumulative
    # counts as expression columns either blew the 64KB codegen method
    # limit (inlined; single expressions can't split across methods) or,
    # as cached projection columns, cost seconds of driver-side plan work
    # per run and OOM'd at 2GB when left-deep (O(2^depth) cache-build
    # pathology, measured: 26 terms 6.7s, 28 terms 24s, 32 OOM). The
    # kernel mirrors Spark's Percentile interpolation ((higher-pos)*lower
    # + (pos-lower)*higher) so the modular F.percentile twin is
    # bit-identical (shared verdict builder formats the same %s strings).
    from sat_val_framework_spark.operators.stats import quantile_verdicts_from_wide

    qf = float(q)

    def _q_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        part = int(pdf["part_id"].iloc[0])
        counts = np.zeros(pv_domain, dtype=np.int64)
        counts[pdf["bin_id"].to_numpy()] = pdf["c"].to_numpy()
        n = int(counts.sum())
        if n == 0:
            return pd.DataFrame({"part_id": [part], "n_obs": [0], "qv": [None]})
        pos = qf * (n - 1)
        lo_i, hi_i = int(np.floor(pos)), int(np.ceil(pos))
        cum = counts.cumsum()
        x_lo = float(np.searchsorted(cum, lo_i + 1))
        if hi_i == lo_i:
            qv = x_lo
        else:
            x_hi = float(np.searchsorted(cum, hi_i + 1))
            qv = (hi_i - pos) * x_lo + (pos - lo_i) * x_hi
        return pd.DataFrame({"part_id": [part], "n_obs": [n], "qv": [qv]})

    stack_q = ", ".join(f"{b}, `{pv_prefix}{b}`" for b in range(pv_domain))
    q_hist = wide_a.selectExpr("part_id", f"stack({pv_domain}, {stack_q}) as (bin_id, c)")
    q_scores = q_hist.groupBy("part_id").applyInPandas(
        _q_kernel, schema="part_id int, n_obs long, qv double"
    )
    q_wide = (
        wide_a.select("part_id", F.col("rows").alias("rows_scanned"), "pv_oob")
        .join(q_scores, "part_id")
        .select("part_id", "rows_scanned", "n_obs", "qv", "pv_oob")
    )
    quantile_ok_v = quantile_verdicts_from_wide(
        q_wide.filter(F.col("pv_oob") == 0).drop("pv_oob"),
        "quantile:n_spans", q, q_lo, q_hi,
    )
    quantile_oob_v = q_wide.filter(F.col("pv_oob") > 0).select(
        F.lit("quantile:n_spans").alias("constraint_id"),
        "part_id",
        F.lit(ERROR).alias("status"),
        F.lit(ERR_EXECUTION).alias("error_kind"),
        F.col("rows_scanned").cast("long").alias("rows_scanned"),
        F.lit(1).cast("long").alias("violation_count"),
        F.array(
            F.concat(F.lit(f"n_spans outside fused counter domain [0,{pv_domain}): "),
                     F.col("pv_oob").cast("string"),
                     F.lit(" rows; run modular quantile_check"))
        ).alias("sample_violations"),
    )
    quantile_v = quantile_ok_v.unionByName(quantile_oob_v)

    # ---- Pass B: one span-level pass (explode shared by tl-drift + ref) -
    ex = docs.select(
        F.col(part_col).alias("part_id"), F.explode("spans").alias("s")
    ).select(
        "part_id",
        F.col("s.kind").alias("kind"),
        F.when(F.col("s.kind") == "text", F.length("s.text")).alias("tl"),
        F.col("s.media_ref").alias("media_ref"),
    )
    cat = F.broadcast(catalog.select("media_ref", F.lit(1).alias("present")))
    exj = ex.join(cat, "media_ref", "left")
    orphan = (F.col("kind") != "text") & F.col("present").isNull()
    bin_tl = _bin(F.col("tl"), lo_tl, w_tl, nb_tl)
    # categorical kind counters ride the SAME span pass: one counter per
    # baseline category + one for everything else. Folding all unseen
    # categories into ONE bucket is EXACT for both tv and js: with q=0,
    # Σ|p_c - 0| = Σp_c = p_other and Σ ½·p_c·ln2 = ½·p_other·ln2
    ck = F.coalesce(F.col("kind"), F.lit("<NULL>"))
    cat_vals = [v for v, _ in cats]
    aggs_b = [
        F.sum(orphan.cast("long")).alias("orphans"),
        sample_col(F.col("media_ref"), orphan).alias("orphan_samples"),
    ] + [
        F.sum(F.when(F.col("tl").isNotNull() & (bin_tl == b), 1).otherwise(0)).alias(f"h_tl_{b}")
        for b in range(nb_tl)
    ] + [
        F.sum((ck == F.lit(v)).cast("long")).alias(f"ck_{i}")
        for i, (v, _) in enumerate(cats)
    ] + [
        F.sum((~ck.isin(cat_vals)).cast("long")).alias("ck_other")
    ]
    # same two-level bound as Pass A (an all-orphan partition is realistic:
    # one missing catalog shard orphans every span that referenced it)
    l1_b = exj.groupBy("part_id", F.spark_partition_id().alias("__split")).agg(*aggs_b)
    merge_b = [
        F.sum("orphans").alias("orphans"),
        merged_samples("orphan_samples").alias("orphan_samples"),
    ] + [F.sum(f"h_tl_{b}").alias(f"h_tl_{b}") for b in range(nb_tl)] + [
        F.sum(f"ck_{i}").alias(f"ck_{i}") for i in range(len(cats))
    ] + [F.sum("ck_other").alias("ck_other")]
    wide_b_raw = l1_b.groupBy("part_id").agg(*merge_b)
    # LEFT-join from Pass A's partition spine with zero-fill: a partition
    # whose docs all have NULL/empty spans produces NO rows after explode,
    # and without this its ref/text_len verdicts would never be emitted —
    # leaving the (constraint, partition) pair pending on every resume
    # (ADVICE r1; mirrors referential_check's per_part left join)
    zero_fill = [
        F.coalesce(F.col("orphans"), F.lit(0)).alias("orphans"),
        F.coalesce(F.col("orphan_samples"), F.array().cast("array<string>")).alias(
            "orphan_samples"
        ),
    ] + [
        F.coalesce(F.col(f"h_tl_{b}"), F.lit(0)).alias(f"h_tl_{b}") for b in range(nb_tl)
    ] + [
        F.coalesce(F.col(f"ck_{i}"), F.lit(0)).alias(f"ck_{i}") for i in range(len(cats))
    ] + [F.coalesce(F.col("ck_other"), F.lit(0)).alias("ck_other")]
    wide_b = (
        wide_a.select("part_id")
        .join(wide_b_raw, "part_id", "left")
        .select("part_id", *zero_fill)
        .persist()
    )

    ref_v = (
        wide_b.join(wide_a.select("part_id", "rows"), "part_id")
        .select(
            F.lit("ref:media_ref").alias("constraint_id"),
            "part_id",
            F.when(F.col("orphans") > 0, F.lit(FAIL)).otherwise(F.lit(PASS)).alias("status"),
            F.col("rows").alias("rows_scanned"),
            F.col("orphans").cast("long").alias("violation_count"),
            F.col("orphan_samples").alias("sample_violations"),
        )
    )
    drift_tl_v = _hist_verdicts(
        wide_b, "h_tl_", nb_tl, ref_tl, "text_len", ks_threshold, psi_threshold
    )

    # categorical drift verdicts from the counters (n_parts rows): tv/js
    # expressions + the SAME verdict builder as the modular path
    from sat_val_framework_spark.operators.drift import categorical_verdicts_from_scores

    ck_cols = [F.col(f"ck_{i}") for i in range(len(cats))] + [F.col("ck_other")]
    ck_n = None
    for c in ck_cols:
        ck_n = c if ck_n is None else ck_n + c
    nd = ck_n.cast("double")
    tv_terms = None
    js_terms = None
    for i, (_, qfrac) in enumerate(cats):
        p = F.col(f"ck_{i}") / nd
        t = F.abs(p - F.lit(qfrac))
        m = (p + F.lit(qfrac)) / 2
        j = (
            F.when(p > 0, p * F.log(p / m)).otherwise(F.lit(0.0))
            + F.lit(qfrac) * F.log(F.lit(qfrac) / m)
        ) / 2
        tv_terms = t if tv_terms is None else tv_terms + t
        js_terms = j if js_terms is None else js_terms + j
    p_other = F.col("ck_other") / nd
    tv_terms = tv_terms + p_other
    js_terms = js_terms + F.when(
        p_other > 0, p_other * F.lit(float(np.log(2.0))) / 2
    ).otherwise(F.lit(0.0))
    cat_scores = wide_b.select(
        "part_id",
        ck_n.cast("long").alias("n_obs"),
        F.when(ck_n > 0, tv_terms / 2).alias("tv"),
        F.when(ck_n > 0, js_terms).alias("js"),
    )
    cat_v = categorical_verdicts_from_scores(
        cat_scores, "drift_categorical:kind", cat_tv_threshold, cat_js_threshold
    )

    # ---- Pass C: uniqueness + fd:doc_id->part_id (own shuffle key) ------
    # ONE single-shuffle aggregate serves BOTH global constraints: the FD
    # "doc_id determines part_id" is violated iff min(part) != max(part) —
    # two cheap extra agg columns on the existing dup agg. Rejected shapes
    # (measured at 12M, local[32]): a two-level (doc_id, part)->doc_id agg
    # shuffles ~n_docs rows TWICE (doc_id is nearly unique, partial agg
    # reduces nothing; suite 628k -> 493k docs/sec); count_distinct(part)
    # in one groupBy plans an Expand that doubles every map-side row.
    # Scans docs_all even on resume: duplicates/FDs cross partition bounds.
    per_doc = docs_all.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("dup_count"),
        F.min(part_col).alias("p_min"),
        F.max(part_col).alias("p_max"),
    )
    bad = per_doc.filter((F.col("dup_count") > 1) | (F.col("p_min") != F.col("p_max")))
    # explicit broadcast: Catalyst plans SMJ here (agg output size unknown at
    # plan time) and AQE can't convert it — the probe side's shuffle is
    # already scheduled when the agg finishes. Measured 6.3s -> 3.8s at 12M.
    # ONE downstream pipeline for BOTH constraints: each violator row is
    # tagged (explode) with every constraint it breaks, sampled by
    # (constraint_id, part_id) in one window pass, and joined to a
    # (part x cid) spine. A filter-split into two verdict branches was
    # measured and rejected: two consumers re-run the 12M-row probe scan
    # (persist does not help — the union job races both branches before the
    # cache lands; −7.6%), and rescuing THAT with persist + eager count
    # serializes an extra job that hurts fixed-cost-dominated sizes.
    from sat_val_framework_spark.verdicts import bounded_samples

    _empty = F.array().cast("array<string>")
    tagged = (
        docs_all.join(F.broadcast(bad), "doc_id", "inner")
        .select(
            F.col(part_col).alias("part_id"),
            F.col("doc_id").alias("violation_key"),
            F.explode(
                F.concat(
                    F.when(F.col("dup_count") > 1, F.array(F.lit("unique:doc_id"))).otherwise(
                        _empty
                    ),
                    F.when(
                        F.col("p_min") != F.col("p_max"), F.array(F.lit("fd:doc_id->part_id"))
                    ).otherwise(_empty),
                )
            ).alias("constraint_id"),
        )
    )
    # bounded sampler (window top-10 + exact count), not collect-then-slice:
    # a viral duplicate otherwise collects every copy into one reducer array
    viol_agg = bounded_samples(tagged, ["constraint_id", "part_id"], "violation_key")
    cid_spine = spark.createDataFrame(
        [("unique:doc_id",), ("fd:doc_id->part_id",)], "constraint_id string"
    )
    pass_c_v = (
        wide_a.select("part_id", "rows")
        .crossJoin(F.broadcast(cid_spine))
        .join(viol_agg, ["constraint_id", "part_id"], "left")
        .select(
            "constraint_id",
            "part_id",
            F.when(F.coalesce(F.col("violation_count"), F.lit(0)) > 0, F.lit(FAIL))
            .otherwise(F.lit(PASS))
            .alias("status"),
            F.col("rows").alias("rows_scanned"),
            F.coalesce(F.col("violation_count"), F.lit(0)).cast("long").alias("violation_count"),
            F.coalesce(F.col("sample_violations"), F.array().cast("array<string>")).alias(
                "sample_violations"
            ),
        )
    )

    # drift verdicts carry error_kind (EmptySeriesError); the agg-based
    # verdicts never error — allowMissingColumns fills theirs with NULL
    return (
        schema_v.unionByName(stats_v)
        .unionByName(drift_ns_v, allowMissingColumns=True)
        .unionByName(ref_v, allowMissingColumns=True)
        .unionByName(drift_tl_v, allowMissingColumns=True)
        .unionByName(pass_c_v, allowMissingColumns=True)
        .unionByName(profile_v, allowMissingColumns=True)
        .unionByName(quantile_v, allowMissingColumns=True)
        .unionByName(cat_v, allowMissingColumns=True)
        .unionByName(sg_v, allowMissingColumns=True)
    )
