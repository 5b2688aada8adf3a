"""The benchmark's workloads.

Each workload is a closed loop with one client: an operation starts when the
previous one has returned. ``Workload.load`` (re)binds the on-disk inputs to
a session, ``op`` runs one timed operation and returns its ``Meter``
sample, the documents it validated and whether its outputs were correct,
and ``extras``
(traced run only) calls layer functions standalone under their own job
groups. Correctness is checked against references computed once per input,
outside the timed operations.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from perfbench import docgen
from perfbench.layers import HEAVY_QUERIES

KEY = ("constraint_id", "part_id", "status", "rows_scanned", "violation_count")
# untimed operations after the references: the first operation after JVM
# start runs while the JIT still compiles (up to twice a warm one's time for
# the drift monitor). The next few still get ~10% faster each, but a second
# warm-up operation would cost ~6 s a run, more than a campaign of ~50 runs
# in an hour has to spare
WARM_OPS = 1


def keyset(df: DataFrame) -> set[tuple]:
    return {tuple(r) for r in df.select(*KEY).collect()}


def dir_bytes(path: Path) -> tuple[int, int]:
    """(bytes, parquet files) under ``path``."""
    files = [p for p in path.rglob("*.parquet") if p.is_file()]
    return sum(p.stat().st_size for p in files), len(files)


class Spans:
    """Wall time of each call wrapped in ``span(name)``. The same name is
    set as the Spark job group, so the event log of a traced run attributes
    the call's jobs to it."""

    def __init__(self) -> None:
        self.spark: SparkSession | None = None
        self.walls: dict[str, float] = {}

    @contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext
        sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.walls[name] = time.perf_counter() - t0
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)


def host_jiffies() -> tuple[int, int]:
    """(busy, stolen) CPU time of the host, in clock ticks, over all CPUs."""
    with open("/proc/stat", encoding="ascii") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = map(int, f.readline().split()[1:9])
    return user + nice + system + irq + softirq, steal


def process_tree(root: int) -> dict[int, int]:
    """Process ``root`` and its descendants (here the benchmark process,
    the JVM and the Python workers), each with the CPU clock ticks it and
    its reaped children used."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        children.setdefault(int(fields[1]), []).append(int(d))
        ticks[int(d)] = sum(map(int, fields[11:15]))  # utime stime cutime cstime
    tree, todo = {}, [root]
    while todo:
        pid = todo.pop()
        tree[pid] = ticks.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return tree


def tree_cpu_s(root: int) -> float:
    """CPU seconds used by process ``root`` and its descendants."""
    return sum(process_tree(root).values()) / os.sysconf("SC_CLK_TCK")


class Meter:
    """Times the part of an operation that counts: wall seconds, CPU seconds
    of the run's processes, and the share of the host's CPU time the
    hypervisor stole meanwhile."""

    def begin(self) -> None:
        self.h0 = host_jiffies()
        self.c0 = tree_cpu_s(os.getpid())
        self.t0 = time.perf_counter()

    def end(self) -> dict[str, float]:
        wall = time.perf_counter() - self.t0
        busy, steal = (b - a for a, b in zip(self.h0, host_jiffies()))
        return {
            "wall": wall,
            "cpu": tree_cpu_s(os.getpid()) - self.c0,
            "steal": steal / (busy + steal) if busy + steal else 0.0,
        }


class Workload:
    name = ""

    def __init__(self, work: Path, seed: int, spans: Spans) -> None:
        self.work, self.seed, self.spans = work, seed, spans
        self.meter = Meter()

    @property
    def spark(self) -> SparkSession:
        return self.spans.spark

    def write_inputs(self, out: Path) -> None:
        raise NotImplementedError

    def load(self, inputs: Path) -> None:
        raise NotImplementedError

    def prepare(self) -> None:
        """References for the correctness checks, once per input."""
        raise NotImplementedError

    def warm_up(self) -> None:
        """Operations that leave caches filled and code compiled."""
        raise NotImplementedError

    def op(self, k: int) -> tuple[dict[str, float], int, bool]:
        """One operation: (its ``Meter`` sample, documents validated,
        whether the output was correct)."""
        raise NotImplementedError

    def layer_metrics(self, k: int) -> dict[str, float]:
        """Per-layer figures of operation ``k`` measured outside Spark."""
        return {}

    def job_groups(self, prefix: str) -> list[str]:
        """Job groups, other than the spans' own, of the spans whose names
        start with ``prefix``."""
        return []

    def extras(self) -> tuple[dict[str, float], int, int]:
        """Standalone layer calls of the traced run: (per-layer metrics,
        calls attempted, calls that failed or gave wrong output)."""
        return {}, 0, 0


# ---------------------------------------------------------------------------
# suite_resume: the modular runner resuming a half-done checkpoint
# ---------------------------------------------------------------------------


class SuiteResume(Workload):
    """``run_suite`` (the CLI's default runner) resuming a checkpoint in
    which the even partitions are done, then a no-op resume of the same
    run id; each counted the way the CLI counts its verdicts.

    The suite is the DEFAULT_SUITE's schema, uniqueness and referential
    checks. Each check adds about 1.2 s of mostly per-job planning to an
    operation on a 4-core host, and a run has to fit a warm-up and three
    operations in about a minute; the span-grammar check runs in the
    ``stream_monitors`` workload and standalone in the traced run.
    """

    name = "suite_resume"
    N_DOCS = 8_000
    N_FILES = 16
    RUN_ID = "bench"
    CHECK_IDS = ("schema_assert", "unique:doc_id", "ref:media_ref")

    def __init__(self, work: Path, seed: int, spans: Spans) -> None:
        super().__init__(work, seed, spans)
        from sat_val_framework_spark.runner import DEFAULT_SUITE
        from sat_val_framework_spark.suite import CheckSuite

        by_id = {c.constraint_id: c for c in DEFAULT_SUITE.checks}
        self.suite = CheckSuite(checks=[by_id[c] for c in self.CHECK_IDS])
        self.reference: set[tuple] = set()
        self.layers: dict[int, dict[str, float]] = {}

    def write_inputs(self, out: Path) -> None:
        docgen.documents(self.spark, self.N_DOCS, self.seed).repartition(self.N_FILES).write.parquet(
            str(out / "docs")
        )

    def load(self, inputs: Path) -> None:
        from sat_val_framework_spark.fixtures import media_catalog_df

        self.inputs = inputs
        self.docs = self.spark.read.parquet(str(inputs / "docs"))
        self.catalog = media_catalog_df(self.spark)

    def _resume(self, ck: Path):
        from sat_val_framework_spark.runner import run_suite

        res = run_suite(
            self.spark, self.docs, self.suite, catalog=self.catalog,
            checkpoint_path=str(ck), run_id=self.RUN_ID,
        )
        return res, res.verdicts.count()

    def prepare(self) -> None:
        """A full run gives the reference verdict set; its even partitions
        are the template checkpoint every operation resumes from."""
        from sat_val_framework_spark.checkpoint import read_checkpoint

        ck = self.work / "reference_ck"
        shutil.rmtree(ck, ignore_errors=True)
        self._resume(ck)
        self.reference = keyset(read_checkpoint(self.spark, str(ck)))
        # schema_assert scans every document of its partition once
        part_docs = {r[1]: r[3] for r in self.reference if r[0] == "schema_assert"}
        if (
            len(self.reference) != len(part_docs) * len(self.CHECK_IDS)
            or sum(part_docs.values()) != self.N_DOCS
            or any(r[2] == "ERROR" for r in self.reference)
        ):
            raise RuntimeError(f"reference run gave no clean verdict set: {sorted(self.reference)}")
        self.template = self.work / "template_ck"
        shutil.rmtree(self.template, ignore_errors=True)
        self.spark.read.parquet(str(ck)).filter(F.col("part_id") % 2 == 0).write.parquet(
            str(self.template)
        )
        self.pending_docs = sum(n for p, n in part_docs.items() if p % 2 == 1)
        self.pending_verdicts = sum(1 for r in self.reference if r[1] % 2 == 1)

    def warm_up(self) -> None:
        for _ in range(WARM_OPS):
            ck = self.work / "warmup_ck"
            shutil.rmtree(ck, ignore_errors=True)
            shutil.copytree(self.template, ck)
            self._resume(ck)
            self._resume(ck)

    def op(self, k: int) -> tuple[dict[str, float], int, bool]:
        from sat_val_framework_spark.checkpoint import read_checkpoint

        ck = self.work / f"ck{k}"
        shutil.rmtree(ck, ignore_errors=True)
        shutil.copytree(self.template, ck)
        before, _ = dir_bytes(ck)
        self.meter.begin()
        with self.spans.span(f"op{k}.runner"):
            res, emitted = self._resume(ck)
        with self.spans.span(f"op{k}.noop"):
            _, emitted_noop = self._resume(ck)
        sample = self.meter.end()
        after, files = dir_bytes(ck)
        with self.spans.span(f"verify{k}.read"):
            merged = keyset(read_checkpoint(self.spark, str(ck)))
        ok = emitted == self.pending_verdicts and emitted_noop == 0 and merged == self.reference
        skipped = [s for s in res.skipped if s.rpartition(":")[2].isdigit()]
        self.layers[k] = {
            "checkpoint.read_s": self.spans.walls[f"verify{k}.read"],
            "checkpoint.noop_resume_s": self.spans.walls[f"op{k}.noop"],
            "checkpoint.skipped_frac": len(skipped) / (len(skipped) + self.pending_verdicts),
            "checkpoint.append_mb": (after - before) / (1024.0 * 1024.0),
            "checkpoint.files": float(files),
            "runner.call_s": self.spans.walls[f"op{k}.runner"],
        }
        shutil.rmtree(ck, ignore_errors=True)
        return sample, self.pending_docs, ok

    def layer_metrics(self, k: int) -> dict[str, float]:
        return self.layers.get(k, {})

    def extras(self) -> tuple[dict[str, float], int, int]:
        """Each operator standalone on the suite input, then one fused
        DEFAULT_SUITE pass over it, checked against the reference."""
        from sat_val_framework_spark import profile
        from sat_val_framework_spark.checkpoint import read_checkpoint
        from sat_val_framework_spark.fixtures import (
            DOCUMENTS_SCHEMA,
            baseline_kinds_df,
            baseline_stats_df,
        )
        from sat_val_framework_spark.fused import run_suite_fused
        from sat_val_framework_spark.operators import (
            column_stats,
            drift_check,
            fd_check,
            referential_check,
            schema_assert,
            uniqueness_check,
        )
        from sat_val_framework_spark.operators.span_grammar import span_grammar_check
        from sat_val_framework_spark.operators.stats import StatSpec

        spark, docs = self.spark, self.docs
        baseline = baseline_stats_df(spark)
        calls = {
            "schema_assert": lambda: schema_assert(docs, DOCUMENTS_SCHEMA, "part_id", ("spans",)),
            "column_stats": lambda: column_stats(
                profile.with_n_spans(docs), [StatSpec("n_spans", max_null_rate=0.0, lo=1, hi=64)]
            )[0],
            "uniqueness_check": lambda: uniqueness_check(docs, "doc_id")[0],
            "fd_check": lambda: fd_check(docs, "doc_id->part_id")[0],
            "referential_check": lambda: referential_check(docs, self.catalog)[0],
            "drift_check": lambda: drift_check(
                profile.text_len_series(docs), baseline, "text_len"
            )[0],
            "span_grammar_check": lambda: span_grammar_check(docs, ["text", "image", "audio"]),
        }
        out: dict[str, float] = {}
        failed = 0
        for fn, call in calls.items():
            try:
                with self.spans.span(f"operators.{fn}"):
                    call().collect()
            except Exception:
                traceback.print_exc(file=sys.stderr)
                failed += 1
                continue
            out[f"operators.{fn}.exec_s"] = self.spans.walls[f"operators.{fn}"]
        ck = self.work / "fused_ck"
        shutil.rmtree(ck, ignore_errors=True)
        try:
            with self.spans.span("fused.call"):
                verdicts = run_suite_fused(
                    spark, docs, self.catalog, baseline, baseline_cat=baseline_kinds_df(spark),
                    checkpoint_path=str(ck), run_id=self.RUN_ID,
                )
            with self.spans.span("fused.exec"):
                verdicts.collect()
            fused = keyset(read_checkpoint(spark, str(ck)))
        except Exception:
            traceback.print_exc(file=sys.stderr)
            return out, len(calls) + 1, failed + 1
        out["fused.call_s"] = self.spans.walls["fused.call"]
        out["fused.exec_s"] = self.spans.walls["fused.exec"]
        if not fused >= self.reference:
            print("fused: verdicts differ from the modular runner's", file=sys.stderr)
            failed += 1
        return out, len(calls) + 1, failed


# ---------------------------------------------------------------------------
# stream_monitors: three file-stream monitors, one after another
# ---------------------------------------------------------------------------


class StreamMonitors(Workload):
    """The drift monitor on ``text_len`` (Arrow kernel, stateless), the
    span-grammar monitor (JVM only) and the schema monitor with a
    ``foreachBatch`` sink (stateful aggregate), each run over the same
    seeded file set until ``processAllAvailable`` returns."""

    name = "stream_monitors"
    N_DOCS = 8_000
    # one micro-batch per monitor (the schema monitor reads 4 files a
    # trigger): a second batch would double the operation's time and halve
    # the operations a run can take the median of
    N_FILES = 4
    MAX_FILES = 4
    MONITORS = ("drift", "span_grammar", "schema_assert")

    def __init__(self, work: Path, seed: int, spans: Spans) -> None:
        super().__init__(work, seed, spans)
        self.progress: dict[int, dict[str, list[dict]]] = {}
        # a stream runs its jobs under its run id as the job group
        self.stream_groups: dict[str, list[str]] = {}
        self.started = 0

    def write_inputs(self, out: Path) -> None:
        docgen.documents(self.spark, self.N_DOCS, self.seed).repartition(self.N_FILES).write.parquet(
            str(out / "docs")
        )

    def load(self, inputs: Path) -> None:
        from sat_val_framework_spark.fixtures import baseline_stats_df

        self.inputs = inputs
        self.baseline = baseline_stats_df(self.spark)

    def _start(self, monitor: str, src: Path, sink: Path, name: str):
        from sat_val_framework_spark.streaming import (
            streaming_drift,
            streaming_schema_assert,
            streaming_span_grammar,
        )

        if monitor == "drift":
            return streaming_drift(
                self.spark, str(src), self.baseline, str(sink), column="text_len",
                max_files=self.MAX_FILES,
            )
        if monitor == "span_grammar":
            return streaming_span_grammar(
                self.spark, str(src), str(sink), allowed_kinds=["text", "image", "audio"],
                max_files=self.MAX_FILES,
            )
        return streaming_schema_assert(
            self.spark, str(src), query_name=name, foreach_batch_path=str(sink)
        )

    def _run(self, monitor: str, src: Path, group: str) -> tuple[Path, list[dict]]:
        # every query gets fresh names: a reused name would resume from the
        # checkpoint of an earlier query and read nothing
        self.started += 1
        name = f"{monitor}_{self.started}"
        sink = self.work / f"sink_{name}"
        q = self._start(monitor, src, sink, name)
        self.stream_groups.setdefault(group, []).append(str(q.runId))
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return sink, [p for p in q.recentProgress if p["numInputRows"] > 0]

    def warm_up(self) -> None:
        for k in range(WARM_OPS):
            for m in self.MONITORS:
                sink, _ = self._run(m, self.inputs / "docs", f"warm{k}.{m}")
                shutil.rmtree(sink, ignore_errors=True)

    def prepare(self) -> None:
        """Batch-operator sums over the whole input, per constraint."""
        from sat_val_framework_spark import profile
        from sat_val_framework_spark.fixtures import DOCUMENTS_SCHEMA
        from sat_val_framework_spark.operators import drift_check, schema_assert
        from sat_val_framework_spark.operators.span_grammar import span_grammar_check

        docs = self.spark.read.parquet(str(self.inputs / "docs"))
        frames = [
            drift_check(profile.text_len_series(docs), self.baseline, "text_len")[0],
            span_grammar_check(docs, ["text", "image", "audio"]),
            schema_assert(docs, DOCUMENTS_SCHEMA, "part_id", ("spans",)),
        ]
        self.reference = self._sums(frames)
        self.doc_checks = [c for c in self.reference if not c.startswith("drift")]

    @staticmethod
    def _sums(frames: list[DataFrame]) -> dict[str, tuple[int, int]]:
        """Summed (rows_scanned, violation_count) per constraint, in one job."""
        cols = ("constraint_id", "rows_scanned", "violation_count")
        df = frames[0].select(*cols)
        for f in frames[1:]:
            df = df.unionByName(f.select(*cols))
        rows = df.groupBy("constraint_id").agg(
            F.sum("rows_scanned").alias("r"), F.sum("violation_count").alias("v")
        ).collect()
        return {r["constraint_id"]: (int(r["r"] or 0), int(r["v"] or 0)) for r in rows}

    def op(self, k: int) -> tuple[dict[str, float], int, bool]:
        runs = {}
        self.meter.begin()
        for m in self.MONITORS:
            with self.spans.span(f"op{k}.{m}"):
                runs[m] = self._run(m, self.inputs / "docs", f"op{k}.{m}")
        sample = self.meter.end()
        # one micro-batch holds the whole input, so the monitors' verdicts
        # sum to the batch operators' over the same documents; the schema
        # and grammar checks scan each document once (drift one row per span)
        sums = self._sums([self.spark.read.parquet(str(sink)) for sink, _ in runs.values()])
        batches = [len(progress) for _, progress in runs.values()]
        ok = (
            sums == self.reference
            and batches == [1] * len(runs)
            and all(sums[c][0] == self.N_DOCS for c in self.doc_checks)
        )
        if not ok:
            print(f"stream sums {sums} (batches {batches}) != batch {self.reference}", file=sys.stderr)
        for sink, _ in runs.values():
            shutil.rmtree(sink, ignore_errors=True)
        self.progress[k] = {m: p for m, (_, p) in runs.items()}
        return sample, self.N_DOCS * len(self.MONITORS), ok

    def layer_metrics(self, k: int) -> dict[str, float]:
        progress = self.progress.get(k)
        if not progress:
            return {}
        batches = [p["durationMs"] for ps in progress.values() for p in ps]

        def med(f) -> float:
            return float(statistics.median(f(d) for d in batches))

        out = {
            "streaming.add_batch_ms": med(lambda d: d.get("addBatch", 0)),
            "streaming.planning_ms": med(lambda d: d.get("queryPlanning", 0)),
            "streaming.wal_ms": med(lambda d: d.get("walCommit", 0) + d.get("commitOffsets", 0)),
            "streaming.trigger_overhead_ms": med(
                lambda d: d.get("triggerExecution", 0) - d.get("addBatch", 0)
            ),
        }
        for m, ps in progress.items():
            out[f"streaming.batch_p50_ms.{m}"] = float(
                statistics.median(p["durationMs"]["triggerExecution"] for p in ps)
            )
        return out

    def job_groups(self, prefix: str) -> list[str]:
        return [r for span, runs in self.stream_groups.items() if span.startswith(prefix) for r in runs]

    def extras(self) -> tuple[dict[str, float], int, int]:
        return functions_probe(self.spark, self.spans, self.work / "tables", self.seed)


def functions_probe(spark: SparkSession, spans: Spans, out: Path, seed: int):
    """Run each heavy query once on seeded tables, in an order the seed
    rotates, and check it against its DuckDB ``oracle_sql()`` twin."""
    import duckdb

    import __spark_entry__ as entry
    from perfbench import tables
    from tools.check_oracles import frame_fingerprint

    tables.write(out, seed)
    queries, oracles = entry.queries(), entry.oracle_sql()
    con = duckdb.connect()
    for t in ("documents", "embeddings", "lineitem", "part"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{out / t}.parquet'")
    k = seed % len(HEAVY_QUERIES)
    metrics, failed = {}, 0
    for q in HEAVY_QUERIES[k:] + HEAVY_QUERIES[:k]:
        try:
            with spans.span(f"functions.{q}"):
                sdf = queries[q](spark, str(out))
                rows = [tuple(r) for r in sdf.collect()]
            rel = con.sql(oracles[q])
            cols, orows = list(rel.columns), rel.fetchall()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            failed += 1
            continue
        metrics[f"functions.{q}.exec_s"] = spans.walls[f"functions.{q}"]
        if sorted(sdf.columns) != sorted(cols) or (
            frame_fingerprint(sdf.columns, rows)[0] != frame_fingerprint(cols, orows)[0]
        ):
            print(f"functions: {q} differs from its DuckDB oracle", file=sys.stderr)
            failed += 1
    con.close()
    return metrics, len(HEAVY_QUERIES), failed


WORKLOADS = {w.name: w for w in (SuiteResume, StreamMonitors)}
