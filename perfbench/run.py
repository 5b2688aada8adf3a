"""Benchmark of the validation engine at local[4].

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload suite_resume --seed 1 --seconds 10 --trace 0

One process starts one JVM at ``local[4]`` through ``session.get_spark``,
writes the workload's seeded inputs under ``.perfbench_work/``, warms up,
runs the workload's operation back to back for ``--seconds`` seconds (at
least ``MIN_OPS`` times) and checks every operation's output. The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. See ``perfbench/README.md``.

With ``--trace 0`` the metrics are the end-to-end ones: ``setup_s``,
``run_p50_s`` and ``docs_per_s``, medians over the run's operations; their
times leave out the share of the host's CPU time that the hypervisor stole
meanwhile. With ``--trace 1`` the run first measures untraced as above, over
a quarter of ``--seconds``, then restarts the Spark session with the event
log on, measures again for another quarter with one job group per call into
a layer, calls the layers standalone, and reports the per-layer table,
printed to standard error, and the tracing overhead against the untraced
``run_p50_s``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

T_START = time.perf_counter()
ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench.layers import PER_LAYER  # noqa: E402  (needs ROOT on sys.path)

SET_UPS = 3  # session + input set-ups per run; setup_s takes their median
# operations a timed run takes the median of, however slow the host is
MIN_OPS = 3
# a traced run measures twice (untraced, then traced) and then calls the
# layers standalone; each of its two windows gets this share of --seconds
TRACE_WINDOW = 0.25
E2E_UNITS = {"setup_s": "s", "run_p50_s": "s", "docs_per_s": "docs/s"}


def unit_of(name: str) -> str:
    if name.endswith("_ms") or "_ms." in name:
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_frac", "_util")):
        return "ratio"
    return "count"


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(prog="perfbench/run.py")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Session:
    """The one JVM of a run and the Spark sessions started in it."""

    def __init__(self, work: Path) -> None:
        self.work = work
        self.spark = None

    def start(self, event_log: Path | None = None):
        from sat_val_framework_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(self.work / "local"),
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.sql.streaming.checkpointLocation": str(self.work / "stream_ck"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work / 'tmp'} -XX:-UsePerfData",
            "spark.eventLog.enabled": "false",
        }
        if event_log is not None:
            event_log.mkdir(parents=True, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(event_log),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark(app_name="perfbench", master="local[4]", extra_conf=conf)
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop the session, then the JVM, and wait until the JVM and the
        Python workers it started have exited."""
        from pyspark import SparkContext

        from perfbench.workloads import process_tree

        started = set(process_tree(os.getpid())) - {os.getpid()}
        try:
            self.stop()
        finally:
            gateway = SparkContext._gateway
            proc = getattr(gateway, "proc", None)
            if gateway is not None:
                gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            # the workers exit once the JVM's pipes close; init reaps them
            deadline = time.monotonic() + 30
            while any(Path(f"/proc/{pid}").exists() for pid in started) and time.monotonic() < deadline:
                time.sleep(0.1)


def stolen_free(sample: dict[str, float]) -> float:
    """Wall seconds less the share the hypervisor gave to other machines."""
    return sample["wall"] * (1.0 - sample["steal"])


def measure(w, seconds: float, min_ops: int = 1) -> dict:
    """Operations back to back until ``seconds`` have passed and at least
    ``min_ops`` have been attempted."""
    samples, docs, attempted, failed, ks = [], [], 0, 0, []
    stop_at = time.perf_counter() + seconds
    while attempted < min_ops or time.perf_counter() < stop_at:
        attempted += 1
        try:
            sample, n, ok = w.op(attempted)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            failed += 1
            continue
        if not ok:
            print(f"{w.name}: operation {attempted} gave wrong output", file=sys.stderr)
            failed += 1
        samples.append(sample)
        docs.append(n)
        ks.append(attempted)
    return {"samples": samples, "docs": docs, "attempted": attempted, "failed": failed, "ops": ks}


def end_to_end(setup_s: float, m: dict) -> dict[str, float]:
    """Medians over the run's operations, so that one operation slowed by a
    busy host moves neither metric."""
    runs = [stolen_free(x) for x in m["samples"]]
    if not runs:
        return {}
    return {
        "setup_s": setup_s,
        "run_p50_s": statistics.median(runs),
        "docs_per_s": statistics.median(n / t for n, t in zip(m["docs"], runs)),
    }


def trace_layers(w, session: Session, spans, log_dir: Path, untraced_p50: float, seconds: float):
    """Measure again with the event log on; return (per-layer metrics,
    operations attempted, operations failed)."""
    from perfbench import eventlog

    session.stop()
    spans.spark = session.start(event_log=log_dir)
    w.load(w.inputs)
    w.warm_up()  # the new session starts its own Python workers
    m = measure(w, seconds)
    extras, a_extra, f_extra = w.extras()
    session.stop()
    logs = [p for p in log_dir.iterdir() if p.is_file()]
    groups = eventlog.read(str(logs[0]))

    def of(prefix: str) -> list:
        names = [g for g in groups if g.startswith(prefix)] + w.job_groups(prefix)
        return [groups[n] for n in names if n in groups]

    per_op = []
    for k, sample in zip(m["ops"], m["samples"]):
        row = dict.fromkeys(PER_LAYER, 0.0)
        row.update(eventlog.spark_metrics(of(f"op{k}."), sample["wall"]))
        row.update(eventlog.scan_metrics(of(f"op{k}.runner") + of(f"op{k}.noop"), w.N_DOCS / 16))
        runner = of(f"op{k}.runner")
        if runner:
            row["runner.jobs"] = float(sum(g.jobs for g in runner))
            row["runner.stages"] = float(sum(g.stages for g in runner))
            row["runner.driver_gap_s"] = eventlog.spark_metrics(
                runner, spans.walls[f"op{k}.runner"]
            )["spark.driver_gap_s"]
        row["host.wall_s"] = sample["wall"]
        row["host.cpu_s"] = sample["cpu"]
        row["host.steal_frac"] = sample["steal"]
        row["trace.run_p50_s"] = stolen_free(sample)
        row.update(w.layer_metrics(k))
        per_op.append(row)
    out = dict.fromkeys(PER_LAYER, 0.0)
    if per_op:
        out = {k: float(statistics.median(r[k] for r in per_op)) for k in PER_LAYER}
        if untraced_p50 > 0:
            out["trace.overhead_frac"] = out["trace.run_p50_s"] / untraced_p50 - 1.0
    out.update(extras)
    fused = of("fused.")
    out["fused.jobs"] = float(sum(g.jobs for g in fused))
    out["fused.stages"] = float(sum(g.stages for g in fused))
    return out, m["attempted"] + a_extra, m["failed"] + f_extra


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not (ROOT / "sat_val_framework_spark" / "__init__.py").is_file():
        print(f"perfbench: no sat_val_framework_spark package under {ROOT}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS, Spans

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    # Python workers import the package from the checkout; every temporary
    # file of this process, the JVM and the workers stays inside the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_DRIVER_MEM"] = "4g"
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")

    session = Session(work)
    spans = Spans()
    try:
        for d in ("local", "warehouse", "tmp"):
            (work / d).mkdir(parents=True, exist_ok=True)
        w = WORKLOADS[args.workload](work, args.seed, spans)
        setups = []
        for i in range(SET_UPS):
            w.meter.begin()
            session.stop()
            spans.spark = session.start()
            if i == 0:
                jvm_s = time.perf_counter() - T_START
            inputs = work / f"inputs{i}"
            w.write_inputs(inputs)
            w.load(inputs)
            setups.append(stolen_free(w.meter.end()))
        w.meter.begin()
        w.prepare()
        w.warm_up()
        warmup_s = stolen_free(w.meter.end())
        setup_s = statistics.median(setups) + warmup_s
        window = args.seconds * (TRACE_WINDOW if args.trace else 1.0)
        m = measure(w, window, 1 if args.trace else MIN_OPS)
        print(
            f"{w.name}: jvm {jvm_s:.1f}s, session+inputs {' '.join(f'{s:.1f}' for s in setups)}s, "
            f"references+warm-up {warmup_s:.1f}s, operations (wall, cpu, steal share) "
            + ", ".join(f"{x['wall']:.2f}s {x['cpu']:.1f}s {x['steal']:.3f}" for x in m["samples"]),
            file=sys.stderr,
        )
        metrics = end_to_end(setup_s, m)
        attempted, failed = m["attempted"], m["failed"]
        if args.trace:
            layers, a2, f2 = trace_layers(
                w, session, spans, work / "eventlog", metrics.get("run_p50_s", 0.0), window
            )
            layers["setup.jvm_s"] = jvm_s
            layers["setup.warmup_s"] = warmup_s
            attempted, failed = attempted + a2, failed + f2
            width = max(map(len, PER_LAYER))
            for k in PER_LAYER:
                print(f"{k:<{width}}  {layers[k]:>12.4f} {unit_of(k)}", file=sys.stderr)
            metrics = {k: layers[k] for k in PER_LAYER}
    finally:
        session.close()
        shutil.rmtree(work, ignore_errors=True)
        if work.parent.is_dir() and not any(work.parent.iterdir()):
            work.parent.rmdir()
    result = {
        "correct": failed == 0 and bool(metrics),
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": v, "unit": unit_of(k) if args.trace else E2E_UNITS[k]}
            for k, v in metrics.items()
        },
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
