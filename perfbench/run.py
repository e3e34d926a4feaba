"""Benchmark entry point.

    python3 perfbench/run.py --workload fuel_stream --seed 1 --seconds 15 --trace 0

Runs one workload (``fuel_stream``, ``registry_curation``) in this
process on ``local[nproc]`` with the repository root on ``PYTHONPATH``,
checks every output against its reference, writes a JSON
artifact under ``.perfbench_work/results/`` and prints, as its last line,
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` enables a Spark event log and
per-operation job groups and reports the per-layer metrics instead.

Everything the run writes (landing files, silver tables, checkpoints,
Spark scratch, temp dirs, the event log) stays under ``.perfbench_work/``
in the tree the benchmark runs from.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "comp5339dataengineering_realtimefuelanalysis_spark"
WORKLOADS = ("fuel_stream", "registry_curation")
SETUP_GROUP, CHECK_GROUP, IDLE_GROUP = "perfbench.setup", "perfbench.check", "perfbench.idle"

sys.path.insert(0, str(HERE))


class Op:
    """One timed operation: wall time, of which ``build_s`` went to
    driver-side plan construction and ``exec_s`` to the action that
    executes it."""

    def __init__(self, name: str):
        self.name = name
        self.build_s = 0.0
        self.exec_s = 0.0
        self.wall_s = 0.0


class Context:
    """What a workload needs from the harness: the session, a private
    work directory, the timed-region markers and per-operation tracing."""

    def __init__(self, spark, work: Path, trace: bool):
        self.spark = spark
        self.work = work
        self.trace = trace
        self.ops: list[Op] = []
        # (name, epoch start, epoch end, job groups whose jobs it waited on)
        self.spans: list[tuple[str, float, float, tuple[str, ...]]] = []
        self.group_names: dict[str, str] = {}
        # job groups of set-up work, left out of the timed totals
        self.setup_groups = {SETUP_GROUP}
        self.timed: tuple[float, float] | None = None
        self._rss = None
        self._cpu0 = None
        self.steal_pct = None
        self.peak_rss_mb = None

    def _set_group(self, group: str) -> None:
        if self.trace:
            self.spark.sparkContext.setJobGroup(group, group)

    def begin_timed(self) -> None:
        from host import RssSampler, cpu_sample

        self._set_group(IDLE_GROUP)
        self._cpu0 = cpu_sample()
        self._rss = RssSampler(self.spark.sparkContext._gateway.proc.pid)
        self._rss.__enter__()
        self.timed = (time.time(), 0.0)

    def end_timed(self) -> None:
        from host import cpu_sample, steal_pct

        self.timed = (self.timed[0], time.time())
        self._rss.__exit__(None, None, None)
        self.peak_rss_mb = self._rss.peak_mb
        self.steal_pct = steal_pct(self._cpu0, cpu_sample())

    def name_group(self, group: str, name: str) -> None:
        """Label a job group Spark chose (a streaming query's runId)."""
        self.group_names[group] = name

    def record_span(self, name: str, t0: float, t1: float, groups) -> None:
        self.spans.append((name, t0, t1, tuple(groups)))

    @contextlib.contextmanager
    def op(self, name: str):
        op = Op(name)
        self._set_group(name)
        t0, p0 = time.time(), time.perf_counter()
        try:
            yield op
        finally:
            op.wall_s = time.perf_counter() - p0
            self._set_group(IDLE_GROUP)
            self.ops.append(op)
            self.record_span(name, t0, time.time(), (name,))

    @contextlib.contextmanager
    def check_group(self):
        self._set_group(CHECK_GROUP)
        try:
            yield
        finally:
            self._set_group(IDLE_GROUP)


def _prepare_env(work: Path) -> None:
    """Point every scratch location of Python, the JVM and Spark inside
    ``work`` and put the repository root on the workers' PYTHONPATH."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    from host import nproc

    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc()))
    # these inputs need far less than get_spark's 8g default, with which
    # a fuel run's RSS reached 6.8 GB
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    sys.path.insert(0, str(ROOT))


def _session_conf(work: Path, trace: bool) -> dict[str, str]:
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # the traced fuel run reads every trigger's progress at the end
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
    }
    if trace:
        (work / "eventlog").mkdir(exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(work / "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def _warm_up(spark) -> None:
    """One small shuffle job, so the first timed job does not pay for the
    session's first scheduling and code generation."""
    spark.range(0, 20000, 1, 4).selectExpr("id % 97 AS k").groupBy("k").count().collect()


def setup(work: Path, trace: bool):
    """Start the session, which launches the driver JVM, and warm it up.
    Returns the session, the time ``get_spark`` took and the time to the
    end of the warm-up."""
    from comp5339dataengineering_realtimefuelanalysis_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=_session_conf(work, trace))
    start_s = time.perf_counter() - t0
    if trace:
        spark.sparkContext.setJobGroup(SETUP_GROUP, SETUP_GROUP)
    spark.sparkContext.setLogLevel("ERROR")
    _warm_up(spark)
    return spark, start_s, time.perf_counter() - t0


def _trace_layers(ctx: Context, work: Path, app_id: str) -> dict:
    """Fold the event log into the generic per-layer metrics."""
    import eventlog

    logs = [p for p in (work / "eventlog").iterdir() if app_id in p.name]
    log = eventlog.parse_file(str(logs[0]))
    lo, hi = ctx.timed
    skip = ctx.setup_groups | {CHECK_GROUP, ""}
    timed = log.total(lambda g: g not in skip)
    gaps = {}
    for name, t0, t1, groups in ctx.spans:
        spans = [s for g in groups for s in log.groups.get(g, eventlog.GroupTotals()).spans]
        gaps[name] = (t1 - t0) - eventlog.covered(spans, t0, t1)
    layers = {
        "spark.jobs": timed.jobs,
        "spark.stages": timed.stages,
        "spark.tasks": timed.tasks,
        "spark.executor_run_s": timed.executor_run_s,
        "spark.executor_cpu_s": timed.executor_cpu_s,
        "spark.gc_s": timed.gc_s,
        "spark.shuffle_read_mb": timed.shuffle_read_mb,
        "spark.shuffle_write_mb": timed.shuffle_write_mb,
        "spark.spill_mb": timed.spill_mb,
        "spark.driver_gap_s": sum(gaps.values()),
        "python.worker_s": timed.python_worker_s,
        "python.boot_s": timed.python_boot_s,
        "python.sent_mb": timed.python_sent_mb,
    }
    per_group = {}
    for g, t in log.groups.items():
        if g in skip:
            continue
        name = ctx.group_names.get(g, g)
        per_group[name] = {k: v for k, v in vars(t).items() if k != "spans"}
        per_group[name]["job_span_s"] = eventlog.covered(t.spans, lo, hi)
    return {"layers": layers, "per_group": per_group, "gaps": gaps}


def _stop_jvm() -> None:
    """Close the driver JVM's stdin, which is PySpark's signal for it to
    exit, and wait for it, so that no process outlives the run."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def _overhead(results_dir: Path, workload: str, seed: int, traced: dict) -> dict | None:
    """Traced minus untraced end-to-end values, when an untraced run of
    the same workload and seed left its artifact."""
    path = results_dir / f"{workload}-seed{seed}-trace0.json"
    if not path.exists():
        return None
    base = json.loads(path.read_text()).get("end_to_end", {})
    return {
        k: {"traced": v, "untraced": base[k], "delta": v - base[k]}
        for k, v in traced.items()
        if k in base
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    trace = bool(args.trace)

    if not (ROOT / PACKAGE).is_dir():
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2

    state = ROOT / ".perfbench_work"
    results_dir = state / "results"
    results_dir.mkdir(parents=True, exist_ok=True)
    work = state / f"run-{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    _prepare_env(work)

    import host

    spark = None
    try:
        spark, start_s, setup_s = setup(work, trace)
        ctx = Context(spark, work, trace)
        if args.workload == "fuel_stream":
            import fuel_stream

            res = fuel_stream.run(ctx, args.seed, args.seconds)
        else:
            import registry_workloads

            res = registry_workloads.run(ctx, args.seed, HERE)
        app_id = spark.sparkContext.applicationId
        spark.stop()
        spark = None

        # the workload's own warm-up (fuel: a throwaway pipeline run) is
        # set-up too
        ends = {"setup_s": setup_s + res["warmup_s"], **res["end_to_end"]}
        layers = {
            "memory.peak_rss_mb": ctx.peak_rss_mb,
            "session.start_s": start_s,
            "plans.build_s": sum(op.build_s for op in ctx.ops),
            "plans.exec_s": sum(op.exec_s for op in ctx.ops),
        }
        per_group = {}
        if trace:
            folded = _trace_layers(ctx, work, app_id)
            layers.update(folded["layers"])
            per_group = folded["per_group"]
            walls = {op.name: op.wall_s for op in ctx.ops}
            for q in res.get("focus", ()):
                g = per_group.get(q, {})
                layers[f"{q}.wall_s"] = walls[q]
                layers[f"{q}.executor_run_s"] = g.get("executor_run_s", 0.0)
                layers[f"{q}.shuffle_write_mb"] = g.get("shuffle_write_mb", 0.0)
                layers[f"{q}.python.worker_s"] = g.get("python_worker_s", 0.0)
                layers[f"{q}.driver_gap_s"] = folded["gaps"][q]
        layers.update(res["layers"])
        failures = res["failures"]
        artifact = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "host": host.host_record(ROOT, ctx.steal_pct),
            "end_to_end": ends,
            "detail": res["detail"],
            "layers": layers,
            "per_group": per_group,
            "attempted": res["attempted"],
            "failures": failures,
        }
        if trace:
            artifact["tracing_overhead"] = _overhead(
                results_dir, args.workload, args.seed, ends
            )
        out_path = results_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
        out_path.write_text(json.dumps(artifact, indent=1, default=str))
    finally:
        if spark is not None:
            spark.stop()
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    for f in failures:
        print(f"perfbench: FAILED {f}")
    print(f"perfbench: artifact {out_path.relative_to(ROOT)}")
    if trace:
        print(f"perfbench: layers {json.dumps(layers)}")
        print(f"perfbench: tracing overhead {json.dumps(artifact['tracing_overhead'])}")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    source, wanted = (layers, spec["per_layer"]) if trace else (ends, spec["end_to_end"])
    metrics = {}
    for m in wanted:
        # A count or size of a layer this workload does not use (streaming
        # state in a registry run, Python-worker bytes in the fuel run) is
        # a true zero; a missing time is a bug.
        value = source[m["name"]] if m["unit"] in ("s", "ms") else source.get(m["name"], 0)
        metrics[m["name"]] = {"value": float(value), "unit": m["unit"]}
    print(
        json.dumps(
            {
                "correct": not failures,
                "attempted": res["attempted"],
                "failed": min(len(failures), res["attempted"]),
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
