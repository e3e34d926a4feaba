"""The ``fuel_stream`` workload: the paper's streaming topology.

Before the timed phases, a throwaway pipeline in directories of its own
processes a copy of the first backfill envelope and of the first
``WARM_POLLS`` polls, each poll followed by a dashboard refresh, so that
the timed phases measure rows and triggers rather than the JVM's first
code generation and compilation of these plans. Phase A (backfill) lands
the large envelopes, starts ``FuelStreamingPipeline`` and waits until
every query has processed them. Phase B (polls) is a closed loop with
one client: land one small poll, wait until every streaming query has
committed it, then refresh the dashboard (Q1 from the live table,
``gold_q2()`` and ``gold_q3()`` over silver), then land the next poll.
"""

from __future__ import annotations

import os
import threading
import time
from collections import Counter
from pathlib import Path

from pyspark.sql.streaming import StreamingQueryListener

import fuelgen
import stats

STALL_TIMEOUT_S = 60.0
# In a fresh JVM the poll cycle falls by about a third over the first
# polls as the per-trigger and dashboard code is compiled; the warm-up
# pipeline runs that many. Phase B then lands polls until --seconds have
# passed, never fewer than MIN_POLLS.
WARM_POLLS = 2
MIN_POLLS = 5
MAX_POLLS = 400
QUERY_NAMES = ("prices", "q1", "stations")


def _land(landing: Path, index: int, payload: bytes) -> None:
    """Write then rename, as the poller does: readers never see a
    partial file."""
    tmp = landing / f".{fuelgen.landing_name(index)}.tmp"
    tmp.write_bytes(payload)
    os.rename(tmp, landing / fuelgen.landing_name(index))


class Commits(StreamingQueryListener):
    """Landed files (one JSON line each) every streaming query has
    committed, from its progress events. Waiting on these events instead
    of polling ``lastProgress`` keeps the load generator off the driver's
    cores while it waits."""

    def __init__(self):
        self.cond = threading.Condition()
        self.files: Counter = Counter()  # runId -> files committed
        self.last_batch: dict[str, int] = {}  # runId -> last data batch
        self.failed: dict[str, str] = {}

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        if p.numInputRows:
            with self.cond:
                self.files[str(p.runId)] += p.numInputRows
                self.last_batch[str(p.runId)] = p.batchId
                self.cond.notify_all()

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self.cond:
            if event.exception:
                self.failed[str(event.runId)] = event.exception
            self.cond.notify_all()

    def wait(self, queries, n: int, timeout_s: float) -> bool:
        """True once every query has committed ``n`` files; False on
        timeout."""
        runs = [str(q.runId) for q in queries]

        def done() -> bool:
            failed = [self.failed[r] for r in runs if r in self.failed]
            if failed:
                raise RuntimeError(f"streaming query failed: {failed[0][:300]}")
            return all(self.files[r] >= n for r in runs)

        with self.cond:
            return self.cond.wait_for(done, timeout_s)


class SinkTimer:
    """Times the sink calls ``streaming/runners.py`` makes inside
    ``foreachBatch`` by rebinding the names that module imported. Only
    installed in the traced run."""

    WRAPPED = {
        "append_prices_partitioned": "silver",
        "quarantine": "rejects",
        "append_parquet": "stations",
    }

    def __init__(self):
        self.phase = "backfill"
        self.ms: Counter = Counter()
        self._saved: dict = {}

    def install(self, runners) -> None:
        for name, label in self.WRAPPED.items():
            orig = getattr(runners, name)
            self._saved[name] = orig
            setattr(runners, name, self._wrap(orig, label))

    def uninstall(self, runners) -> None:
        for name, orig in self._saved.items():
            setattr(runners, name, orig)

    def _wrap(self, fn, label):
        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.ms[f"{self.phase}.{label}"] += (time.perf_counter() - t0) * 1e3

        return timed


def _progress_by_phase(q, last_backfill_batch: int) -> dict:
    """Per-phase sums of one query's trigger durations (ms), from
    ``recentProgress``."""
    out = {ph: Counter() for ph in ("backfill", "poll")}
    seen = set()
    for p in q.recentProgress:
        if not p.get("numInputRows") or p["batchId"] in seen:
            continue
        seen.add(p["batchId"])
        d = p.get("durationMs") or {}
        c = out["backfill" if p["batchId"] <= last_backfill_batch else "poll"]
        c["triggers"] += 1
        c["trigger_ms"] += d.get("triggerExecution", 0)
        c["add_batch_ms"] += d.get("addBatch", 0)
        c["planning_ms"] += d.get("queryPlanning", 0)
        c["commit_ms"] += d.get("walCommit", 0) + d.get("commitOffsets", 0)
        c["latest_offset_ms"] += d.get("latestOffset", 0)
    return out


def _dir_stats(path: Path) -> tuple[int, float]:
    files, size = 0, 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size / (1024 * 1024)


def _pipeline(runners, spark, base: Path, q1_table: str):
    landing = base / "landing"
    landing.mkdir(parents=True)
    pipe = runners.FuelStreamingPipeline(
        spark,
        landing_dir=str(landing),
        warehouse_dir=str(base / "wh"),
        checkpoint_dir=str(base / "ckpt"),
        q1_table=q1_table,
    )
    return pipe, landing


def _refresh(spark, pipe) -> tuple[dict, float, dict]:
    """The dashboard: Q1 from the live table, Q2 and Q3 over silver.
    Returns the fetched tables, the time to build the three frames in s
    and the fetch time of each in ms."""
    t0 = time.perf_counter()
    frames = {
        "q1": spark.table(pipe.q1_table),
        "q2": pipe.gold_q2(),
        "q3": pipe.gold_q3(),
    }
    build_s = time.perf_counter() - t0
    tables, ms = {}, {}
    for key, df in frames.items():
        t0 = time.perf_counter()
        tables[key] = df.toArrow()
        ms[key] = (time.perf_counter() - t0) * 1e3
    return tables, build_s, ms


def _warm_up(ctx, runners, commits: Commits, payloads: list[bytes]) -> float:
    """Run a throwaway pipeline over ``payloads`` (one trigger each, a
    dashboard refresh after every one but the first); return its wall
    time."""
    t0 = time.perf_counter()
    pipe, landing = _pipeline(runners, ctx.spark, ctx.work / "warmup", "q1_warmup")
    _land(landing, 0, payloads[0])
    queries = pipe.start()
    ctx.setup_groups.update(str(q.runId) for q in queries)
    try:
        for i, payload in enumerate(payloads):
            if i:
                _land(landing, i, payload)
            if not commits.wait(queries, i + 1, STALL_TIMEOUT_S):
                raise RuntimeError("warm-up envelope not committed within the stall timeout")
            if i:
                _refresh(ctx.spark, pipe)
    finally:
        for q in queries:
            q.stop()
    return time.perf_counter() - t0


def run(ctx, seed: int, seconds: float) -> dict:
    from comp5339dataengineering_realtimefuelanalysis_spark.streaming import runners

    spark = ctx.spark
    shape = fuelgen.FuelShape()
    ref = fuelgen.Reference()

    payloads = []
    for i in range(shape.backfill_envelopes):
        env = fuelgen.envelope(seed, i, shape)
        ref.add(env)
        payloads.append(fuelgen.encode(env))

    warm = [fuelgen.encode(fuelgen.envelope(seed, shape.backfill_envelopes + k, shape))
            for k in range(WARM_POLLS)]
    commits = Commits()
    spark.streams.addListener(commits)
    warmup_s = _warm_up(ctx, runners, commits, payloads[:1] + warm)
    sinks = SinkTimer()
    if ctx.trace:
        sinks.install(runners)
    pipe, landing = _pipeline(runners, spark, ctx.work / "fuel", "q1_live")
    out: dict = {"backfill_rows": ref.raw_rows, "warmup_s": warmup_s}
    queries = []
    failures: list[str] = []
    attempted = 1
    latencies, dashboards = [], []
    dash_parts = {k: [] for k in ("q1", "q2", "q3")}
    last: dict = {}
    try:
        # --- Phase A: backfill ------------------------------------------
        ctx.begin_timed()
        t0, e0 = time.perf_counter(), time.time()
        for i, payload in enumerate(payloads):
            _land(landing, i, payload)
        queries = pipe.start()
        groups = [str(q.runId) for q in queries]
        for group, name in zip(groups, QUERY_NAMES):
            ctx.name_group(group, f"streaming.{name}")
        if not commits.wait(queries, len(payloads), STALL_TIMEOUT_S):
            raise RuntimeError("backfill not committed within the stall timeout")
        out["backfill_s"] = time.perf_counter() - t0
        ctx.record_span("backfill", e0, time.time(), groups)
        last_backfill = [commits.last_batch[g] for g in groups]
        sinks.phase = "poll"

        # --- Phase B: closed-loop polls -----------------------------------
        index = shape.backfill_envelopes
        t_phase = time.perf_counter()
        while len(latencies) < MAX_POLLS and (
            len(latencies) < MIN_POLLS or time.perf_counter() - t_phase < seconds
        ):
            env = fuelgen.envelope(seed, index, shape)
            ref.add(env)
            payload = fuelgen.encode(env)
            attempted += 1
            t_land, e_land = time.perf_counter(), time.time()
            _land(landing, index, payload)
            index += 1
            if not commits.wait(queries, index, STALL_TIMEOUT_S):
                failures.append(f"poll {index - 1}: not committed in {STALL_TIMEOUT_S:.0f} s")
                break
            latencies.append((time.perf_counter() - t_land) * 1e3)
            ctx.record_span(f"poll.{len(latencies)}", e_land, time.time(), groups)

            with ctx.op(f"dashboard.{len(dashboards)}") as op:
                last, op.build_s, ms = _refresh(spark, pipe)
                op.exec_s = sum(ms.values()) / 1e3
            for key, v in ms.items():
                dash_parts[key].append(v)
            dashboards.append(op.wall_s * 1e3)
        ctx.end_timed()
    finally:
        for q in queries:
            q.stop()
        spark.streams.removeListener(commits)
        if ctx.trace:
            sinks.uninstall(runners)

    # --- checks (outside the timed region) -------------------------------
    with ctx.check_group():
        failures += _check(spark, pipe, ref, last)
    cycles = [a + b for a, b in zip(latencies, dashboards)]
    out["polls"] = len(latencies)
    out["poll_latency_ms_p50"] = stats.median(latencies)
    out["dashboard_ms_p50"] = stats.median(dashboards)
    out["cycle_ms_p50"] = stats.median(cycles)
    out["backfill_rows_per_s"] = out["backfill_rows"] / out["backfill_s"]
    out["samples"] = {"poll_latency_ms": latencies, "dashboard_ms": dashboards}
    ends = {
        "pass_s": out["backfill_s"],
        "latency_ms": out["cycle_ms_p50"],
    }
    layers = {}
    if ctx.trace:
        for name, q in zip(QUERY_NAMES, queries):
            per = _progress_by_phase(q, last_backfill[QUERY_NAMES.index(name)])
            for phase, c in per.items():
                for k in ("trigger_ms", "add_batch_ms", "planning_ms", "commit_ms",
                          "latest_offset_ms", "triggers"):
                    layers[f"streaming.{name}.{phase}.{k}"] = c[k]
        q1 = queries[1].lastProgress or {}
        state = (q1.get("stateOperators") or [{}])[0]
        layers["streaming.q1.state_rows"] = state.get("numRowsTotal", 0)
        layers["streaming.q1.state_mb"] = state.get("memoryUsedBytes", 0) / (1024 * 1024)
        for phase in ("backfill", "poll"):
            for label in ("silver", "rejects", "stations"):
                layers[f"sinks.{phase}.{label}_ms"] = sinks.ms[f"{phase}.{label}"]
        files, mb = _dir_stats(Path(pipe.prices_path))
        layers["sinks.silver_files"] = files
        layers["sinks.silver_mb"] = mb
        for key, values in dash_parts.items():
            layers[f"dashboard.{key}_ms"] = stats.median(values)
    return {
        "attempted": attempted,
        "failures": failures,
        "warmup_s": warmup_s,
        "end_to_end": ends,
        "detail": out,
        "layers": layers,
    }


def _check(spark, pipe, ref: fuelgen.Reference, last: dict) -> list[str]:
    """Silver, rejects and the last dashboard refresh against the
    pure-Python reference."""
    bad = []

    def expect(what, got, want):
        if got != want:
            bad.append(f"{what}: got {_short(got)}, want {_short(want)}")

    expect("silver price rows", pipe.silver_prices().count(), len(ref.prices))
    expect("silver station rows", pipe.silver_stations().count(), len(ref.stations))
    rejects = {
        r["reason"]: r["count"]
        for r in spark.read.parquet(f"{pipe.rejects_path}/prices")
        .groupBy("reason").count().collect()
    }
    expect("rejects by reason", rejects, dict(ref.rejects))
    if len(last) < 3:
        bad.append("no dashboard refresh completed")
        return bad
    q1_table, q2_table, q3_table = last["q1"], last["q2"], last["q3"]
    q1 = dict(zip(q1_table.column("fueltype").to_pylist(),
                  q1_table.column("avg_price").to_pylist()))
    expect("live Q1", q1, ref.q1())
    cols = ["name", "brand", "address", "location_latitude", "location_longitude"]
    keys = zip(*(q2_table.column(c).to_pylist() for c in cols))
    q2 = dict(zip(keys, q2_table.column("fuelinfo").to_pylist()))
    expect("gold Q2", q2, ref.q2())
    fuels = q3_table.column("fueltype").to_pylist()
    expect("gold Q3 series length", dict(Counter(fuels)), ref.q3())
    ts = q3_table.column("lastupdated").to_pylist()
    if list(zip(fuels, ts)) != sorted(zip(fuels, ts)):
        bad.append("gold Q3: series not ordered by (fueltype, lastupdated)")
    return bad


def _short(v) -> str:
    s = repr(v)
    return s if len(s) < 300 else s[:300] + "..."
