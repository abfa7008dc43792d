#!/usr/bin/env python3
"""Benchmark of the ingest engine on the seeded grown fixture.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

One client runs the workload's queries one after another (a closed loop)
on ``local[<cores> / 2]`` with the engine's own session defaults. A query
is timed from the call into its registry function until a ``noop`` write
has materialized its result.

The engine gets half the cores because each Spark task thread has
company: the Python worker it feeds Arrow batches to, and the JVM's JIT
and GC threads. On a 4-core machine, ``llm_prep`` warm passes took a
median 4.05 s on ``local[4]`` and 4.02 s on ``local[2]`` over the same
five seeds, with inter-quartile ranges of 0.24 and 0.09 of the median.

``--trace 0`` reports the end-to-end metrics:

- ``setup_s``: median of three set-ups on the running JVM. Each stops
  the session, builds a new one, imports the registry afresh and loads
  the tables.
- ``first_pass_s``: the first pass, with a cold JIT and empty caches.
- ``pass_s``: median wall time of the warm passes. After the first
  pass, unmeasured warm-up passes run until ``WARMUP_S`` have passed (at
  least one), while the JIT is still compiling: the second pass runs
  10-25% slower than later ones, and on ``llm_prep`` the third still
  runs slower than the fourth. Then warm passes start until
  ``--seconds`` have passed since the first of them (at least one).
- ``query_s.geomean``: geometric mean, over the workload's queries, of
  each query's median latency in the warm passes. A median pooled over
  all latencies lands in the gap between two clusters of query latencies
  and jumps across it from run to run.

Two whole-run figures are single samples dominated by JVM noise (launch
time, heap sizing), so they are reported with the per-layer metrics
rather than bounded, and logged on stderr in every run:

- ``cold_setup_s``: from the first import of the engine until the
  session is built, the registry imported and the fixture tables loaded
  (it includes importing PySpark and launching the JVM).
- ``peak_rss_mb``: peak summed resident memory of the driver JVM and the
  Python workers.

``--trace 1`` runs two warm-up passes, then a traced pass that records
build, plan and execute spans around each query and attributes Spark's
status-store counters to them, then an untraced pass for the tracing
overhead, then a warm-up and a timed pass on a fresh ``local[1]``
session for the scaling ratio against the benchmark's own master. It
reports the per-layer metrics.

Either way, the last timed pass's results are then checked against the
DuckDB oracle in the same session, and a deliberately perturbed result
must fail that check. Only that pass keeps its DataFrames; the others
drop theirs when they end, so the blocks their queries cached or
checkpointed can be cleaned up as in a script that runs each query
once. The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``.

Each run gets its own temp, Spark-local, JVM-temp and warehouse
directories under ``perfbench/.run/`` and removes them at the end.
Fixtures and oracle answers are cached under ``perfbench/.cache/``.
"""
from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import fixture, oracle, probe  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    LAYERS, WORKLOADS, WRITING_LAYERS, layer_of, structure_errors)

#: task threads of the engine's master, ``local[CPUS]`` (see above)
CPUS = max(1, len(os.sched_getaffinity(0)) // 2)
RUNS = Path(__file__).resolve().parent / ".run"
PACKAGE = "manual_data_ingest_spark"
RESETUPS = 3
WARMUP_S = 6.0

SPAN_FIELDS = ("build_s", "plan_s", "exec_s", "eager_jobs", "stages",
               "executor_run_s", "executor_cpu_s", "shuffle_write_mb",
               "peak_exec_mem_mb")


def unit_of(name: str) -> str:
    if name.endswith("_s") or "_s." in name:
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("jobs", "stages")):
        return "count"
    return "ratio"


# --------------------------------------------------------------- run dirs

def isolate(run_dir: Path) -> dict[str, Path]:
    """Point every temp and local directory of this run into ``run_dir``."""
    dirs = {k: run_dir / k for k in ("tmp", "local", "jvm", "warehouse")}
    for d in dirs.values():
        d.mkdir(parents=True)
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["TMPDIR"] = str(dirs["tmp"])
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(dirs["local"])
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        "--driver-java-options",
        f"-Djava.io.tmpdir={dirs['jvm']} -XX:-UsePerfData",
        "--conf", f"spark.sql.warehouse.dir={dirs['warehouse']}",
        "pyspark-shell"])
    # Python workers import the engine package by name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    return dirs


def reap_stale_runs() -> None:
    if not RUNS.is_dir():
        return
    for d in RUNS.iterdir():
        if not (d.name.isdigit() and Path(f"/proc/{d.name}").exists()):
            shutil.rmtree(d, ignore_errors=True)


def stop_spark(spark) -> None:
    """Stop Spark, the JVM and its Python workers, and wait for them."""
    from pyspark import SparkContext

    started = probe.descendants()
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            gateway.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()
    deadline = time.monotonic() + 30
    while any(map(probe.alive, started)) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in filter(probe.alive, started):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:  # it ended after all
            pass


# ----------------------------------------------------------------- engine

@dataclass
class Engine:
    spark: object
    queries: dict
    oracles: dict
    slow_twins: dict
    split: dict[str, float]   # set-up seconds by layer

    @property
    def total_s(self) -> float:
        return sum(self.split.values())


def set_up(sf_dir: Path, master: str | None = None,
           spark=None) -> Engine:
    """Build the session, import the registry, load the fixture tables.

    With ``spark`` given, that session is stopped first and the engine
    package is imported afresh; the JVM keeps running.
    """
    if spark is not None:
        spark.stop()
        for name in [m for m in sys.modules
                     if m == PACKAGE or m.startswith(PACKAGE + ".")]:
            del sys.modules[name]
    t0 = time.perf_counter()
    from manual_data_ingest_spark.session import get_spark
    spark = get_spark("perfbench", master)
    t1 = time.perf_counter()
    from manual_data_ingest_spark import registry
    queries, oracles = registry.all_queries(), registry.all_oracles()
    twins = registry.slow_twins()
    t2 = time.perf_counter()
    from manual_data_ingest_spark.io import load_all
    load_all(spark, str(sf_dir))
    t3 = time.perf_counter()
    return Engine(spark, queries, oracles, twins,
                  {"session.start_s": t1 - t0, "registry.import_s": t2 - t1,
                   "io.load_s": t3 - t2})


# ----------------------------------------------------------------- passes

@dataclass
class Pass:
    wall: float = 0.0
    times: dict[str, float] = field(default_factory=dict)
    frames: dict = field(default_factory=dict)
    spans: dict[str, dict[str, float]] = field(default_factory=dict)
    failures: list[str] = field(default_factory=list)


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def run_pass(eng: Engine, names, sf_dir: Path, tracer=None) -> Pass:
    """Run each query once in order; with ``tracer``, record spans."""
    p = Pass()
    t0 = time.perf_counter()
    for name in names:
        fn = eng.queries[name]
        try:
            if tracer is None:
                q0 = time.perf_counter()
                df = fn(eng.spark, str(sf_dir))
                _noop(df)
                p.times[name] = time.perf_counter() - q0
            else:
                df, p.spans[name] = tracer(fn)
                p.times[name] = sum(p.spans[name][k]
                                    for k in ("build_s", "plan_s", "exec_s"))
            p.frames[name] = df
        except Exception as exc:  # a failing query is counted, not fatal
            p.failures.append(f"{name}: {type(exc).__name__}: {exc}")
    p.wall = time.perf_counter() - t0
    return p


def make_tracer(eng: Engine, sf_dir: Path, tmp_roots):
    """Time a query as an untraced pass does, split into spans.

    ``build_s`` is the registry call, with any jobs it runs eagerly. The
    ``noop`` write plans the query once, as in an untraced pass: its
    ``plan_s`` lasts until the write's first job is submitted and its
    ``exec_s`` from there until the write returns.
    """
    jobs = probe.JobProbe(eng.spark)

    def traced(fn):
        bytes0 = probe.dir_bytes(*tmp_roots)
        j0 = jobs.last_job_id()
        t0 = time.perf_counter()
        df = fn(eng.spark, str(sf_dir))
        t1 = time.perf_counter()
        j1 = jobs.last_job_id()
        w0 = time.time()  # the status store's clock
        t2 = time.perf_counter()
        _noop(df)
        t3 = time.perf_counter()
        j2 = jobs.last_job_id()
        write_s = t3 - t2
        plan_s = (min(max(jobs.submitted_s(j1 + 1) - w0, 0.0), write_s)
                  if j2 > j1 else write_s)
        span = {"build_s": t1 - t0, "plan_s": plan_s,
                "exec_s": write_s - plan_s, "eager_jobs": float(j1 - j0),
                "tmp_write_mb": (probe.dir_bytes(*tmp_roots) - bytes0) / 1e6}
        span.update(jobs.counters(j0 + 1, j2))
        del span["jobs"]
        return df, span

    return traced


def check_pass(p: Pass, names, answers) -> tuple[list[str], bool]:
    """Check the pass's results; returns failures and the self-test verdict."""
    failures, self_test = [], None
    for name in names:
        if name not in p.frames:
            failures.append(f"{name}: no result to check")
            continue
        try:
            pdf = p.frames[name].toPandas()
        except Exception as exc:  # a failing query is counted, not fatal
            failures.append(f"{name}: check: {type(exc).__name__}: {exc}")
            continue
        why = oracle.mismatch(oracle.summarize(pdf), answers[name])
        if why:
            failures.append(f"{name}: oracle mismatch: {why}")
        if self_test is None and len(pdf):
            bad = oracle.summarize(oracle.perturbed(pdf))
            self_test = oracle.mismatch(bad, answers[name]) is not None
    return failures, bool(self_test)


# ---------------------------------------------------------------- metrics

def layer_metrics(eng: Engine, names, traced: Pass) -> dict[str, float]:
    out = {}
    for layer in LAYERS:
        spans = [traced.spans[n] for n in names
                 if n in traced.spans and layer_of(eng.queries[n]) == layer]
        for f in SPAN_FIELDS:
            vals = [s[f] for s in spans]
            out[f"{layer}.{f}"] = (max(vals, default=0.0)
                                   if f == "peak_exec_mem_mb" else sum(vals))
        if layer in WRITING_LAYERS:
            out[f"{layer}.tmp_write_mb"] = sum(s["tmp_write_mb"]
                                               for s in spans)
    return out


def resetup(eng: Engine, sf_dir, log) -> tuple[Engine, dict[str, float]]:
    """Set up RESETUPS times on the running JVM; median seconds by part."""
    splits = []
    for _ in range(RESETUPS):
        eng = set_up(sf_dir, spark=eng.spark)
        splits.append({**eng.split, "setup_s": eng.total_s})
    log("set-ups " + " ".join(f"{s['setup_s']:.3f}" for s in splits) + " s")
    return eng, {k: statistics.median(s[k] for s in splits)
                 for k in splits[0]}


def _fmt(times: dict[str, float]) -> str:
    return ", ".join(f"{n} {t:.2f}" for n, t in times.items())


def timed_run(eng: Engine, names, sf_dir, seconds, log):
    eng, setup = resetup(eng, sf_dir, log)
    first = run_pass(eng, names, sf_dir)
    first.frames.clear()
    log(f"first pass {first.wall:.3f} s: {_fmt(first.times)}")
    warmup, t0 = [], time.perf_counter()
    while not warmup or time.perf_counter() - t0 < WARMUP_S:
        warmup.append(run_pass(eng, names, sf_dir))
        warmup[-1].frames.clear()
        log(f"warm-up pass {warmup[-1].wall:.3f} s: {_fmt(warmup[-1].times)}")
    warm, t0 = [], time.perf_counter()
    while not warm or time.perf_counter() - t0 < seconds:
        if warm:  # only the last pass is checked
            warm[-1].frames.clear()
        warm.append(run_pass(eng, names, sf_dir))
        log(f"warm pass {warm[-1].wall:.3f} s: {_fmt(warm[-1].times)}")
    lat = [t for p in warm for t in p.times.values()]
    per_query = [statistics.median(ts) for ts in (
        [p.times[n] for p in warm if n in p.times] for n in names) if ts]
    walls = [p.wall for p in warm]
    log(f"{len(walls)} warm passes {[round(w, 3) for w in walls]}; "
        f"{len(lat)} query latencies")
    if len(walls) > 1:
        q = statistics.quantiles(walls, n=4)
        log(f"pass_s quartiles: {q[0]:.3f} / {q[2]:.3f} s")
    metrics = {"setup_s": setup["setup_s"],
               "first_pass_s": first.wall,
               "pass_s": statistics.median(walls),
               "query_s.geomean": (statistics.geometric_mean(per_query)
                                   if per_query else 0.0)}
    samples = {"setup_s": RESETUPS, "first_pass_s": 1,
               "pass_s": len(walls), "query_s.geomean": len(lat)}
    return eng, [first, *warmup, *warm], metrics, samples


def traced_run(eng: Engine, names, sf_dir, answers, tmp_roots, log):
    eng, setup = resetup(eng, sf_dir, log)
    del setup["setup_s"]
    warmup = [run_pass(eng, names, sf_dir) for _ in range(2)]
    traced = run_pass(eng, names, sf_dir, make_tracer(eng, sf_dir, tmp_roots))
    for p in (*warmup, traced):
        p.frames.clear()
    plain = run_pass(eng, names, sf_dir)
    metrics = {**setup, **layer_metrics(eng, names, traced),
               "tracing.overhead_ratio": traced.wall / plain.wall}
    duck_s = sum(answers[n]["duck_s"] for n in names)
    metrics["comparator.duckdb_ratio"] = plain.wall / duck_s
    log(f"traced pass {traced.wall:.3f} s, untraced {plain.wall:.3f} s, "
        f"DuckDB {duck_s:.3f} s")
    return eng, [*warmup, traced, plain], metrics, {}


def scaling(eng: Engine, names, sf_dir, plain: Pass, log):
    """A pass on a fresh local[1] session over the warm ``plain`` pass
    on local[CPUS]. A warm-up pass on local[1] fills its index
    caches first, so the ratio measures parallelism alone."""
    one = set_up(sf_dir, "local[1]", spark=eng.spark)
    warmup = run_pass(one, names, sf_dir)
    warmup.frames.clear()
    p1 = run_pass(one, names, sf_dir)
    p1.frames.clear()
    log(f"local[1] warm-up pass {warmup.wall:.3f} s, pass {p1.wall:.3f} s; "
        f"local[{CPUS}] pass {plain.wall:.3f} s")
    return one, [warmup, p1], p1.wall / plain.wall


# ------------------------------------------------------------------- main

def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    names = WORKLOADS[args.workload][1]
    t_start = time.perf_counter()

    def log(msg: str) -> None:
        print(f"[perfbench {args.workload} seed={args.seed}] {msg}",
              file=sys.stderr, flush=True)

    reap_stale_runs()
    run_dir = RUNS / str(os.getpid())
    dirs = isolate(run_dir)
    # where sink outputs and stream checkpoints go; the Spark-local dir
    # holds shuffle blocks that Spark deletes on its own schedule
    tmp_roots = (dirs["tmp"], dirs["jvm"])
    eng = None
    try:
        t_fix = time.perf_counter()
        sf_dir = fixture.fixture_dir(args.seed)
        fixture_s = time.perf_counter() - t_fix
        with probe.PeakRss() as rss:
            eng = set_up(sf_dir)
            cold_setup_s = eng.total_s
            log(f"fixture {sf_dir.name} ({fixture_s:.1f} s); cold set-up "
                f"{cold_setup_s:.3f} s: "
                + ", ".join(f"{k} {v:.3f}" for k, v in eng.split.items()))
            errors = structure_errors(names, eng.queries, eng.oracles,
                                      eng.slow_twins)
            if errors:
                raise SystemExit("structure check failed:\n  "
                                 + "\n  ".join(errors))
            t_oracle = time.perf_counter()
            answers = oracle.expected(
                sf_dir, args.workload,
                {n: eng.oracles[n] for n in names}, dirs["tmp"])
            log(f"oracle answers ready in "
                f"{time.perf_counter() - t_oracle:.1f} s")
            empty = [n for n in names if answers[n]["rows"] == 0]
            if empty:
                raise SystemExit("structure check failed: zero rows on the "
                                 "fixture: " + ", ".join(empty))
            if args.trace:
                eng, passes, metrics, samples = traced_run(
                    eng, names, sf_dir, answers, tmp_roots, log)
            else:
                eng, passes, metrics, samples = timed_run(
                    eng, names, sf_dir, args.seconds, log)
            t_check = time.perf_counter()
            failures, self_test = check_pass(passes[-1], names, answers)
            log(f"check pass {time.perf_counter() - t_check:.1f} s")
            if args.trace:
                eng, ones, metrics["scaling.local1_ratio"] = scaling(
                    eng, names, sf_dir, passes[-1], log)
                passes += ones
        whole_run = {"cold_setup_s": cold_setup_s, "peak_rss_mb": rss.peak_mb}
        if args.trace:
            metrics.update(whole_run)
        left_mb = probe.dir_bytes(run_dir) / 1e6
    finally:
        t_stop = time.perf_counter()
        if eng is not None:
            stop_spark(eng.spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        log(f"stopped in {time.perf_counter() - t_stop:.1f} s")

    failures = [f for p in passes for f in p.failures] + failures
    attempted = sum(len(names) for _ in passes) + len(names)
    for f in failures:
        log(f"FAILED {f}")
    if not self_test:
        log("FAILED self-test: a perturbed result passed the oracle check")
    log(", ".join(f"{k} {v:.6g}" for k, v in whole_run.items()))
    log(f"self-test {'ok' if self_test else 'FAILED'}; "
        f"{left_mb:.1f} MB left in the run's temp dirs; run took "
        f"{time.perf_counter() - t_start:.1f} s")
    for name, value in metrics.items():
        n = f" (n={samples[name]})" if name in samples else ""
        print(f"{name} {value:.6g} {unit_of(name)}{n}")
    print(f"failed_share {len(failures) / attempted:.6g} "
          f"({len(failures)}/{attempted})")
    print(json.dumps({
        "correct": not failures and self_test,
        "attempted": attempted, "failed": len(failures),
        "metrics": {k: {"value": v, "unit": unit_of(k)}
                    for k, v in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
