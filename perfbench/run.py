"""Seeded, oracle-checked benchmark of the ferrobus_spark engine.

    python3 perfbench/run.py --workload spatial_scan --seed 1 --seconds 10 --trace 0

One process is one closed-loop client on ``local[nproc]``. It generates the
workload's inputs from the seed, starts a Spark session, makes one untimed
warm pass, then repeats timed passes for ``--seconds`` (at least two; the
second half are reported). Every call's result is checked by an
order-insensitive digest against its DuckDB ``oracle_sql()`` twin (see
check.py). With ``--trace 1`` two more passes run with the Spark event
log attached, rolled up per layer (see tracing.py).

Two lines go to stdout: a full report (every metric, quartiles, failures,
phase times), and last the result object with exactly the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.

All state lives under ``.perfbench_work/`` at the repository root: the
inputs, the Spark local and checkpoint dirs and the event log (cleared on
every run), and the oracle and transit-model caches (kept).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(REPO, ".perfbench_work")
RUN = os.path.join(WORK, "run")
CALL_TIMEOUT_S = 60.0
MIN_PASSES, MAX_PASSES = 2, 50
TRACED_PASSES = 2
PAGERANK_ROUNDS = 8  # host_pagerank's n_iter
HEAP = "2g"  # driver JVM heap (local mode: the executors share it)


def process_age_s() -> float:
    """Seconds since this process was started, from /proc (10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def configure_env(cpus: int) -> dict[str, str]:
    """Point every engine and Spark scratch location into the run dir."""
    shutil.rmtree(RUN, ignore_errors=True)
    dirs = {k: os.path.join(RUN, k) for k in ("data", "ckpt", "local", "tmp", "eventlog", "warehouse")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ.update({
        # Python workers import ferrobus_spark from the repository root
        "PYTHONPATH": os.pathsep.join(filter(None, [REPO, os.environ.get("PYTHONPATH")])),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "FERROBUS_MODEL_CACHE": os.path.join(WORK, "model_cache"),
        "SPARK_LOCAL_DIRS": dirs["local"],
        "TMPDIR": dirs["tmp"],
        "SPARK_GRAFT_ORACLE_SF_DIR": dirs["data"],
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": HEAP,
    })
    return dirs


def start_session(cpus: int, dirs: dict[str, str]):
    from ferrobus_spark.session import get_spark

    return get_spark(
        "perfbench", master=f"local[{cpus}]", shuffle_partitions=cpus,
        extra_conf={
            "spark.ferrobus.ckpt.dir": dirs["ckpt"],
            "spark.sql.warehouse.dir": dirs["warehouse"],
            # a fixed, pre-touched heap: G1 otherwise grows it in steps
            # at moments that differ run to run, which made both the pass
            # times and the RSS bimodal
            "spark.driver.extraJavaOptions": (
                f"-Xms{HEAP} -XX:+AlwaysPreTouch -Djava.io.tmpdir={dirs['tmp']}"
            ),
        },
    )


def jvm_alive(spark) -> bool:
    try:
        return not spark.sparkContext._jsc.sc().isStopped()
    except Exception:  # py4j raises a variety of errors on a dead gateway
        return False


def stop_jvm() -> None:
    """Shut the py4j gateway and wait for its JVM, which exits on stdin EOF."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    try:
        gw.shutdown()
    except Exception:  # a dead gateway cannot be shut politely
        traceback.print_exc()
    gw.proc.stdin.close()
    try:
        gw.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gw.proc.kill()
        gw.proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def stop_all(spark) -> None:
    """Stop the session and the JVM; wait for every child process to end."""
    from tracing import descendants

    try:
        spark.stop()
    except Exception:
        traceback.print_exc()
    stop_jvm()
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def restart_session(spark, cpus: int, dirs: dict[str, str]):
    """Drop a dead session and its JVM, then start a fresh one."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    stop_all(spark)
    SparkContext._active_spark_context = None
    SparkSession._instantiatedSession = SparkSession._activeSession = None
    return start_session(cpus, dirs)


class Runner:
    """Runs calls with a job group, a timeout and failure accounting."""

    def __init__(self, spark, cpus: int, dirs: dict[str, str]):
        self.spark, self.cpus, self.dirs = spark, cpus, dirs
        self.attempted = self.failed = self.mismatched = self.restarts = 0
        self.errors: list[str] = []

    def call(self, name: str, fn):
        """(seconds, result or None). A raise or timeout counts as failed."""
        sc = self.spark.sparkContext
        sc.setJobGroup(name, name, interruptOnCancel=True)
        timer = threading.Timer(CALL_TIMEOUT_S, sc.cancelJobGroup, [name])
        timer.start()
        t = time.perf_counter()
        try:
            out = fn(self.spark)
            return time.perf_counter() - t, out
        except Exception as exc:
            dt = time.perf_counter() - t
            self.fail(name, f"{type(exc).__name__}: {str(exc)[:300]}")
            if not jvm_alive(self.spark):
                self.restarts += 1
                self.spark = restart_session(self.spark, self.cpus, self.dirs)
            return dt, None
        finally:
            timer.cancel()

    def fail(self, name: str, why: str) -> None:
        self.failed += 1
        self.errors.append(f"{name}: {why}")
        print(f"perfbench: FAILED {name}: {why}", file=sys.stderr, flush=True)


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


@dataclass
class Pass:
    wall: float
    rss_mb: float
    query_s: dict[str, float]


def timed_passes(runner: Runner, calls, expect, seconds: float, sampler,
                 least: int = MIN_PASSES, spans=None) -> list[Pass]:
    """Timed passes until ``seconds`` have elapsed, at least ``least``.

    With ``spans``, one (query, start ms, end ms) span per call is added.
    """
    from check import digest

    passes: list[Pass] = []
    start = time.perf_counter()
    while len(passes) < least or (
        time.perf_counter() - start < seconds and len(passes) < MAX_PASSES
    ):
        sampler.start()
        t_pass, query_s = time.perf_counter(), {}
        for c in calls:
            t_wall = time.time()
            dt, d = runner.call(c.name, lambda spark, c=c: digest(c.build(spark)))
            if spans is not None:
                spans.append((c.name, t_wall * 1e3, (t_wall + dt) * 1e3))
            runner.attempted += 1
            query_s[c.name] = dt
            if d is not None and d != expect[c.name]:
                runner.mismatched += 1
                runner.fail(c.name, f"digest {d} vs oracle {expect[c.name]}")
        passes.append(Pass(time.perf_counter() - t_pass, sampler.stop(), query_s))
    return passes


def explain(spark, call, oracle_file: str) -> str:
    """Collect both sides of a digest mismatch and name the first difference."""
    import pandas as pd

    from check import compare

    try:
        why = compare(call.build(spark).toPandas(), pd.read_parquet(oracle_file))
    except Exception as exc:
        return f"could not collect for diagnosis: {type(exc).__name__}"
    return why or "digest differs but the rows compare equal"


def self_test(spark, calls, expect, files) -> int:
    """Feed the checker one perturbed oracle value and one dropped row.

    Uses the smallest oracle result with at least two rows. Returns how
    many of the two the digest check flagged; both must be flagged. The
    unperturbed rows must still match, so a flag comes from the
    perturbation and not from the pandas round trip.
    """
    import pandas as pd

    from check import pandas_digest

    sized = [c for c in calls if expect[c.name][1] >= 2]
    if not sized:
        return 0
    c = min(sized, key=lambda c: expect[c.name][1])
    exp, want = pd.read_parquet(files[c.name]), expect[c.name]
    if pandas_digest(spark, exp) != want:
        return 0
    dropped = exp.iloc[1:]
    col = exp.columns[0]
    v = exp.at[0, col]
    exp.at[0, col] = v + "x" if isinstance(v, str) else v + 1
    return (pandas_digest(spark, exp) != want) + (pandas_digest(spark, dropped) != want)


def layer_metric_names(workloads) -> list[tuple[str, str]]:
    """Every per-layer metric name and unit, the same for every workload."""
    from tracing import LAYER_METRICS
    from workloads import LAYERS

    names = [(f"{layer}.{m}", u) for layer in LAYERS for m, u in LAYER_METRICS]
    for w in workloads.values():
        names += [(f"q.{q}.wall_s", "s") for q, _layer, _rows in w.queries]
    return names + [
        ("plans.iterative.round_s", "s"),
        ("plans.iterative.ckpt_dirs_left", "count"),
        ("operators.dedup.out_rows_per_shuffle_record", "ratio"),
        ("trace.overhead_frac", "ratio"),
    ]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path[:0] = [HERE, REPO]
    try:
        import check
        import tracing as tr
        import workloads as wl
        from ferrobus_spark.registry import oracle_sql, queries
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {REPO}: {exc}", file=sys.stderr)
        return 2
    if args.workload not in wl.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(wl.WORKLOADS)}", file=sys.stderr)
        return 2
    work = wl.WORKLOADS[args.workload]
    cpus = len(os.sched_getaffinity(0))
    dirs = configure_env(cpus)
    report: dict = {"workload": work.name, "seed": args.seed, "cpus": cpus,
                    "load": f"closed loop, 1 client, local[{cpus}]"}

    t = time.perf_counter()
    work.make_inputs(args.seed, dirs["data"])
    gen_s = time.perf_counter() - t

    t = time.perf_counter()
    spark = start_session(cpus, dirs)
    session_s = time.perf_counter() - t
    ready_s = process_age_s() - gen_s  # process start -> session ready

    if work.prepare:
        t = time.perf_counter()
        work.prepare(spark)
        report["prepare_s"] = time.perf_counter() - t

    runner = Runner(spark, cpus, dirs)
    qs, osql = queries(), oracle_sql()
    calls = work.calls(dirs["data"], args.seed, qs, osql)
    layer_of = {c.name: c.layer for c in calls}
    rows_per_pass = sum(c.rows_read for c in calls)

    # warm pass: untimed work the first pass pays (JIT, Python workers,
    # transit model load); its digests are checked like the timed ones
    t = time.perf_counter()
    warm, report["warm_q_s"] = {}, {}
    for c in calls:
        report["warm_q_s"][c.name], warm[c.name] = runner.call(
            c.name, lambda spark, c=c: check.digest(c.build(spark)))
        runner.attempted += 1
    warm_s = time.perf_counter() - t
    setup_s = ready_s + warm_s

    # oracles, excluded from every timing
    t = time.perf_counter()
    oracle = check.Oracle(dirs["data"], os.path.join(WORK, "oracle_cache"), args.seed, cpus)
    expect, files, cached = {}, {}, 0
    for c in calls:
        files[c.name], hit = oracle.result(c.oracle_sql)
        cached += hit
        expect[c.name] = check.digest(runner.spark.read.parquet(files[c.name]))
        if warm[c.name] is not None and warm[c.name] != expect[c.name]:
            runner.mismatched += 1
            runner.fail(c.name, "warm pass vs oracle: " + explain(runner.spark, c, files[c.name]))
    oracle.close()
    out_rows = {name: d[1] for name, d in expect.items()}
    report["oracle_s"], report["oracle_cached"] = time.perf_counter() - t, cached

    t = time.perf_counter()
    flagged = self_test(runner.spark, calls, expect, files)
    report["selftest"] = {"attempted": 2, "flagged": flagged,
                          "failed_frac": flagged / 2, "s": time.perf_counter() - t}
    selftest_ok = flagged == 2
    if not selftest_ok:
        print("perfbench: checker self-test did not flag both perturbations",
              file=sys.stderr)

    sampler = tr.RssSampler()
    t = time.perf_counter()
    passes = timed_passes(runner, calls, expect, args.seconds, sampler)
    report["timed_s"] = time.perf_counter() - t
    all_walls = [p.wall for p in passes]
    # the JIT keeps compiling through the first timed passes (each pass is
    # faster than the one before for a few passes), so the end-to-end
    # figures come from the second half of the passes
    passes = passes[len(passes) // 2:]
    q1, wall_s, q3 = quartiles([p.wall for p in passes])
    e2e = {
        "setup_s": (setup_s, "s"),
        "wall_s": (wall_s, "s"),
        "rows_per_s": (rows_per_pass / wall_s, "1/s"),
        "peak_rss_mb": (statistics.median(p.rss_mb for p in passes), "MB"),
    }
    report.update({
        "passes": len(all_walls), "steady_passes": len(passes),
        "wall_s_p25": q1, "wall_s_p75": q3, "pass_wall_s": all_walls,
        "rows_per_pass": rows_per_pass, "gen_s": gen_s, "session_s": session_s,
        "warm_s": warm_s,
        "q_wall_s": {c.name: statistics.median(p.query_s[c.name] for p in passes)
                     for c in calls},
    })
    e2e_metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    metrics = e2e_metrics
    if args.trace:
        metrics = traced_metrics(runner, calls, expect, sampler, dirs, layer_of,
                                 out_rows, wall_s, wl, tr, report)

    attempted, failed = runner.attempted, runner.failed
    report.update({
        "failed_frac": failed / attempted, "mismatched": runner.mismatched,
        "session_restarts": runner.restarts, "errors": runner.errors[:20],
        "end_to_end": e2e_metrics,
    })
    try:
        stop_all(runner.spark)
    finally:
        shutil.rmtree(RUN, ignore_errors=True)
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": failed == 0 and selftest_ok,
        "attempted": attempted, "failed": failed, "metrics": metrics,
    }))
    return 0


def traced_metrics(runner, calls, expect, sampler, dirs, layer_of, out_rows,
                   untraced_wall, wl, tr, report) -> dict:
    """Traced passes after the timed ones, rolled up per layer, per pass."""
    for d in os.listdir(dirs["ckpt"]):  # count only the traced passes' leftovers
        shutil.rmtree(os.path.join(dirs["ckpt"], d))
    spans: list = []
    t = time.perf_counter()
    with tr.EventLog(runner.spark, dirs["eventlog"]) as log:
        passes = timed_passes(runner, calls, expect, 0, sampler, TRACED_PASSES, spans)
    n = len(passes)
    layers = tr.rollup(log.events(), spans, layer_of)
    values = {name: 0.0 for name, _unit in layer_metric_names(wl.WORKLOADS)}
    for layer, m in layers.items():
        for k, v in m.items():
            if f"{layer}.{k}" in values:
                values[f"{layer}.{k}"] = v if k == "peak_exec_mem_mb" else v / n
    for c in calls:
        values[f"q.{c.name}.wall_s"] = statistics.median(p.query_s[c.name] for p in passes)
    if "host_pagerank" in layer_of:
        values["plans.iterative.round_s"] = values["q.host_pagerank.wall_s"] / PAGERANK_ROUNDS
        values["plans.iterative.ckpt_dirs_left"] = sum(
            d.startswith("iter_") for d in os.listdir(dirs["ckpt"])) / n
    dedup = layers.get("operators.dedup", {})
    if dedup.get("shuffle_records"):
        values["operators.dedup.out_rows_per_shuffle_record"] = n * sum(
            out_rows[c.name] for c in calls if c.layer == "operators.dedup"
        ) / dedup["shuffle_records"]
    traced_wall = statistics.median(p.wall for p in passes)
    values["trace.overhead_frac"] = traced_wall / untraced_wall - 1
    query_sum = sum(values[f"q.{c.name}.wall_s"] for c in calls)
    report.update({
        "trace_s": time.perf_counter() - t, "traced_passes": n,
        "traced_wall_s": traced_wall, "traced_query_sum_s": query_sum,
        # acceptance: the traced per-query walls add up to the untraced pass
        "traced_query_sum_vs_untraced_wall": query_sum / untraced_wall - 1,
    })
    units = dict(layer_metric_names(wl.WORKLOADS))
    return {k: {"value": v, "unit": units[k]} for k, v in values.items()}


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        shutil.rmtree(RUN, ignore_errors=True)
        sys.exit(1)
