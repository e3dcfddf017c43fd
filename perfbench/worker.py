"""One benchmark run in one fresh process; started by ``run.py``.

Order: set up the session several times (``setup_s`` is their median),
make the workload's inputs, run the first pass (``first_pass_s``, which
also warms the JVM up), the workload's untimed warm-up passes, then
``ceil(--seconds / NOMINAL_PASS_S)`` timed passes (``pass_cpu_s``:
their mean CPU), then the once-per-run checks.
Writes the result object to ``<run-dir>/result.json``; with ``--trace``
also the spans to ``--trace-out``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import time

import tracing
from tracing import Stopwatch, Tracer
from workloads import CATALOG_ENTRIES, FULL, QUICK, WORKLOADS

SETUPS = 5

E2E_UNITS = {"setup_s": "s", "pass_cpu_s": "core-s"}
PER_LAYER_UNITS = {
    "first_pass_s": "s", "pass_s": "s",
    "session.start_s": "s", "session.jit_s": "s", "session.gc_s": "s",
    "fotmob.build_s": "s", "fotmob.leaderboard_s": "s",
    "sources.write_star_s": "s", "sources.files_written": "count",
    "sources.bytes_written": "bytes", "sources.landing_scans": "ratio",
    "sources.bytes_read": "bytes",
    "plans.build_s": "s", "plans.exec_s": "s", "plans.build_jobs": "count",
    "plans.exec_jobs": "count",
    **{f"plans.{k}_s.{e}": "s" for e in CATALOG_ENTRIES for k in ("build", "exec")},
    "streaming.batches": "count", "streaming.batch_s": "s", "streaming.rows_per_s": "1/s",
    "streaming.state_rows": "count", "streaming.state_bytes": "bytes",
    "operators.merge.compact_s": "s", "operators.merge.bytes_rewritten": "bytes",
    "operators.merge.files_after": "count",
    **{f"{layer}.{k}": u for layer in tracing.LAYERS
       for k, u in (("jobs", "count"), ("tasks", "count"), ("shuffle_bytes", "bytes"),
                    ("spill_bytes", "bytes"))},
}


def session_conf(run_dir: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData",
    }
    if trace:
        os.makedirs(os.path.join(run_dir, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(run_dir, "eventlog"),
            # Spark 4 compresses event logs with zstd by default.
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def setup(tracer: Tracer, conf: dict) -> tuple[object, float]:
    """get_spark + ship_package + one trivial job; returns its wall."""
    from fotmobdatapipeline_spark import session

    t0 = time.perf_counter()
    with tracer.span("session.start"):
        spark = session.get_spark(app_name="perfbench", extra_conf=conf)
        session.ship_package(spark)
        spark.range(1000).count()
    return spark, time.perf_counter() - t0


def jvm_jit_gc_s(spark) -> tuple[float, float]:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    return mf.getCompilationMXBean().getTotalCompilationTime() / 1000, gc / 1000


def layer_metrics(tracer: Tracer, passes: list[int], recs: dict[int, dict],
                  log_dir: str, entries: tuple) -> dict[str, float]:
    """Per-layer figures: medians over ``passes`` of per-pass totals
    (session figures: medians over the set-ups)."""
    jobs_by_span = tracing.attribute_jobs(tracer.spans, tracing.read_event_logs(log_dir))

    def per_pass(pred, value) -> dict[int, float]:
        out: dict[int, float] = {}
        for i, s in enumerate(tracer.spans):
            if pred(s):
                out[s.pass_no] = out.get(s.pass_no, 0.0) + value(i, s)
        return out

    def med(pred, value, over) -> float:
        got = per_pass(pred, value)
        return statistics.median(got.get(p, 0.0) for p in over)

    setups = sorted({s.pass_no for s in tracer.spans if s.name == "session.start"})
    m: dict[str, float] = {}
    secs = lambda i, s: s.seconds  # noqa: E731
    for layer in tracing.LAYERS:
        over = setups if layer == "session" else passes
        is_layer = lambda s, L=layer: tracing.layer_of(s.name) == L  # noqa: E731
        jobs = lambda i, s: jobs_by_span.get(i, [])  # noqa: E731
        m[f"{layer}.jobs"] = med(is_layer, lambda i, s: len(jobs(i, s)), over)
        m[f"{layer}.tasks"] = med(is_layer, lambda i, s: sum(j.tasks for j in jobs(i, s)), over)
        m[f"{layer}.shuffle_bytes"] = med(
            is_layer, lambda i, s: sum(j.shuffle_bytes for j in jobs(i, s)), over)
        m[f"{layer}.spill_bytes"] = med(
            is_layer, lambda i, s: sum(j.spill_bytes for j in jobs(i, s)), over)
    named = lambda n: (lambda s: s.name == n)  # noqa: E731
    m["session.start_s"] = med(named("session.start"), secs, setups)
    m["fotmob.build_s"] = med(named("fotmob.build"), secs, passes)
    m["fotmob.leaderboard_s"] = med(named("fotmob.leaderboard"), secs, passes)
    m["sources.write_star_s"] = med(named("sources.write_star"), secs, passes)
    m["sources.bytes_read"] = med(
        named("sources.write_star"),
        lambda i, s: sum(j.input_bytes for j in jobs_by_span.get(i, [])), passes)
    zone = recs[passes[-1]].get("zone_bytes") if passes else None
    m["sources.landing_scans"] = m["sources.bytes_read"] / zone if zone else 0.0
    is_build = lambda s: s.name.startswith("plans.build/")  # noqa: E731
    is_exec = lambda s: s.name.startswith("plans.exec/")  # noqa: E731
    n_jobs = lambda i, s: len(jobs_by_span.get(i, []))  # noqa: E731
    m["plans.build_s"] = med(is_build, secs, passes)
    m["plans.exec_s"] = med(is_exec, secs, passes)
    m["plans.build_jobs"] = med(is_build, n_jobs, passes)
    m["plans.exec_jobs"] = med(is_exec, n_jobs, passes)
    for e in entries:
        m[f"plans.build_s.{e}"] = med(named(f"plans.build/{e}"), secs, passes)
        m[f"plans.exec_s.{e}"] = med(named(f"plans.exec/{e}"), secs, passes)
    m["operators.merge.compact_s"] = med(named("operators.merge.compact_partitions"), secs,
                                         passes)
    for key in ("sources.files_written", "sources.bytes_written", "streaming.batches",
                "streaming.batch_s", "streaming.rows_per_s", "streaming.state_rows",
                "streaming.state_bytes", "operators.merge.bytes_rewritten",
                "operators.merge.files_after"):
        m[key] = statistics.median(recs[p].get(key, 0) for p in passes)
    return m


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--quick", action="store_true")
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--trace-out")
    args = ap.parse_args()
    size = QUICK if args.quick else FULL
    trace = bool(args.trace)
    tracer = Tracer(trace)
    conf = session_conf(args.run_dir, trace)
    steal0 = tracing.steal_s()

    setup_s = []
    spark = None
    for i in range(SETUPS):
        tracer.pass_no = -(i + 1)  # set-ups are passes -1, -2, ...
        if spark is not None:
            spark.stop()
        spark, secs = setup(tracer, conf)
        setup_s.append(secs)

    wl = WORKLOADS[args.workload](spark, args.run_dir, args.seed, size, tracer)
    t0 = time.perf_counter()
    inputs = wl.prepare()
    print(f"[perfbench] inputs {json.dumps(inputs)} in {time.perf_counter() - t0:.1f} s",
          file=sys.stderr)

    n_timed = 0 if args.quick else math.ceil(args.seconds / wl.NOMINAL_PASS_S)
    n_warm = 0 if args.quick else wl.WARMUP
    walls, cpus, recs = [], [], {}
    jit_gc = (0.0, 0.0)
    last = n_warm + n_timed
    for n in range(last + 1):
        tracer.pass_no = n
        sw = Stopwatch()
        wl.run_pass(sw, check=n in (0, last))
        recs[n] = wl.pass_rec
        walls.append(sw.wall)
        cpus.append(sw.cpu)
        if n == 0:
            jit_gc = jvm_jit_gc_s(spark)
    timed = list(range(1 + n_warm, last + 1)) or [0]
    t_checks = time.perf_counter()
    wl.final_checks()
    t_checks = time.perf_counter() - t_checks

    e2e = {
        "setup_s": statistics.median(setup_s),
        # A mean, not a median: CPU per pass still falls from pass to
        # pass while the JIT compiles, and the pass at which it drops
        # varies from run to run; the mean over the timed passes does
        # not depend on where in the window the drop falls.
        "pass_cpu_s": statistics.mean(cpus[p] for p in timed),
    }
    print(f"[perfbench] {args.workload} seed={args.seed} setups={[round(s, 3) for s in setup_s]} "
          f"warmup={n_warm} walls={[round(w, 3) for w in walls]} "
          f"cpus={[round(c, 2) for c in cpus]} "
          f"checks_s={t_checks:.1f} steal_s={tracing.steal_s() - steal0:.2f} "
          f"SPARK_GRAFT_CPUS={os.environ.get('SPARK_GRAFT_CPUS')}",
          file=sys.stderr)
    for err in wl.errors:
        print(f"[perfbench] FAILED: {err}", file=sys.stderr)
    metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    if trace:
        spark.stop()
        lm = layer_metrics(tracer, timed, recs, os.path.join(args.run_dir, "eventlog"),
                           CATALOG_ENTRIES)
        lm["session.jit_s"], lm["session.gc_s"] = jit_gc
        lm["first_pass_s"] = walls[0]
        lm["pass_s"] = statistics.median(walls[p] for p in timed)
        metrics = {k: {"value": lm[k], "unit": u} for k, u in PER_LAYER_UNITS.items()}
        if args.trace_out:
            tracer.dump(args.trace_out)
    result = {"correct": wl.correct, "attempted": wl.ops, "failed": wl.failed,
              "metrics": metrics}
    with open(os.path.join(args.run_dir, "result.json"), "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    code = main()
    sys.stdout.flush()
    sys.stderr.flush()
    # run.py stops the JVM and its Python workers; a graceful stop here
    # would only add its own seconds to every run.
    os._exit(code)
