"""Benchmark of the bid_evaluation_spark engine and its operator registry.

Run from the root of a checkout:

    python3 perfbench/run.py --workload tender_whatif --seed 1 --seconds 12 --trace 0

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``). Lines before it give the run record
and every workload metric by name and unit. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

E2E_UNITS = {"setup_s": "s", "pass_s": "s"}

#: the named per-op metrics each workload prints; in a traced run they are
#: per-layer metrics (0 on the workload that does not run the op)
NAMED_UNITS = {
    "op_p50_ms": "ms",
    "fresh_p50_ms": "ms", "fresh_p90_ms": "ms",
    "whatif_p50_ms": "ms", "whatif_p90_ms": "ms",
    "dedup_s": "s", "similarity_s": "s", "graph_ts_s": "s", "staged_s": "s",
}

#: Spark substrate metrics, per timed op: (span-total key, metric, unit)
SUBSTRATE = (
    ("jobs", "spark.jobs", "count"), ("stages", "spark.stages", "count"),
    ("tasks", "spark.tasks", "count"),
    ("exec_run_ms", "spark.exec_run_ms", "ms"),
    ("exec_cpu_ms", "spark.exec_cpu_ms", "ms"), ("gc_ms", "spark.gc_ms", "ms"),
    ("shuffle_write_mb", "spark.shuffle_write_mb", "MB"),
    ("shuffle_read_mb", "spark.shuffle_read_mb", "MB"),
    ("spill_mb", "spark.spill_mb", "MB"),
    ("codegen_compiles", "spark.codegen_compiles", "count"),
    ("codegen_ms", "spark.codegen_ms", "ms"),
    ("jvm_cpu_ms", "jvm.cpu_ms", "ms"), ("driver_cpu_ms", "driver.cpu_ms", "ms"),
)

#: spans whose mean wall time is a per-layer metric
LAYER_SPANS = {"sources.io.load": "sources.io.load_ms",
               "plans.stats.call": "plans.stats.call_ms",
               "plans.evaluator.exec": "plans.evaluator.exec_ms",
               "operators.cache.release": "operators.cache.release_ms"}


def per_layer_units() -> dict:
    """Every per-layer metric with its unit, in BENCHMARK.json order."""
    from workloads import REGISTRY_QUERIES

    units = {"session.start_s": "s", "sources.io.load_ms": "ms",
             "plans.stats.call_ms": "ms", "plans.stats.call_jobs": "count",
             "plans.evaluator.exec_ms": "ms"}
    for q in REGISTRY_QUERIES:
        units[f"registry.{q}.call_ms"] = "ms"
        units[f"registry.{q}.call_jobs"] = "count"
        units[f"registry.{q}.exec_ms"] = "ms"
    units.update({"operators.cache.tracked": "count",
                  "operators.cache.release_ms": "ms",
                  "spark.leaked_persists": "count"})
    units.update({name: unit for _, name, unit in SUBSTRATE})
    units["spark.core_util"] = "ratio"
    units.update({"peak_rss_mb": "MB", "jvm.heap_peak_mb": "MB"})
    units.update(NAMED_UNITS)
    units.update({"traced.pass_s": "s", "trace.self_ms": "ms"})
    return units


def _engine_present() -> bool:
    return (os.path.isfile(os.path.join("bid_evaluation_spark", "__init__.py"))
            and os.path.isfile("__spark_entry__.py"))


def _configure_env(work: str, nproc: int, trace: bool) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``, and
    measure the engine's default routes on ``nproc`` cores."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    conf = [f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"]
    if trace:  # keep every job and stage of the run in the status store
        conf += ["spark.ui.retainedJobs=1000000",
                 "spark.ui.retainedStages=1000000"]
    args = [a for c in conf for a in ("--conf", c)]
    args += ["--driver-java-options",
             f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData", "pyspark-shell"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"'{a}'" if " " in a else a for a in args)


def _stop(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers are gone."""
    from pyspark import SparkContext

    from spans import process_tree

    gw = SparkContext._gateway
    tree = process_tree(gw.proc.pid) if gw is not None and gw.proc else []
    spark.stop()
    if gw is not None:
        gw.shutdown()
        if gw.proc is not None:
            gw.proc.stdin.close()
            gw.proc.wait(timeout=60)
    deadline = time.time() + 60
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}")
                                         for p in tree):
        time.sleep(0.05)


def _layer_metrics(ctx, tracer, start_s: float, pass_s: float,
                   nproc: int) -> dict:
    """Per-layer metrics of a traced run: means per timed op or call."""
    def mean(values):
        values = list(values)
        return statistics.fmean(values) if values else 0.0

    out = {name: 0.0 for name in per_layer_units()}
    out["session.start_s"] = start_s
    by_name: dict = {}
    for s in tracer.spans:
        by_name.setdefault(s["name"], []).append(s)
    for span, metric in LAYER_SPANS.items():
        out[metric] = mean(tracer.wall_ms(s) for s in by_name.get(span, ()))
    out["plans.stats.call_jobs"] = mean(
        s["spark"]["jobs"] for s in by_name.get("plans.stats.call", ()))
    for name, recs in by_name.items():
        if name.startswith("registry."):
            out[f"{name}_ms"] = mean(tracer.wall_ms(s) for s in recs)
            if name.endswith(".call"):
                out[f"{name}_jobs"] = mean(s["spark"]["jobs"] for s in recs)
    out["operators.cache.tracked"] = mean(t for timed, t, _ in ctx.sweeps
                                          if timed)
    out["spark.leaked_persists"] = max((lk for _, _, lk in ctx.sweeps),
                                       default=0)
    ops = [s for s in tracer.spans if s["name"].startswith("op.")]
    totals = [tracer.totals(s) for s in ops]
    for key, metric, _ in SUBSTRATE:
        out[metric] = mean(t[key] for t in totals)
    wall = sum(tracer.wall_ms(s) for s in ops)
    out["spark.core_util"] = (sum(t["exec_run_ms"] for t in totals)
                              / (wall * nproc))
    for name, (value, _) in ctx.info.items():
        if name in out:
            out[name] = value
    out["traced.pass_s"] = pass_s
    out["trace.self_ms"] = tracer.self_s * 1e3 / len(ops)
    return out


def main(argv=None) -> int:
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not _engine_present():
        print("perfbench: bid_evaluation_spark/ and __spark_entry__.py not "
              "found; run from the root of a checkout", file=sys.stderr)
        return 2

    nproc = len(os.sched_getaffinity(0))
    root = os.getcwd()
    sys.path.insert(0, root)
    base = os.path.join(root, ".perfbench")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d))
    _configure_env(work, nproc, bool(args.trace))

    import pyspark

    from bid_evaluation_spark.session import get_spark
    from spans import Tracer
    from workloads import Context

    try:
        t0 = time.perf_counter()
        spark = get_spark("perfbench", master=f"local[{nproc}]",
                          shuffle_partitions=nproc)
        start_s = time.perf_counter() - t0
        try:
            sc = spark.sparkContext
            sc.setLogLevel("ERROR")
            tracer = Tracer(spark, bool(args.trace))
            ctx = Context(spark, tracer, args.seed, args.seconds, work, nproc)
            t1 = time.perf_counter()
            e2e = {"pass_s": WORKLOADS[args.workload](ctx),
                   "setup_s": start_s + (ctx.setup_end - t1)}
            tracer.harvest()
            record = {
                "workload": args.workload, "seed": args.seed,
                "seconds": args.seconds, "trace": args.trace,
                "sizes": ctx.sizes, "nproc": nproc, "master": sc.master,
                "shuffle_partitions": int(
                    spark.conf.get("spark.sql.shuffle.partitions")),
                "pyspark": pyspark.__version__,
                "java": sc._jvm.System.getProperty("java.version"),
                "python": platform.python_version(),
                "peak_rss_mb": ctx.peak_rss,
                "timed_steal_pct": ctx.steal_pct,
                "errors": ctx.errors,
            }
            layers = (_layer_metrics(ctx, tracer, start_s, e2e["pass_s"],
                                     nproc) if args.trace else None)
        finally:
            _stop(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    os.makedirs(os.path.join(base, "out"), exist_ok=True)
    out_path = os.path.join(
        base, "out", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out_path, "w") as fh:
        json.dump({"record": record, "e2e": e2e,
                   "info": {k: v[0] for k, v in ctx.info.items()},
                   "ops": ctx.op_walls, "per_layer": layers,
                   "spans": tracer.spans if args.trace else None},
                  fh, indent=1)

    print("perfbench record " + json.dumps(record))
    for name, (value, unit) in sorted(ctx.info.items()):
        print(f"perfbench {name} = {value:.6g} {unit}")
    for name, unit in E2E_UNITS.items():
        print(f"perfbench {name} = {e2e[name]:.6g} {unit}")
    leaked = sum(lk for _, _, lk in ctx.sweeps)
    print(f"perfbench leaked_persists = {leaked} count "
          f"(ops attempted {ctx.attempted}, failed {ctx.failed})")
    for err in ctx.errors:
        print(f"perfbench FAILED {err}")
    if args.trace:
        values, units = layers, per_layer_units()
    else:
        values, units = e2e, E2E_UNITS
    metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    print(json.dumps({"correct": ctx.failed == 0, "attempted": ctx.attempted,
                      "failed": ctx.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
