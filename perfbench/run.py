"""Benchmark entry point: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload olap_read --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. BENCHMARK.json lists ``olap_read`` and
``lake_dml``; ``llm_curate`` runs the same way by hand (its per-layer
metrics are in BENCHMARK.json too), but is left out of the list because
three workloads' runs do not fit the time one comparison may take.

Set-up (Spark session start, one seeded input generation and table
build, one sequential warm-up cycle) comes before timing; ``setup_s`` is
the time from process start to the first timed operation. Then whole
cycles of operations run until ``--seconds`` have passed. ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer metrics of a
traced run; ``trace.op_p50_s`` minus an untraced run's ``op_p50_s`` is the
tracing overhead. Metric names and units come from
``BENCHMARK.json``. The last line of standard output is the JSON result;
a human-readable report precedes it. Everything the run writes stays under
``.perfbench_run/`` (removed at exit) and ``.perfbench_out/`` (spans).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from harness import process_age_s  # noqa: E402

ORIGIN = time.perf_counter() - process_age_s()

WORKLOADS = ("olap_read", "lake_dml", "llm_curate")
# The driver heap starts at its maximum size (-Xms as well as -Xmx): left to
# grow, G1 expands it at moments that vary from run to run, which moved
# peak_rss_mb by up to 40% between runs.
DRIVER_MEMORY = "2g"


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=None,
                   help="input size as a TPC-H-style sf (default per workload)")
    return p.parse_args(argv)


def _require_engine() -> dict:
    """The engine and its oracle helpers must sit beside the benchmark."""
    needed = [
        os.path.join(ROOT, "BENCHMARK.json"),
        os.path.join(ROOT, "spark_iceberg_schema_evolution_spark", "__init__.py"),
        os.path.join(ROOT, "tools", "check_correctness.py"),
    ]
    missing = [p for p in needed if not os.path.isfile(p)]
    if missing:
        print(f"perfbench: not a checkout of the engine, missing {missing}",
              file=sys.stderr)
        raise SystemExit(2)
    with open(needed[0]) as fh:
        return json.load(fh)


def _isolate(work: str) -> None:
    """Keep Spark's and Python's scratch files inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # no hsperfdata files in the system temp directory, from either JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.driver.extraJavaOptions="
        f"'-XX:-UsePerfData -Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp}' "
        "--conf spark.ui.retainedJobs=100000 "
        "--conf spark.ui.retainedStages=100000 "
        "pyspark-shell"
    )


def _start_spark(n_threads: int, work: str):
    from spark_iceberg_schema_evolution_spark.config import EngineConfig
    from spark_iceberg_schema_evolution_spark.session import get_spark

    cfg = EngineConfig(
        master=f"local[{n_threads}]",
        shuffle_partitions=n_threads,
        warehouse=os.path.join(work, "spark-warehouse"),
        driver_memory=DRIVER_MEMORY,
    )
    return get_spark(cfg)


def _stop_spark(spark) -> None:
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - never leave the JVM behind
            proc.kill()
            proc.wait(timeout=30)


def _workload(name: str):
    if name == "olap_read":
        from olap import OlapRead
        return OlapRead
    if name == "lake_dml":
        from lake import LakeDml
        return LakeDml
    from curate import LlmCurate
    return LlmCurate


def _layer_metrics(tracer, runner, results) -> dict:
    """Spark counters of the traced operations, as means per operation."""
    from harness import SPARK_COUNTERS, mean_or_zero

    by_op: dict[int, dict] = {r.op_id: dict.fromkeys(SPARK_COUNTERS, 0) for r in results}
    jobs_s = dict.fromkeys(by_op, 0.0)
    phases: list[dict] = []
    for s in tracer.spans:
        if s.op_id not in by_op:
            continue
        for k, v in s.spark.items():
            by_op[s.op_id][k] += v
        jobs_s[s.op_id] += s.jobs_s
        if s.phases_ms:
            phases.append(s.phases_ms)
    out = {f"spark.{k}": mean_or_zero(c[k] for c in by_op.values()) for k in SPARK_COUNTERS}
    out["spark.jobs_s"] = mean_or_zero(jobs_s.values())
    out["spark.driver_s"] = mean_or_zero(r.latency_s - jobs_s[r.op_id] for r in results)
    out["spark.files_written"] = mean_or_zero(runner.files_written.get(r.op_id, 0) for r in results)
    for ph in ("analysis", "optimization", "planning"):
        out[f"spark.{ph}_ms"] = mean_or_zero(p.get(ph, 0) for p in phases)
    return out


def _warm_up(wl, runner) -> bool:
    """One untimed cycle, run like the timed ones: the first run of an
    operation pays for class loading, JIT compilation and code generation."""
    return all([runner.run(op, 0, record=False) for op in wl.cycle(0)])


def _report(args, scale, n_threads, timed_s, get_spark_s, prep_s, e2e, extra, runner):
    """Human-readable lines printed before the JSON result."""
    import pyspark

    print(f"# workload={args.workload} seed={args.seed} scale={scale} "
          f"trace={args.trace} nproc={n_threads} spark=local[{n_threads}] "
          f"pyspark={pyspark.__version__} timed={timed_s:.1f}s")
    print(f"# ops={e2e['n_ops']} reads={e2e['n_read']} commits={e2e['n_commit']} "
          f"failed_op_ratio={e2e['failed_op_ratio']:.4f} "
          f"get_spark_s={get_spark_s:.3f} prep_s={prep_s:.3f}")
    for k, v in {**e2e, **extra}.items():
        print(f"#   {k} = {v}")
    by_name: dict[str, list[float]] = {}
    cycles: dict[int, float] = {}
    for r in runner.results:
        by_name.setdefault(r.name, []).append(r.latency_s)
        cycles[r.cycle] = cycles.get(r.cycle, 0.0) + r.latency_s
    print("#   cycle s: " + ", ".join(f"{v:.3f}" for _, v in sorted(cycles.items())))
    print("#   warm-up s: " + ", ".join(f"{r.name}={r.latency_s:.3f}" for r in runner.warmup))
    print("#   per-op median s: " + ", ".join(
        f"{k}={statistics.median(v):.3f}(n={len(v)})" for k, v in sorted(by_name.items())))


def main(argv=None) -> int:
    args = _parse(argv)
    spec = _require_engine()
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _isolate(work)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from harness import Runner, Tracer, peak_rss_mb, summarize

    n_threads = len(os.sched_getaffinity(0))
    spark = None
    try:
        t = time.perf_counter()
        spark = _start_spark(n_threads, work)
        get_spark_s = time.perf_counter() - t
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        tracer = Tracer(spark, f"pb{os.getpid()}")
        cls = _workload(args.workload)
        scale = args.scale if args.scale is not None else cls.default_scale
        wl = cls(spark, tracer, args.seed, scale)

        t = time.perf_counter()
        wl.prepare(os.path.join(work, "prep"))
        prep_s = time.perf_counter() - t
        runner = Runner(tracer, getattr(wl, "files_under", None))
        warm_ok = _warm_up(wl, runner)
        first_timed = time.perf_counter()
        setup_s = first_timed - ORIGIN
        runner.loop(wl.cycle, args.seconds, bool(args.trace), first_cycle=1)
        timed_s = time.perf_counter() - first_timed

        errors = runner.errors + wl.final_check()
        results = runner.results
        e2e = summarize(results)
        e2e["setup_s"] = setup_s
        e2e["peak_rss_mb"] = peak_rss_mb(jvm_pid)
        e2e["stored_bytes_per_live_row"] = wl.stored_bytes_per_live_row()
        extra = wl.extra_metrics() if hasattr(wl, "extra_metrics") else {}
        if args.trace:
            wanted = spec["per_layer"]
            source = {
                "session.get_spark_s": get_spark_s,
                "trace.op_p50_s": e2e["op_p50_s"],
                **_layer_metrics(tracer, runner, results),
                **wl.layer_metrics(runner.errors),
                **extra,
            }
            for k in ("op_p90_s", "read_p50_s", "read_p90_s", "commit_p50_s", "commit_p90_s"):
                source[k] = 0.0 if math.isnan(e2e[k]) else e2e[k]
            tracer.dump(os.path.join(
                ROOT, ".perfbench_out", f"spans-{args.workload}-{args.seed}-{os.getpid()}.jsonl"))
        else:
            wanted = spec["end_to_end"]
            source = e2e

        _report(args, scale, n_threads, timed_s, get_spark_s, prep_s, e2e, extra, runner)
        for e in errors[:10]:
            print(e, file=sys.stderr)
        metrics = {}
        for m in wanted:
            # a per-layer metric of a layer this workload never calls reads
            # 0; every end-to-end metric must have been measured
            v = source.get(m["name"], 0.0 if args.trace else math.nan)
            if math.isnan(v):
                raise RuntimeError(f"metric {m['name']} was not measured")
            metrics[m["name"]] = {"value": float(v), "unit": m["unit"]}
        print(json.dumps({
            "correct": warm_ok and not errors,
            "attempted": len(results),
            "failed": sum(1 for r in results if not r.ok),
            "metrics": metrics,
        }))
        return 0
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())
