"""The benchmark's own smoke test, at a tiny input size (sf0.001 shapes).

    python3 perfbench/smoke.py

Checks that:
- the same seed generates byte-identical input files, and another seed
  different ones;
- every workload run.py knows (also ``llm_curate``, which BENCHMARK.json
  does not list), untraced and traced, exits 0, passes its output checks and
  emits every metric named in BENCHMARK.json with its unit;
- in a directory holding only BENCHMARK.json and the benchmark, the entry
  point exits non-zero without printing a result.

Exits non-zero on the first failed check. Takes a few minutes (one Spark
session per run).
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALE = "0.001"
SCRATCH = os.path.join(ROOT, ".perfbench_run", "smoke")

sys.path.insert(0, HERE)

from run import WORKLOADS  # noqa: E402


def _fail(msg: str) -> None:
    print(f"FAIL {msg}", flush=True)
    raise SystemExit(1)


def check_inputs_repeat() -> None:
    import gen

    dirs = [os.path.join(SCRATCH, d) for d in ("a", "b", "c")]
    for d, seed in zip(dirs, (5, 5, 6)):
        gen.make_relational(d, seed, float(SCALE))
        gen.make_corpus(d, seed, float(SCALE))
        gen.write_table(gen.lake_orders(seed, 0, 300, 0, 150), os.path.join(d, "lake.parquet"))
    names = sorted(os.listdir(dirs[0]))
    match, mismatch, errors = filecmp.cmpfiles(dirs[0], dirs[1], names, shallow=False)
    if mismatch or errors:
        _fail(f"same seed wrote different files: {mismatch + errors}")
    _, differ, _ = filecmp.cmpfiles(dirs[0], dirs[2], names, shallow=False)
    if not differ:
        _fail("another seed wrote identical files")
    print(f"ok   inputs: {len(match)} files byte-identical for one seed", flush=True)


def run_workload(workload: str, trace: int, spec: dict) -> None:
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "1", "--trace", str(trace), "--scale", SCALE]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        _fail(f"{workload} trace={trace} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        _fail(f"{workload}: result keys {sorted(result)}")
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        _fail(f"{workload} trace={trace} output checks failed:\n{proc.stderr[-3000:]}")
    wanted = spec["per_layer" if trace else "end_to_end"]
    got = result["metrics"]
    if sorted(got) != sorted(m["name"] for m in wanted):
        _fail(f"{workload} trace={trace}: metric names differ from BENCHMARK.json")
    for m in wanted:
        value = got[m["name"]]
        if value["unit"] != m["unit"] or not isinstance(value["value"], float):
            _fail(f"{workload} trace={trace}: bad metric {m['name']}: {value}")
        if not trace and value["value"] <= 0:
            _fail(f"{workload}: end-to-end metric {m['name']} is not positive")
    print(f"ok   {workload} trace={trace}: {len(got)} metrics, "
          f"{result['attempted']} ops checked", flush=True)


def check_bare_directory() -> None:
    bare = os.path.join(SCRATCH, "bare")
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", "olap_read",
           "--seed", "1", "--seconds", "1", "--trace", "0"]
    proc = subprocess.run(cmd, cwd=bare, capture_output=True, text=True, timeout=180)
    if proc.returncode == 0 or proc.stdout.strip():
        _fail(f"bare directory: exit {proc.returncode}, stdout {proc.stdout[-200:]!r}")
    print(f"ok   bare directory: exit {proc.returncode}, no result", flush=True)


def main() -> int:
    shutil.rmtree(SCRATCH, ignore_errors=True)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    try:
        check_inputs_repeat()
        check_bare_directory()
        for w in WORKLOADS:
            for trace in (0, 1):
                run_workload(w, trace, spec)
    finally:
        shutil.rmtree(SCRATCH, ignore_errors=True)
    print("smoke: all checks passed")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
