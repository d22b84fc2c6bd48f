"""Record benchmark runs and compare a parent commit with a change.

Record runs (one JSON line per run: workload, seed, side, result), pairing a
parent checkout with a change checkout and alternating which side runs
first::

    python3 perfbench/compare.py pairs --parent ../parent --change . \\
        --workload lake_dml --seeds 1-10 --out runs.jsonl

or one side only::

    python3 perfbench/compare.py record --checkout . --side change \\
        --workload olap_read --seeds 1-10 --out runs.jsonl

Write the baseline record (``perfbench/BASELINE.json``) from untraced and
traced runs of one checkout::

    python3 perfbench/compare.py baseline runs.jsonl traced.jsonl \\
        --out perfbench/BASELINE.json --dev-seed 1 --held-out-seed 1001

Compare (every workload and metric found in the files)::

    python3 perfbench/compare.py compare runs.jsonl [more.jsonl ...]

For each workload and metric it prints both sides' medians and quartiles,
the share of seed-matched pairs each side won (ties count for neither) and
a verdict under the rule of the choosing-metrics guide, section 8:

- ``improved``: the change won at least 9 of 10 pairs and the medians differ
  by more than the parent's own quartile spread;
- ``unresolved``: the parent's quartile spread is wider than the metric's
  bound, unless every change run reads better than every parent run;
- ``worse``: the change's median is worse than the parent's by more than
  the bound (a share of the parent's median);
- ``within bound``: otherwise.

A workload on which the change failed more operations than the parent
(as a share of those attempted), or failed any output check, gets no
``improved`` verdict, and the tool exits 1, as it does for ``worse``.

Per-layer metrics have no bound; their verdict is ``improved``, ``worse``
(the mirror of the improved rule) or ``no bound``, and counts that read the
same in every run are flagged ``exact``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def _run(checkout: str, workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True, timeout=900)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} in {checkout} failed:\n{proc.stderr[-2000:]}")
    return json.loads(lines[-1])


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _record(args, sides: list[tuple[str, str]]) -> None:
    """Append one line per run; stop at the first run whose output checks
    failed, once it is on record."""
    spec = _spec()
    seconds = spec["run_seconds"]
    with open(args.out, "a") as out:
        for i, seed in enumerate(_seeds(args.seeds)):
            order = sides if i % 2 == 0 else sides[::-1]
            for side, checkout in order:
                res = _run(checkout, args.workload, seed, seconds, args.trace)
                line = {"workload": args.workload, "seed": seed, "side": side,
                        "trace": args.trace, "result": res}
                out.write(json.dumps(line) + "\n")
                out.flush()
                print(f"{side} {args.workload} seed={seed} correct={res['correct']} "
                      f"failed={res['failed']}/{res['attempted']}", file=sys.stderr)
                if not res["correct"] or res["failed"]:
                    raise SystemExit(f"{side} {args.workload} seed={seed}: output checks "
                                     f"failed ({res['failed']} of {res['attempted']} ops)")


def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(parent: dict[int, float], change: dict[int, float],
            better: str, bound: float | None) -> tuple[str, float, float]:
    """Verdict plus the share of pairs each side won."""
    sign = 1.0 if better == "higher" else -1.0
    pairs = [(parent[s], change[s]) for s in parent if s in change]
    won_c = sum(1 for p, c in pairs if sign * (c - p) > 0)
    won_p = sum(1 for p, c in pairs if sign * (p - c) > 0)
    n = max(1, len(pairs))
    pv, cv = list(parent.values()), list(change.values())
    p1, pm, p3 = _quartiles(pv)
    cm = statistics.median(cv)
    spread = p3 - p1
    if won_c >= 0.9 * n and abs(cm - pm) > spread and sign * (cm - pm) > 0:
        return "improved", won_p / n, won_c / n
    if bound is None:
        if won_p >= 0.9 * n and abs(cm - pm) > spread:
            return "worse", won_p / n, won_c / n
        return "no bound", won_p / n, won_c / n
    all_better = all(sign * (c - p) > 0 for c in cv for p in pv)
    if pm and spread / abs(pm) > bound and not all_better:
        return "unresolved", won_p / n, won_c / n
    if pm and sign * (pm - cm) / abs(pm) > bound:
        return "worse", won_p / n, won_c / n
    return "within bound", won_p / n, won_c / n


def _load(files: list[str]) -> list[dict]:
    runs = []
    for path in files:
        with open(path) as fh:
            runs.extend(json.loads(line) for line in fh if line.strip())
    return runs


def _failures(runs: list[dict]) -> dict[tuple[str, str], dict]:
    """Runs, failed and attempted operations and runs with failed output
    checks, per workload and side."""
    out: dict[tuple[str, str], dict] = {}
    for run in runs:
        res = run["result"]
        f = out.setdefault((run["workload"], run["side"]),
                           {"runs": 0, "failed": 0, "attempted": 0, "incorrect": 0})
        f["runs"] += 1
        f["failed"] += res["failed"]
        f["attempted"] += res["attempted"]
        f["incorrect"] += not res["correct"]
    return out


def compare(files: list[str], spec: dict) -> int:
    """Print the table; exit 1 if a bounded metric got worse or the change
    failed more operations (or output checks) than the parent. A change
    with failures gets no ``improved`` verdict."""
    metrics = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    runs = _load(files)
    table: dict[tuple[str, str], dict[str, dict[int, float]]] = {}
    for run in runs:
        for name, m in run["result"]["metrics"].items():
            key = (run["workload"], name)
            table.setdefault(key, {}).setdefault(run["side"], {})[run["seed"]] = m["value"]
    fails = _failures(runs)
    failing = set()
    for (workload, side), f in sorted(fails.items()):
        print(f"{workload:<11} {side:<7} runs={f['runs']} failed ops={f['failed']}/"
              f"{f['attempted']} runs with failed checks={f['incorrect']}")
    empty = {"failed": 0, "attempted": 0, "incorrect": 0}
    for workload in sorted({w for w, _ in fails}):
        p = fails.get((workload, "parent"), empty)
        c = fails.get((workload, "change"), empty)
        if c["incorrect"] or c["failed"] * max(1, p["attempted"]) > p["failed"] * max(1, c["attempted"]):
            failing.add(workload)
            print(f"{workload}: the change fails more operations or output checks "
                  "than the parent; no gain counts", file=sys.stderr)
    print(f"{'workload':<11} {'metric':<36} {'parent median [q1, q3]':>34} "
          f"{'change median [q1, q3]':>34} {'won p/c':>9}  verdict")
    n_worse = 0
    for (workload, name), sides in sorted(table.items()):
        if "parent" not in sides or "change" not in sides:
            continue
        m = metrics.get(name, {"better": "lower"})
        v, wp, wc = verdict(sides["parent"], sides["change"], m["better"], m.get("bound"))
        if v == "improved" and workload in failing:
            v = "failures: not counted"
        n_worse += v == "worse" and "bound" in m
        cells = []
        for side in ("parent", "change"):
            q1, q2, q3 = _quartiles(list(sides[side].values()))
            cells.append(f"{q2:.6g} [{q1:.6g}, {q3:.6g}]")
        values = list(sides["parent"].values()) + list(sides["change"].values())
        exact = " exact" if len(set(values)) == 1 else ""
        print(f"{workload:<11} {name:<36} {cells[0]:>34} {cells[1]:>34} "
              f"{wp:4.0%}/{wc:<4.0%}  {v}{exact}")
    return 1 if n_worse or failing else 0


def baseline(files: list[str], spec: dict, dev_seed: int, held_out_seed: int) -> dict:
    """The record kept in BASELINE.json: untraced medians, the traced
    per-layer values, the tracing overhead and which per-layer counts
    repeated exactly between two traced runs of one seed."""
    import platform

    import pyspark

    runs: dict[str, list[dict]] = {}
    for run in _load(files):
        runs.setdefault(run["workload"], []).append(run)
    counts = {m["name"] for m in spec["per_layer"] if m["unit"] in ("count", "bytes", "ratio")}
    why = {w["name"]: w["why"] for w in spec["workloads"]}
    out = {}
    for name in sorted(runs):
        untraced = [r for r in runs[name] if r["trace"] == 0]
        traced = [r for r in runs[name] if r["trace"] == 1]
        # [q1, median, q3] of each end-to-end metric over the untraced runs
        e2e = {
            m["name"]: list(_quartiles([r["result"]["metrics"][m["name"]]["value"] for r in untraced]))
            for m in spec["end_to_end"]
        } if untraced else {}
        layer, repeat, differ = {}, [], []
        if traced:
            first = traced[0]["result"]["metrics"]
            layer = {k: v["value"] for k, v in first.items()}
            same_seed = [r for r in traced[1:] if r["seed"] == traced[0]["seed"]]
            for k in sorted(counts):
                if same_seed:
                    values = {first[k]["value"]} | {r["result"]["metrics"][k]["value"] for r in same_seed}
                    (repeat if len(values) == 1 else differ).append(k)
        out[name] = {
            "why": why.get(name, "not in BENCHMARK.json; run by hand"),
            "untraced_runs": len(untraced),
            "untraced_quartiles": e2e,
            "traced_runs": len(traced),
            "traced_per_layer": layer,
            "tracing_overhead_s": (
                statistics.median(r["result"]["metrics"]["trace.op_p50_s"]["value"] for r in traced)
                - e2e["op_p50_s"][1]
            ) if traced and e2e else None,
            "counts_repeat_exactly": repeat,
            "counts_differ": differ,
        }
    return {
        "dev_seed": dev_seed,
        "held_out_seed": held_out_seed,
        "nproc": len(os.sched_getaffinity(0)),
        "spark_local_threads": len(os.sched_getaffinity(0)),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "run_seconds": spec["run_seconds"],
        "workloads": out,
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    for name in ("record", "pairs"):
        s = sub.add_parser(name)
        s.add_argument("--workload", required=True)
        s.add_argument("--seeds", required=True, help="e.g. 1-10 or 1,3,5")
        s.add_argument("--out", required=True)
        s.add_argument("--trace", type=int, default=0)
        if name == "record":
            s.add_argument("--checkout", default=ROOT)
            s.add_argument("--side", default="change")
        else:
            s.add_argument("--parent", required=True)
            s.add_argument("--change", default=ROOT)
    c = sub.add_parser("compare")
    c.add_argument("files", nargs="+")
    b = sub.add_parser("baseline")
    b.add_argument("files", nargs="+")
    b.add_argument("--out", required=True)
    b.add_argument("--dev-seed", type=int, required=True)
    b.add_argument("--held-out-seed", type=int, required=True)
    args = p.parse_args(argv)
    if args.cmd == "record":
        _record(args, [(args.side, os.path.abspath(args.checkout))])
        return 0
    if args.cmd == "pairs":
        _record(args, [("parent", os.path.abspath(args.parent)),
                       ("change", os.path.abspath(args.change))])
        return 0
    if args.cmd == "baseline":
        record = baseline(args.files, _spec(),
                          args.dev_seed, args.held_out_seed)
        with open(args.out, "w") as fh:
            json.dump(record, fh, indent=1, sort_keys=True)
            fh.write("\n")
        return 0
    return compare(args.files, _spec())


if __name__ == "__main__":
    raise SystemExit(main())
