"""Steadiness of the end-to-end metrics across runs of the same code.

    python3 perfbench/steadiness.py sweep --workload search_serve --seeds 1-10 --out .perfbench_results/setA
    python3 perfbench/steadiness.py report .perfbench_results/setA [.perfbench_results/setB]

``sweep`` runs ``run.py`` once per seed (one process, one JVM each) and keeps
every result file in ``--out``. ``report`` prints, per workload and
end-to-end metric, the median, quartiles and inter-quartile spread as a share
of the median against the metric's bound in BENCHMARK.json; given a second
set it also prints how far the second median moved, in the worse direction,
as a share of the first. Where the first set also holds traced runs of a
crawl workload, it prints the traced superstep's duration minus the median
untraced superstep wall time: the round's tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
from pathlib import Path

from tracer import quartiles

ROOT = Path(__file__).resolve().parent.parent


def seed_range(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def sweep(args) -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    out = (ROOT / args.out).resolve()
    out.mkdir(parents=True, exist_ok=True)
    failures = 0
    for seed in seed_range(args.seeds):
        cmd = [*spec["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(spec["run_seconds"]), "--trace", str(args.trace)]
        env = {**os.environ, "PERFBENCH_RESULTS": str(out)}
        proc = subprocess.run(cmd, cwd=ROOT, env=env, capture_output=True, text=True)
        last = proc.stdout.strip().splitlines()[-1:] or ["<no output>"]
        print(f"seed {seed}: exit {proc.returncode} {last[0][:200]}", flush=True)
        failures += proc.returncode != 0
    return 1 if failures else 0


def load(dir_: Path) -> dict[str, dict[str, list[float]]]:
    """workload -> metric -> values, from the untraced result files; under
    ``wall_s`` the wall time of every operation."""
    out: dict[str, dict[str, list[float]]] = {}
    for p in sorted(dir_.glob("*.json")):
        rec = json.loads(p.read_text())
        if rec.get("trace") != 0 or "result" not in rec:
            continue
        for name, m in rec["result"]["metrics"].items():
            out.setdefault(rec["workload"], {}).setdefault(name, []).append(m["value"])
        out[rec["workload"]].setdefault("wall_s", []).extend(rec.get("ops") or [])
    return out


def report(args) -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    metrics = {m["name"]: m for m in spec["end_to_end"]}
    sets = [load(Path(d)) for d in args.dirs]
    ok = True
    print(f"{'workload':14} {'metric':12} {'n':>3} {'median':>10} {'q1':>10} {'q3':>10} "
          f"{'spread':>7} {'bound':>6} {'drift':>7}  verdict")
    for wl in sorted(set().union(*sets)):
        for name, m in metrics.items():
            vals = [s.get(wl, {}).get(name, []) for s in sets]
            if not vals[0]:
                continue
            q1, med, q3 = quartiles(vals[0])
            spread = (q3 - q1) / med
            verdict = "steady" if spread < m["bound"] / 3 else (
                "within bound" if spread <= m["bound"] else "TOO WIDE")
            drift = ""
            if len(vals) > 1 and vals[1]:
                med2 = quartiles(vals[1])[1]
                worse = (med2 - med) / med * (1 if m["better"] == "lower" else -1)
                drift = f"{worse:+.3f}"
                if worse > m["bound"]:
                    verdict += ", SECOND SET WORSE"
            ok &= "TOO WIDE" not in verdict and "WORSE" not in verdict
            print(f"{wl:14} {name:12} {len(vals[0]):3d} {med:10.4f} {q1:10.4f} {q3:10.4f} "
                  f"{spread:7.3f} {m['bound']:6.2f} {drift:>7}  {verdict}")
    for wl in ("bulk_frontier", "paced_bfs"):
        traced = [
            sp["duration_s"]
            for f in Path(args.dirs[0]).glob(f"spans-{wl}-*.json")
            for sp in json.loads(f.read_text())["spans"]
            if sp["name"] == "crawl_plan.run_round"
        ]
        ops = sets[0].get(wl, {}).get("wall_s")
        if traced and ops:
            med = statistics.median(ops)
            print(f"{wl}: traced superstep {statistics.median(traced):.2f} s vs untraced "
                  f"{med:.2f} s: tracing overhead "
                  f"{statistics.median(traced) - med:+.2f} s")
    return 0 if ok else 1


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    s = sub.add_parser("sweep")
    s.add_argument("--workload", required=True)
    s.add_argument("--seeds", default="1-10")
    s.add_argument("--trace", type=int, default=0)
    s.add_argument("--out", required=True)
    r = sub.add_parser("report")
    r.add_argument("dirs", nargs="+")
    args = p.parse_args(argv)
    return sweep(args) if args.cmd == "sweep" else report(args)


if __name__ == "__main__":
    sys.exit(main())
