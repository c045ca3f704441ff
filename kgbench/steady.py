"""Run-to-run spread of the end-to-end metrics.

    python3 kgbench/steady.py --runs 10 [--first-seed 100] [--workload NAME ...]
                              [--out FILE] [--against EARLIER_FILE]

Runs the benchmark once per seed on each workload (untraced, with the
``run_seconds`` of BENCHMARK.json), the workloads taking turns seed by
seed so that a change in the host's speed over the set reaches every
workload alike.  Prints, per workload and metric, the median of the
per-run values and their spread: the distance between the first and
third quartile (``statistics.quantiles(values, n=4)``) as a share of the
median, next to the metric's bound; and the wall time of whole runs,
which must fit the contract's time budget (3420 s for 4 + 22 × workloads
runs).  ``--out`` also writes every per-run result as JSON.
``--against`` compares the medians with those of an earlier ``--out``
file: a median worse than the earlier one by more than the bound fails.

Exits non-zero when a run is not correct, a spread is above a third of
its bound, or a median is worse than the earlier set's by more than its
bound.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def spread(values: list[float]) -> tuple[float, float]:
    med = statistics.median(values)
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else float("inf")


def _run(bench: dict, wl: str, seed: int) -> dict:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [*bench["command"], "--workload", wl, "--seed", str(seed),
         "--seconds", str(bench["run_seconds"]), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    wall = time.perf_counter() - t0
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    print(f"{wl} seed {seed}: {wall:.0f} s wall, correct={res['correct']} "
          + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
          flush=True)
    return {"seed": seed, "wall_s": wall, **res}


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=100)
    p.add_argument("--workload", action="append")
    p.add_argument("--out")
    p.add_argument("--against")
    args = p.parse_args()
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    earlier = json.loads(Path(args.against).read_text()) if args.against else {}

    runs: dict[str, list] = {wl: [] for wl in workloads}
    for k in range(args.runs):
        for wl in workloads:
            runs[wl].append(_run(bench, wl, args.first_seed + k))

    report: dict = {}
    ok = True
    for wl in workloads:
        summary = {}
        for name, m in metrics.items():
            med, spr = spread([r["metrics"][name]["value"] for r in runs[wl]])
            summary[name] = {"median": med, "spread": spr, "bound": m["bound"]}
            flags = []
            if spr >= m["bound"] / 3:
                flags.append("spread above bound/3")
            if wl in earlier:
                before = earlier[wl]["summary"][name]["median"]
                change = (med - before) / before
                summary[name]["change_vs_earlier"] = change
                worse = change if m["better"] == "lower" else -change
                if worse > m["bound"]:
                    flags.append(f"worse than earlier set by {worse:.3f}")
            ok &= not flags
            shift = (f"  vs earlier {summary[name]['change_vs_earlier']:+.3f}"
                     if "change_vs_earlier" in summary[name] else "")
            print(f"  {wl:20s} {name:12s} median {med:10.4f}  spread {spr:6.3f}"
                  f"  bound {m['bound']:.2f}{shift}" + "".join(f"  <-- {f}" for f in flags))
        walls = [r["wall_s"] for r in runs[wl]]
        print(f"  {wl:20s} run wall time: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
        report[wl] = {"summary": summary, "runs": runs[wl],
                      "all_correct": all(r["correct"] for r in runs[wl])}
        ok &= report[wl]["all_correct"]
    if args.out:
        Path(args.out).write_text(json.dumps(report, indent=1))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
