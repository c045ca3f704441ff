"""Self-test of the benchmark itself (not of the program).

    python3 kgbench/selftest.py

Checks, on tiny inputs:

* every workload, untraced and traced, prints as its last line a result
  with exactly the keys correct/attempted/failed/metrics, passes its
  checks, and reports every metric BENCHMARK.json names with its unit;
* a deliberately corrupted output (one exported triple, or one graph
  result row, dropped) counts as a failed op and the run is not correct;
* without the program beside it the benchmark exits non-zero and prints
  no result.

Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
TIMEOUT = 600


def _run(args: list[str], cwd: Path = ROOT) -> tuple[int, dict | None]:
    proc = subprocess.run(
        [sys.executable, "kgbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=TIMEOUT,
    )
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    if proc.returncode and result is None:
        sys.stderr.write(proc.stderr[-2000:])
    return proc.returncode, result


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    want = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    failures: list[str] = []

    def expect(cond: bool, what: str) -> None:
        print(("ok   " if cond else "FAIL ") + what, flush=True)
        if not cond:
            failures.append(what)

    workloads = [w["name"] for w in bench["workloads"]]
    for wl in workloads:
        for trace in (0, 1):
            code, res = _run(["--workload", wl, "--seed", "3", "--seconds", "1",
                              "--trace", str(trace), "--scale", "tiny"])
            tag = f"{wl} trace={trace}"
            expect(code == 0 and res is not None, f"{tag}: exits 0 with a result line")
            if res is None:
                continue
            expect(set(res) == {"correct", "attempted", "failed", "metrics"}, f"{tag}: result keys")
            expect(res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1,
                   f"{tag}: every op passes its checks")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            expect(got == want[trace], f"{tag}: every metric with its unit")

    for wl in ("batch_build", "graph_analytics"):
        code, res = _run(["--workload", wl, "--seed", "3", "--seconds", "1",
                          "--trace", "0", "--scale", "tiny", "--corrupt"])
        expect(code == 0 and res is not None and res["correct"] is False and res["failed"] >= 1,
               f"{wl}: a dropped output row is a failed op")

    bare = ROOT / ".kgbench" / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    for p in bench["paths"]:
        shutil.copytree(ROOT / p, bare / p, ignore=shutil.ignore_patterns("__pycache__"))
    code, res = _run(["--workload", workloads[0], "--seed", "3", "--seconds", "1", "--trace", "0"], cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    expect(code != 0 and res is None, "without the program: non-zero exit, no result")

    print(f"{len(failures)} failed" if failures else "all self-tests passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
