"""Self-test of the benchmark, at smoke size:

1. each workload, untraced and traced, exits 0 and its last line holds every
   metric that BENCHMARK.json names for that mode, with its unit, and no
   failed operation;
2. each workload with ``--corrupt`` (one output edge or row dropped before
   every check) reports failed operations and ``correct: false``;
3. a directory holding only BENCHMARK.json and the benchmark's files makes
   the benchmark exit non-zero without a result.

    python3 perfbench/selftest.py      # from the root of a checkout

Prints one line per check and exits non-zero if any check fails.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def _run(cwd: Path, workload: str, *extra: str) -> tuple[int, dict | None]:
    cmd = [*SPEC["command"], "--workload", workload, "--seed", "3",
           "--seconds", "1", *extra]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    try:
        last = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        last = None
    return p.returncode, last


def main() -> int:
    problems = []

    def check(ok: bool, what: str) -> None:
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            problems.append(what)

    for w in (x["name"] for x in SPEC["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            code, res = _run(ROOT, w, "--smoke", "--trace", str(trace))
            want = {m["name"]: m["unit"] for m in SPEC[key]}
            got = {} if res is None else {
                k: v.get("unit") for k, v in res.get("metrics", {}).items()
            }
            check(code == 0 and res is not None and set(res) == RESULT_KEYS,
                  f"{w} trace={trace}: exit 0 with a result line")
            check(got == want, f"{w} trace={trace}: every {key} metric with its unit")
            check(res is not None and res["correct"] and res["failed"] == 0,
                  f"{w} trace={trace}: no failed operation")
        code, res = _run(ROOT, w, "--smoke", "--trace", "0", "--corrupt")
        check(code == 0 and res is not None and res["failed"] > 0 and not res["correct"],
              f"{w}: a dropped output edge is a failed operation")

    bare = ROOT / ".perfbench" / "selftest-bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    for p in SPEC["paths"]:
        shutil.copytree(ROOT / p, bare / p, ignore=shutil.ignore_patterns("__pycache__"))
    code, res = _run(bare, SPEC["workloads"][0]["name"], "--trace", "0")
    check(code != 0 and res is None, "benchmark files alone: non-zero exit, no result")
    shutil.rmtree(bare, ignore_errors=True)

    print("selftest: " + ("FAILED " + "; ".join(problems) if problems else "passed"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
