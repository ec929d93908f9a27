"""KG-engine benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload build_large --seed 1 --seconds 5 --trace 0

Run it from the root of a checkout of the repository. A run starts one
Spark session (``local[4]``, capped at ``nproc``), does one untimed warm-up
and then the timed operations: one full build (build_large), or
``--seconds`` of queries from a seeded mix (query_mix). Every answer is
checked. One closed-loop client issues everything.

The last line of standard output is the result object. With ``--trace 0``
it holds the end-to-end metrics; with ``--trace 1`` the Spark event log is
on and it holds the per-layer metrics. Scratch files go to ``.perfbench/``
under the checkout. See ``perfbench/README.md`` for the workloads, metrics
and oracles.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("build_large", "query_mix")
CORES = 4
DRIVER_MEM = "4g"


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _parse() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--smoke", action="store_true", help="tiny corpora, for the self-test"
    )
    ap.add_argument(
        "--prepare",
        action="store_true",
        help="only build the cached query_mix stage store, in this process",
    )
    ap.add_argument(
        "--corrupt",
        action="store_true",
        help="drop one output edge before every check, for the self-test",
    )
    return ap.parse_args()


def _setup_env(work: Path, trace: bool) -> dict[str, str]:
    """Environment the program runs under. Every variable set here is
    recorded in the result's host fingerprint."""
    nproc = len(os.sched_getaffinity(0))
    cores = min(CORES, nproc)
    local = work / "spark-local"
    tmp = work / "tmp"
    for d in (local, tmp):
        d.mkdir(parents=True, exist_ok=True)
    extra = {"spark.ui.showConsoleProgress": "false"}
    if trace:
        ev = work / "events" / str(os.getpid())
        shutil.rmtree(ev, ignore_errors=True)
        ev.mkdir(parents=True)
        extra.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(ev),
                "spark.eventLog.compress": "false",
            }
        )
    env = {
        # workers import the program from the checkout
        "PYTHONPATH": str(ROOT),
        "SPARK_GRAFT_CPUS": str(cores),
        # the program's default driver heap (64g) exceeds this class of host
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        # the program's default collector, plus a fixed heap (steadier cold
        # runs) and no JVM files outside the checkout
        "SPARK_GRAFT_DRIVER_JAVA_OPTS": (
            f"-XX:+UseParallelGC -Xms{DRIVER_MEM} -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        ),
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "SPARK_GRAFT_EXTRA_CONF": json.dumps(extra, sort_keys=True),
        "SPARK_LOCAL_DIRS": str(local),
        "TMPDIR": str(tmp),
    }
    os.environ.update(env)
    return env


def main() -> None:
    args = _parse()
    if not (ROOT / "code_graph_rag_spark").is_dir():
        _fail(f"no code_graph_rag_spark package under {ROOT}: run from a full checkout")
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(Path(__file__).resolve().parent))
    work = ROOT / ".perfbench"
    run_dir = work / "runs" / str(os.getpid())
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    overrides = _setup_env(work, bool(args.trace))

    from measure import MemSampler, host_fingerprint

    import workloads

    try:
        with MemSampler() as mem:
            res = workloads.run(args, ROOT, work, run_dir, T_START)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if args.prepare:
        return
    res.host = host_fingerprint(ROOT, overrides)
    print(json.dumps({"host": res.host, "detail": res.detail}, sort_keys=True))
    print(json.dumps(res.result(args.trace, mem.peak), sort_keys=True))


if __name__ == "__main__":
    main()
