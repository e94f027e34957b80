"""Throughput scaling of the flagship pipeline: perfbench's kg_build
workload at two CPU counts.

    python bench_scaling.py

Each run is ``perfbench/run.py --workload kg_build --seed 42 --trace 0`` in
a child process pinned with ``os.sched_setaffinity``; perfbench sizes
``local[n]`` from that affinity set. The wide level is this process's
whole affinity set, the narrow level its first ``max(1, n // 4)`` CPUs.
The levels run in ``ROUNDS`` rounds and take turns going first, so a
drift in the host's speed hits both alike. A run that is not correct or
has a failed iteration stops the script.

Writes ``BENCH/scaling.json``: every run's end-to-end metrics, the median
of each metric per level, and

    efficiency = median docs_per_s(wide)
                 / (wide_cpus / narrow_cpus × median docs_per_s(narrow))
"""

from __future__ import annotations

import json
import os
import pathlib
import statistics
import subprocess
import sys

REPO = pathlib.Path(__file__).resolve().parent
OUT = REPO / "BENCH" / "scaling.json"
ROUNDS = 4
COMMAND = ["perfbench/run.py", "--workload", "kg_build", "--seed", "42", "--trace", "0"]


def levels(cpus: set[int]) -> dict[str, list[int]]:
    cpus = sorted(cpus)
    return {"narrow": cpus[: max(1, len(cpus) // 4)], "wide": cpus}


def run_pinned(cpus: list[int]) -> str:
    """One perfbench run on ``cpus``; returns its result line (the last
    line of its stdout)."""
    out = subprocess.run(
        [sys.executable, *COMMAND], cwd=REPO, check=True, text=True,
        stdout=subprocess.PIPE, preexec_fn=lambda: os.sched_setaffinity(0, cpus),
    )
    return out.stdout.strip().splitlines()[-1]


def check(level: str, cpus: int, line: str) -> dict:
    """One run's record from its perfbench result line. Raises ValueError
    on a run that is not correct or has a failed iteration: its timing
    does not measure working code."""
    res = json.loads(line)
    if not res["correct"] or res["failed"] > 0:
        raise ValueError(f"{level} run on {cpus} CPUs failed its check: {line}")
    metrics = {k: v["value"] for k, v in res["metrics"].items()}
    return {"level": level, "cpus": cpus, "attempted": res["attempted"], "metrics": metrics}


def summarize(runs: list[dict]) -> dict:
    """The scaling record: every run, the median of each metric per level
    and the efficiency."""
    by_level: dict[str, list[dict]] = {}
    cpus = {}
    for run in runs:
        by_level.setdefault(run["level"], []).append(run["metrics"])
        cpus[run["level"]] = run["cpus"]
    median = {
        level: {k: statistics.median(m[k] for m in ms) for k in ms[0]}
        for level, ms in by_level.items()
    }
    ratio = cpus["wide"] / cpus["narrow"]
    return {
        "command": COMMAND,
        "cpus": cpus,
        "runs": runs,
        "median": median,
        "efficiency": median["wide"]["docs_per_s"] / (ratio * median["narrow"]["docs_per_s"]),
    }


def main() -> int:
    pinned = levels(os.sched_getaffinity(0))
    runs = []
    for r in range(ROUNDS):
        order = ["narrow", "wide"] if r % 2 == 0 else ["wide", "narrow"]
        for level in order:
            cpus = pinned[level]
            line = run_pinned(cpus)
            print(f"round {r} {level} ({len(cpus)} CPUs): {line}", file=sys.stderr)
            runs.append(check(level, len(cpus), line))
    record = summarize(runs)
    OUT.write_text(json.dumps(record, indent=1) + "\n")
    print(json.dumps({"median": record["median"], "efficiency": record["efficiency"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
