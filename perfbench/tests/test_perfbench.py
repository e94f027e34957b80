"""Spark-free tests of the benchmark's measurement helpers.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import itertools
import json
import os

from perfbench.catalog import END_TO_END, HIGHER_IS_BETTER, PER_LAYER
from perfbench.tracing import (
    python_worker_peak_mb,
    read_event_logs,
    read_vmhwm_mb,
    triple_hash,
    triple_set_digest,
)

HERE = os.path.dirname(os.path.abspath(__file__))


def test_event_log_groups_stages_by_job_group():
    """A recorded rolling log (Spark 4 layout): job group "prep" ran one
    JVM-only shuffle job, "infer" a two-stage job whose first stage runs
    MapInPandas, and one job ran with no group."""
    groups = read_event_logs(os.path.join(HERE, "data", "eventlog"))
    assert set(groups) == {"prep", "infer", None}
    prep, infer = groups["prep"], groups["infer"]
    assert len(prep.jobs) == 1 and len(infer.jobs) == 1
    assert len(prep.stages) == 2 and prep.tasks == 2 + 1
    assert len(infer.stages) == 2
    assert infer.tasks == 4 + 1
    assert len(infer.python_stages().stages) == 1
    assert infer.python_stages().tasks == 4
    assert not prep.python_stages().stages
    assert infer.shuffle_write_mb > 0
    assert prep.run_s >= 0 and infer.cpu_s > 0
    assert infer.skew() >= 1.0
    # every task of the log is charged to exactly one group
    log = os.path.join(HERE, "data", "eventlog", "eventlog_v2_local-1", "events_1_local-1")
    with open(log, encoding="utf-8") as f:
        n_tasks = sum(json.loads(line)["Event"] == "SparkListenerTaskEnd" for line in f)
    assert sum(g.tasks for g in groups.values()) == n_tasks


def test_triple_set_digest_is_order_independent():
    triples = [("Alice Johnson", "P108", "Acme Corporation"),
               ("Acme Corporation", "P159", "New York"),
               ("Bob Smith", "P19", "Paris")]
    want = triple_set_digest(triples)
    for perm in itertools.permutations(triples):
        assert triple_set_digest(perm) == want
    assert triple_set_digest(triples + triples[:1]) == want  # a set: duplicates collapse
    assert want[0] == 3 and int(want[1]) == sum(triple_hash(*t) for t in triples)
    assert triple_set_digest(triples[:2])[1] != want[1]
    # the separator keeps field boundaries: ("ab", "c") != ("a", "bc")
    assert triple_hash("ab", "c", "d") != triple_hash("a", "bc", "d")


def _proc(tmp_path, pid: int, ppid: int, cmd: bytes, hwm_kb: int | None):
    d = tmp_path / str(pid)
    d.mkdir()
    (d / "stat").write_text(f"{pid} (py thon3) S {ppid} 1 1 0 -1\n")
    (d / "cmdline").write_bytes(cmd)
    status = "Name:\tpython3\n"
    if hwm_kb is not None:
        status += f"VmPeak:\t 999999 kB\nVmHWM:\t {hwm_kb} kB\nVmRSS:\t 10 kB\n"
    (d / "status").write_text(status)


def test_vmhwm_reader_takes_peak_over_python_workers(tmp_path):
    _proc(tmp_path, 100, 1, b"python3\0perfbench/run.py\0", 500_000)       # the driver
    _proc(tmp_path, 101, 100, b"java\0-cp\0/x/pyspark/jars/*\0", 900_000)  # JVM: not a worker
    _proc(tmp_path, 102, 101, b"python3\0-m\0pyspark.daemon\0", 40_960)
    _proc(tmp_path, 103, 102, b"python3\0-m\0pyspark.daemon\0", 204_800)  # forked worker
    _proc(tmp_path, 200, 1, b"python3\0-m\0pyspark.daemon\0", 999_999)    # not ours
    (tmp_path / "self").mkdir()
    assert read_vmhwm_mb(103, str(tmp_path)) == 200.0
    assert read_vmhwm_mb(999, str(tmp_path)) == 0.0
    assert python_worker_peak_mb(100, str(tmp_path)) == 200.0
    assert python_worker_peak_mb(200, str(tmp_path)) == 0.0


def test_benchmark_json_names_every_printed_metric():
    root = os.path.dirname(os.path.dirname(HERE))
    with open(os.path.join(root, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert m["better"] == ("higher" if m["name"] in HIGHER_IS_BETTER else "lower")
