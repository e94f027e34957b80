"""bench.py harness surface (driver contract: one JSON line on stdout)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from tests.conftest import SF_DIR


def test_subset_run_on_documents_only_sf_dir(tmp_path):
    """An op-subset run must work on an sf dir that ships only the tables
    its ops read: the warmup may not assume any particular table."""
    os.symlink(f"{SF_DIR}/documents.parquet", tmp_path / "documents.parquet")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "bench.py", "minhash_sig"],
        capture_output=True, text=True, timeout=300, cwd=repo,
        env={
            **os.environ,
            "SPARK_GRAFT_SF_DIR": str(tmp_path),
            "SPARK_GRAFT_BENCH_RUNS": "1",
            "SPARK_GRAFT_CPUS": "2",
        },
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = out.stdout.strip().splitlines()
    assert len(lines) == 1, out.stdout
    rec = json.loads(lines[0])
    assert rec["metric"] == "subset_suite_sec"
    assert set(rec["queries"]) == {"minhash_sig"}
