"""bench_scaling.py's result step, from canned perfbench result lines (no
Spark)."""

import json
import pathlib
import sys

import pytest

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

import bench_scaling as bs  # noqa: E402


def _line(docs_per_s: float, wall_s: float, correct: bool = True, failed: int = 0) -> str:
    metrics = {"docs_per_s": (docs_per_s, "1/s"), "wall_s": (wall_s, "s")}
    return json.dumps({
        "correct": correct, "attempted": 7, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    })


def test_medians_and_efficiency():
    runs = [
        bs.check("narrow", 1, _line(80.0, 5.0)),
        bs.check("wide", 4, _line(150.0, 2.6)),
        bs.check("wide", 4, _line(160.0, 2.5)),
        bs.check("narrow", 1, _line(50.0, 8.0)),
        bs.check("narrow", 1, _line(60.0, 6.6)),
        bs.check("wide", 4, _line(100.0, 4.0)),
    ]
    rec = bs.summarize(runs)
    assert rec["median"] == {
        "narrow": {"docs_per_s": 60.0, "wall_s": 6.6},
        "wide": {"docs_per_s": 150.0, "wall_s": 2.6},
    }
    assert rec["cpus"] == {"narrow": 1, "wide": 4}
    assert rec["efficiency"] == pytest.approx(150.0 / (4 * 60.0))
    assert [r["metrics"]["docs_per_s"] for r in rec["runs"]] == [80, 150, 160, 50, 60, 100]


@pytest.mark.parametrize("bad", [_line(80.0, 5.0, correct=False), _line(80.0, 5.0, failed=1)])
def test_refuses_a_failed_run(bad):
    with pytest.raises(ValueError, match="failed its check"):
        bs.check("narrow", 1, bad)


def test_levels_split_the_affinity_set():
    assert bs.levels({3, 0, 2, 1}) == {"narrow": [0], "wide": [0, 1, 2, 3]}
    assert bs.levels({0, 1, 2, 3, 4, 5, 6, 7}) == {"narrow": [0, 1], "wide": list(range(8))}
    assert bs.levels({5}) == {"narrow": [5], "wide": [5]}
