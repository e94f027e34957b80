"""DuckDB-oracle parity for every SQL✓ operator (mirrors the driver's
CORRECTNESS gate at sf0.001 for speed; the driver runs sf0.01)."""

from __future__ import annotations

import pytest

from glre_spark.operators import REGISTRY, _ensure_loaded
from tests.conftest import SF_DIR
from tests.oracle_util import TABLES, canon, compare, duck_run

_ensure_loaded()
SQL_OPS = sorted(k for k, (_, sql) in REGISTRY.items() if sql is not None)
ROWS_ONLY_OPS = sorted(k for k, (_, sql) in REGISTRY.items() if sql is None)


@pytest.mark.parametrize("name", SQL_OPS)
def test_oracle_parity(spark, name):
    fn, sql = REGISTRY[name]
    sdf = fn(spark, SF_DIR)
    ddf = duck_run(SF_DIR, sql)
    problems = compare(sdf, ddf)
    assert not problems, f"{name}: " + "; ".join(problems)


@pytest.mark.parametrize("name", [n for n in ROWS_ONLY_OPS if not n.startswith("glre_")])
def test_rows_only_ops_run(spark, name):
    fn, _ = REGISTRY[name]
    df = fn(spark, SF_DIR)
    assert df.count() >= 0
    assert len(df.columns) > 0


@pytest.mark.parametrize(
    "name", ["scan_partition_pruned", "scan_nested_pruned", "lsh_candidates"]
)
def test_overwritten_input_is_read_fresh(spark, tmp_path, name):
    """Ops that stage a layout or checkpoint an intermediate must not
    serve a previous build's data: run on corpus A, overwrite
    documents.parquet at the SAME path with corpus B, and the op must
    match the oracle on B."""
    import os

    import pyarrow.parquet as pq

    for t in TABLES:
        if t != "documents":
            os.symlink(f"{SF_DIR}/{t}.parquet", tmp_path / f"{t}.parquet")
    docs = pq.read_table(f"{SF_DIR}/documents.parquet")
    half = docs.num_rows // 2
    target = tmp_path / "documents.parquet"
    fn, sql = REGISTRY[name]

    pq.write_table(docs.slice(0, half), target)
    before = duck_run(str(tmp_path), sql)
    assert not compare(fn(spark, str(tmp_path)), before)

    pq.write_table(docs.slice(half), target)
    after = duck_run(str(tmp_path), sql)
    assert canon(after) != canon(before), "corpus B must change the rows"
    problems = compare(fn(spark, str(tmp_path)), after)
    assert not problems, f"{name}: " + "; ".join(problems)


def test_keeper_table_catches_mirror_in_dropped_block(spark, tmp_path):
    """sf0.1 holds a byte-identical pair (932, 4556) whose every LSH band
    block is over MAX_LSH_BLOCK, so the banded candidates alone never pair
    it. The keeper table's exact-content star edges must still make 932
    the keeper of 4556, on both engines."""
    import os

    sf = os.path.join(os.path.dirname(SF_DIR), "sf0.1")
    for t in TABLES:
        src = SF_DIR if t != "documents" else sf
        os.symlink(f"{src}/{t}.parquet", tmp_path / f"{t}.parquet")
    fn, sql = REGISTRY["dedup_keeper_table"]
    got = fn(spark, str(tmp_path))
    keeper = {r.doc_id: r.keeper for r in got.filter("doc_id IN (932, 4556)").collect()}
    assert keeper == {932: 932, 4556: 932}
    problems = compare(got, duck_run(str(tmp_path), sql))
    assert not problems, "; ".join(problems)
