"""Self-test of the benchmark at tiny size (sf0.001 tables, 20-block calls,
200 documents).  Not part of the repository's test suite; run with::

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "11",
         "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=HERE.parent, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_metric_printed_with_its_unit(workload, trace):
    result = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    declared = {m["name"]: m["unit"] for m in SPEC["per_layer" if trace else "end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_planted_wrong_hash_raises_error_rate(monkeypatch):
    sys.path.insert(0, str(HERE))
    import run as bench

    real = bench.oracle_hashes

    def planted(data_dir, names):
        hashes = real(data_dir, names)
        hashes[names[0]] = "0" * 64
        return hashes

    monkeypatch.setattr(bench, "oracle_hashes", planted)
    result = bench.run("dq_suite", seed=11, seconds=1, trace=False, tiny=True)
    assert not result["correct"]
    assert 0 < result["failed"] / result["attempted"] < 1


def test_failed_calls_left_out_of_timed_metrics():
    sys.path.insert(0, str(HERE))
    import run as bench

    ok_a = bench.CallRecord("run_range", 4.0, 50_000, True)
    failed_a = bench.CallRecord("run_range", 0.0, 0, False)
    ok_b = bench.CallRecord("ingest_curate", 3.0, 500, True)
    records = [ok_a, failed_a, ok_b]
    assert bench._timed(records, None) == [ok_a, ok_b]
    assert bench._timed(records, ("run_range",)) == [ok_a]


@pytest.mark.xfail(
    strict=True,
    raises=AssertionError,
    reason="dq03 is left out of dq_suite: Spark and DuckDB round a decimal tie "
    "of a double differently. When this passes, put dq03 back in dq_suite.",
)
def test_left_out_query_disagrees_with_its_oracle(tmp_path):
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    sys.path.insert(0, str(HERE))
    import datagen
    import run as bench

    import __spark_entry__ as entry
    from tests.oracle import canonical_hash

    assert set(bench.LEFT_OUT) == {"dq03"}
    data = tmp_path / "tables"
    datagen.write_tables(data, 11, 0.001)
    # One dq03 row whose exact charge, 34702.9 * 0.95 = 32967.755, is a tie.
    path = data / "lineitem.parquet"
    line = pq.read_table(path)
    row = pc.index(pc.less_equal(line["l_orderkey"], 50), True).as_py()
    for col, value in (("l_extendedprice", 34702.9), ("l_discount", 0.05), ("l_tax", 0.0)):
        values = line[col].to_pylist()
        values[row] = value
        line = line.set_column(line.schema.get_field_index(col), col, pa.array(values, pa.float64()))
    pq.write_table(line, path)

    expected = bench.oracle_hashes(data, ["dq03"])["dq03"]
    (tmp_path / "tmp").mkdir()
    spark = bench.new_session(tmp_path)
    try:
        from etl_rust_spark.catalog import register_views

        register_views(spark, str(data))
        df = entry.queries()["dq03"](spark, str(data))
        got = canonical_hash([tuple(r) for r in df.collect()], df.columns)
    finally:
        bench.stop_engine(spark)
    assert got == expected
