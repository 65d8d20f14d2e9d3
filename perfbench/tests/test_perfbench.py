"""The benchmark's own tests: fixture schemas, plan contents under
``noop`` forcing, and a smoke run of every workload at the smallest
size.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH, os.path.join(ROOT, "tests")]

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


@pytest.fixture(scope="module")
def probe_and_fixtures(tmp_path_factory):
    from logicash_etl_spark import get_spark
    from fixtures import write_fixtures
    from tracing import SparkProbe

    spark = get_spark(app_name="perfbench-tests")
    sf_dir = write_fixtures(str(tmp_path_factory.mktemp("sf")), 0.001)
    yield spark, SparkProbe(spark), sf_dir
    spark._jsparkSession.listenerManager().clear()


_ARROW = {
    "int32": pa.int32(), "int64": pa.int64(), "double": pa.float64(), "string": pa.string(),
    "timestamp[ms]": pa.timestamp("ms"), "timestamp[ns]": pa.timestamp("ns"),
    "list<float>": pa.list_(pa.float32()),
}


def _documented_schemas() -> dict[str, list[tuple[str, pa.DataType]]]:
    """The table schemas of FIXTURES.md section B."""
    with open(os.path.join(ROOT, "FIXTURES.md")) as fh:
        section = fh.read().split("## B.", 1)[1]
    out = {}
    for line in section.splitlines():
        cells = [c.strip() for c in line.strip().strip("|").split("|")]
        if len(cells) == 2 and ":" in cells[1]:
            out[cells[0]] = [(f, _ARROW[t]) for f, t in
                             (col.strip().split(":", 1) for col in cells[1].split(", "))]
    return out


def test_fixtures_have_the_documented_schemas(probe_and_fixtures):
    from fixtures import TABLES

    documented = _documented_schemas()
    assert sorted(documented) == sorted(TABLES)
    sf_dir = probe_and_fixtures[2]
    for table, cols in documented.items():
        schema = pq.read_schema(f"{sf_dir}/{table}.parquet")
        assert [(f.name, f.type) for f in schema] == cols, table


def _noop_plan(spark, probe, sf_dir, name):
    from logicash_etl_spark.queries import QUERIES

    mark = probe.mark()
    QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    probe.drain()
    stats = probe.plan_stats(probe.since(mark)[-1])
    spark.catalog.clearCache()
    return stats


@pytest.mark.parametrize("name", __import__("workloads").PYTHON_QUERIES)
def test_python_queries_keep_their_python_nodes(probe_and_fixtures, name):
    assert _noop_plan(*probe_and_fixtures, name).get("python_nodes", 0) > 0


@pytest.mark.parametrize("name", __import__("workloads").SQL_QUERIES)
def test_sql_queries_have_no_python_nodes(probe_and_fixtures, name):
    assert _noop_plan(*probe_and_fixtures, name).get("python_nodes", 0) == 0


# run.main's own path set-up, done first so the sizes can be patched
_SMALL = (
    "import sys; sys.path[:0] = [{bench!r}, {root!r}, {root!r} + '/tests']; "
    "import workloads; "
    "workloads.CATALOG_SF = 0.001; workloads.MEDALLION_TX = 2000; "
    "import run; sys.exit(run.main(sys.argv[1:]))"
)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_every_metric_with_its_unit(workload, trace, tmp_path):
    """Run from outside the repository root, so the Python workers must
    find the engine through the PYTHONPATH the benchmark sets."""
    proc = subprocess.run(
        [sys.executable, "-c", _SMALL.format(bench=BENCH, root=ROOT), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace)],
        cwd=tmp_path, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    got = result["metrics"]
    assert set(got) == {m["name"] for m in want}
    for m in want:
        assert got[m["name"]]["unit"] == m["unit"]
    assert "verdict correct" in proc.stdout
