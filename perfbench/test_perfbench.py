"""Self-tests for the benchmark's own logic.

    python3 -m pytest perfbench -q

The fingerprint test starts a one-core Spark session; everything else is
pure Python.
"""

from __future__ import annotations

import io
import json
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))

import gen  # noqa: E402
import run  # noqa: E402
from spans import EventLog  # noqa: E402
from stats import parse_steal_s, quartile_spread, self_time, tail_percentile, timing_summary  # noqa: E402

SMALL = {"points": 300, "admin": 8, "landuse": 40, "segments": 100, "fixes": 120, "labels": 200}


def _bytes(tables: dict[str, pa.Table]) -> dict[str, bytes]:
    out = {}
    for name, t in tables.items():
        buf = io.BytesIO()
        pq.write_table(t, buf)
        out[name] = buf.getvalue()
    return out


def test_generator_same_seed_same_bytes():
    assert _bytes(dict(zip("db", gen.documents(5, 400)))) == _bytes(dict(zip("db", gen.documents(5, 400))))
    assert _bytes(gen.spatial(5, SMALL)) == _bytes(gen.spatial(5, SMALL))


def test_generator_new_seed_new_bytes():
    a, b = _bytes(dict(zip("db", gen.documents(5, 400)))), _bytes(dict(zip("db", gen.documents(6, 400))))
    assert a["d"] != b["d"] and a["b"] != b["b"]
    sa, sb = _bytes(gen.spatial(5, SMALL)), _bytes(gen.spatial(6, SMALL))
    assert all(sa[k] != sb[k] for k in sa)


def test_generator_document_shape():
    docs, blobs = gen.documents(3, 500)
    assert docs.schema == gen.DOCS_SCHEMA and blobs.schema == gen.BLOBS_SCHEMA
    kinds = {d.split("/")[0] for d in docs["doc_id"].to_pylist()}
    assert kinds == {"node", "rel", "admin"}
    refs = {s["media_ref"][len("geom://"):] for spans in docs["spans"].to_pylist() for s in spans if s["kind"] == "geom"}
    ids = set(blobs["blob_id"].to_pylist())
    dangling = refs - ids
    assert all(r.startswith("seg-missing-") for r in dangling)  # only the deliberate P9 drops
    assert {p[0] for p in blobs["payload"].to_pylist()} == {gen.KIND_POINT, gen.KIND_SEGMENT}


def test_inputs_cached_by_seed_and_generator(tmp_path, monkeypatch):
    monkeypatch.setattr(gen, "SPATIAL_SIZES", SMALL)
    monkeypatch.setattr(gen, "spatial", lambda seed, sizes=SMALL, f=gen.spatial: f(seed, sizes))
    p = gen.ensure_inputs(tmp_path, "spatial", 9)
    assert p.name == f"spatial-9-{gen.generator_hash()}" and (p / "_DONE").exists()
    assert gen.num_rows(p / "points.parquet") == SMALL["points"]
    stamp = (p / "points.parquet" / "part-00000.parquet").stat().st_mtime_ns
    assert gen.ensure_inputs(tmp_path, "spatial", 9) == p
    assert (p / "points.parquet" / "part-00000.parquet").stat().st_mtime_ns == stamp


def test_self_time_overlapping_children():
    # children [1,4] and [3,6] overlap; [8,12] sticks out past the end
    assert self_time(0.0, 10.0, [(1.0, 4.0), (3.0, 6.0), (8.0, 12.0)]) == pytest.approx(10 - 5 - 2)
    assert self_time(0.0, 10.0, []) == 10.0
    assert self_time(0.0, 10.0, [(2.0, 3.0), (2.5, 2.6)]) == pytest.approx(9.0)


def test_percentile_rule():
    assert tail_percentile(list(range(19))) is None
    assert tail_percentile(list(range(1, 21)))[0] == 50.0
    p, v = tail_percentile(list(range(1, 101)))
    assert (p, v) == (90.0, 90.0)
    assert tail_percentile(list(range(1, 1001)))[0] == 99.0
    s = timing_summary([3.0, 1.0, 2.0])
    assert s == {"n": 3, "median": 2.0, "spread": 1.0}  # quartiles 1 and 3 (exclusive method)
    assert timing_summary([2.0]) == {"n": 1, "median": 2.0}


def test_quartile_spread():
    vals = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
    # statistics.quantiles(n=4) (exclusive method): Q1 = 2.75, Q3 = 8.25
    assert quartile_spread(vals) == pytest.approx((8.25 - 2.75) / 5.5)
    assert quartile_spread([2.0] * 10) == 0.0


def test_steal_parsing():
    text = "cpu  100 0 50 1000 5 0 2 250 0 0\ncpu0 50 0 25 500 2 0 1 125 0 0\nintr 1\n"
    assert parse_steal_s(text, clk_tck=100) == 2.5
    assert parse_steal_s("cpu  1 2 3 4\n", clk_tck=100) == 0.0
    with pytest.raises(ValueError):
        parse_steal_s("intr 1\n", clk_tck=100)


def _events() -> list[dict]:
    join = {"nodeName": "SortMergeJoin", "simpleString": "SortMergeJoin [_cell#1L], [_cell#2L], Inner",
            "children": [], "metrics": [{"name": "number of output rows", "accumulatorId": 7}]}
    scan = {"nodeName": "Scan parquet", "simpleString": "FileScan parquet [x] Location: [file:/a/blobs.parquet]",
            "children": [], "metrics": [{"name": "size of files read", "accumulatorId": 8}]}
    plan = {"nodeName": "Project", "simpleString": "Project [x]", "children": [join, scan], "metrics": []}

    def task(stage, run_ms, upd, accum=7):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Accumulables": [{"ID": accum, "Update": upd}]},
                "Task Metrics": {"Executor Run Time": run_ms, "Disk Bytes Spilled": 0,
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": 2**20}}}

    return [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart", "executionId": 3,
         "sparkPlanInfo": plan, "physicalPlanDescription": "== Physical Plan ==\nProject"},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "span.pip", "spark.sql.execution.id": "3"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {"spark.jobGroup.id": "other"}},
        task(0, 1000, 5), task(0, 3000, "10"), task(1, 500, 4, accum=99), task(2, 9999, 100),
        {"Event": "org.apache.spark.sql.execution.metric.SparkListenerDriverAccumUpdates", "executionId": 3,
         "accumUpdates": [[8, 4096]]},
    ]


def test_event_log_maps_tasks_and_plan_metrics_to_spans(tmp_path):
    path = tmp_path / "log"
    path.write_text("\n".join(json.dumps(e) for e in _events()) + "\n")
    log = EventLog.load(path)
    s = log.summary("span.pip")
    assert s == {"busy_s": 4.5, "shuffle_mb": 3.0, "spill_mb": 0.0, "spark_jobs": 1}
    assert log.node_metric("span.pip", run._cell_join) == 15
    assert log.node_metric("span.pip", lambda n: "blobs.parquet" in n.desc, "size of files read") == 4096
    # stage 0 updated the join's counter: tasks of 1000 and 3000 ms
    assert log.task_max_over_median("span.pip", run._cell_join) == pytest.approx(3000 / 2000)
    assert log.busy_where("span.pip", lambda plan: "Project" in plan) == 4.5


def test_benchmark_json_lists_what_run_reports():
    spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert [w["name"] for w in spec["workloads"]] == ["flagship", "spatial"]


@pytest.fixture(scope="module")
def spark():
    pyspark = pytest.importorskip("pyspark")
    s = (pyspark.sql.SparkSession.builder.master("local[1]").config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "2").getOrCreate())
    yield s
    s.stop()


def test_fingerprint_flips_on_one_perturbed_row(spark):
    import workloads

    rows = [(i, float(i) / 3, f"n{i}", [i, i + 1]) for i in range(200)]
    cols = "id long, x double, s string, a array<long>"
    base = workloads.fingerprint(spark.createDataFrame(rows, cols))
    shuffled = workloads.fingerprint(spark.createDataFrame(list(reversed(rows)), cols).repartition(3))
    assert base == shuffled  # order-insensitive
    perturbed = list(rows)
    perturbed[17] = (17, 17 / 3 + 1e-12, "n17", [17, 18])
    assert workloads.fingerprint(spark.createDataFrame(perturbed, cols)) != base
    assert workloads.fingerprint(spark.createDataFrame(rows[:-1], cols))[0] == 199
