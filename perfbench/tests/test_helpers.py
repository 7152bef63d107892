"""Unit tests for the benchmark's own helpers (no Spark session needed).

Run from the repository root::

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import inputs, stats  # noqa: E402


# -- the percentile-with-sample-count rule ----------------------------------

@pytest.mark.parametrize("n, pct", [
    (0, None), (9, None), (19, None), (20, 50), (39, 50), (40, 75),
    (99, 75), (100, 90), (199, 90), (200, 95), (999, 95), (1000, 99),
])
def test_tail_percentile_needs_ten_samples_beyond(n, pct):
    assert stats.tail_percentile(n) == pct
    if pct is not None:
        assert stats.samples_beyond(n, pct) >= stats.MIN_BEYOND


def test_describe_latency_reports_count_and_supported_tail():
    samples = [float(i) for i in range(1, 101)]
    d = stats.describe_latency(samples)
    assert d["n"] == 100
    assert d["p50"] == pytest.approx(50.5)
    assert d["p90"] == pytest.approx(90.1)
    assert d["tail_pct"] == 90


def test_quantile_matches_statistics_inclusive():
    xs = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6, 5.3]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    assert stats.quantile(xs, 0.25) == pytest.approx(q1)
    assert stats.quantile(xs, 0.5) == pytest.approx(q2)
    assert stats.quantile(xs, 0.75) == pytest.approx(q3)
    assert stats.quantile([7.0], 0.9) == 7.0
    with pytest.raises(ValueError):
        stats.quantile([], 0.5)


def test_self_times_subtract_covered_child_time():
    spans = [
        {"id": 0, "name": "operators.run", "parent": None,
         "start": 0.0, "end": 10.0},
        {"id": 1, "name": "operators.construct", "parent": 0,
         "start": 0.0, "end": 2.0},
        {"id": 2, "name": "plans.plan", "parent": 0,
         "start": 2.0, "end": 3.0},
        {"id": 3, "name": "operators.execute", "parent": 0,
         "start": 3.0, "end": 9.5},
    ]
    got = stats.self_times(spans)
    assert got["plans"] == pytest.approx(1.0)
    # run's own 0.5 s plus its construct and execute children
    assert got["operators"] == pytest.approx(0.5 + 2.0 + 6.5)


# -- metric-name grammar ----------------------------------------------------

@pytest.mark.parametrize("name", [
    "setup_s", "op_p90_s", "operators.construct_s", "sf0.1-x", "9lives",
    "a" * 64,
])
def test_valid_metric_names(name):
    assert stats.valid_metric_name(name)


@pytest.mark.parametrize("name", [
    "", "_lead", ".lead", "has space", "slash/no", "a" * 65, "ünï",
])
def test_invalid_metric_names(name):
    assert not stats.valid_metric_name(name)


@pytest.mark.parametrize("unit, ok", [
    ("s", True), ("ms", True), ("1/s", True), ("%", True), ("MB/s", True),
    ("rows/s", True), ("", False), ("has space", False), ("x" * 17, False),
])
def test_units(unit, ok):
    assert stats.valid_unit(unit) is ok


def test_benchmark_json_obeys_the_grammar():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as handle:
        bench = json.load(handle)
    from perfbench.run import E2E_UNITS, LAYER_UNITS, WORKLOADS

    names = [w["name"] for w in bench["workloads"]]
    names += [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert len(names) == len(set(names))
    assert all(stats.valid_metric_name(n) for n in names)
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert stats.valid_unit(m["unit"])
    # the file and the program agree on every name and unit
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == E2E_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == LAYER_UNITS


# -- generator determinism --------------------------------------------------

def _digest_tree(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            path = os.path.join(dirpath, f)
            with open(path, "rb") as handle:
                out[os.path.relpath(path, root)] = hashlib.sha256(
                    handle.read()).hexdigest()
    return out


def _generate(root: str, seed: int) -> None:
    inputs.write_tables(f"{root}/tables", 0.001, seed)
    inputs.write_file_tree(f"{root}/tree", seed, 40)
    inputs.write_large_files(f"{root}/large", seed, 2, 4096)
    inputs.split_events(f"{root}/events", seed, 500, 20, 3)


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    _generate(f"{tmp_path}/a", 7)
    _generate(f"{tmp_path}/b", 7)
    a, b = _digest_tree(f"{tmp_path}/a"), _digest_tree(f"{tmp_path}/b")
    assert a and a == b
    assert inputs.op_order(7) == inputs.op_order(7)


def test_other_seed_gives_other_inputs(tmp_path):
    _generate(f"{tmp_path}/a", 7)
    _generate(f"{tmp_path}/b", 8)
    a, b = _digest_tree(f"{tmp_path}/a"), _digest_tree(f"{tmp_path}/b")
    assert a.keys() >= {"tables/lineitem.parquet", "events/00_events.parquet"}
    assert a["tables/lineitem.parquet"] != b["tables/lineitem.parquet"]
    assert sorted(inputs.op_order(7)) == sorted(inputs.OPS)


def test_table_subset_matches_full_generation(tmp_path):
    inputs.write_tables(f"{tmp_path}/all", 0.001, 3)
    inputs.write_tables(f"{tmp_path}/some", 0.001, 3, ("documents",))
    a, b = _digest_tree(f"{tmp_path}/all"), _digest_tree(f"{tmp_path}/some")
    assert b == {"documents.parquet": a["documents.parquet"]}


def test_file_tree_shape(tmp_path):
    manifest = inputs.write_file_tree(str(tmp_path), 5, 60)
    assert len(manifest) == 60
    basenames = [os.path.basename(p) for p in manifest]
    # basenames repeat across folders (collisions for the verbs)
    assert len(set(basenames)) < len(basenames)
    sizes = [os.path.getsize(f"{tmp_path}/{p}") for p in manifest]
    assert sum(sizes) == 60 * inputs.SMALL_FILE_MEAN_BYTES
    assert min(sizes) >= 64


def test_event_split_is_time_ordered_and_complete(tmp_path):
    import pyarrow.parquet as pq

    n = inputs.split_events(str(tmp_path), 3, 900, 30, 3)
    parts = [pq.read_table(f"{tmp_path}/{i:02d}_events.parquet")
             for i in range(3)]
    assert sum(p.num_rows for p in parts) == n == 900
    assert all(p.num_rows >= 150 for p in parts)
    bounds = [(p.column("ts")[0].value, p.column("ts")[-1].value)
              for p in parts]
    assert all(a[1] <= b[0] for a, b in zip(bounds, bounds[1:]))


# -- the oracle comparison ----------------------------------------------------

def test_oracle_mismatch_compares_canonical_rows():
    import datetime

    import duckdb
    import pyarrow as pa

    from perfbench.workloads import oracle_mismatch

    con = duckdb.connect()
    sql = ("SELECT * FROM (VALUES (1, 0.1, TIMESTAMP '2024-01-01 00:00:01'),"
           " (2, 0.2, TIMESTAMP '2024-01-02 00:00:00')) t(k, v, ts)")
    ts = [datetime.datetime(2024, 1, 2), datetime.datetime(2024, 1, 1, 0, 0, 1)]

    def spark_like(v, k=(2, 1)):
        # other column and row order, zoned timestamps, as Spark hands over
        return pa.table({
            "v": v, "k": list(k),
            "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        })

    assert oracle_mismatch(con, sql, spark_like([0.2, 0.1])) is None
    assert "differ" in oracle_mismatch(
        con, sql, spark_like([0.2, 0.1 + 2 ** -55]))
    assert "rows" in oracle_mismatch(con, sql, spark_like([0.2, 0.1])
                                     .slice(0, 1))
    assert "columns" in oracle_mismatch(
        con, sql, spark_like([0.2, 0.1]).rename_columns(["v", "key", "ts"]))
