"""Planted half-cent-boundary parity (r9 — retires the ROUND(...,2) class).

The r8 audit named the legacy ``ROUND(SUM(price*(1-disc)), 2)`` revenue
outputs the last ops that "can hit half-cent ties at regenerated
fixtures": the discount products carry exactly 4 decimals, so a group
sum can land EXACTLY on a .xx5 half-cent boundary where the two engines'
(and, across runs, one engine's partial-agg) summation orders tiebreak
differently.  Round 9 converted the class to the r6 4dp rule (and
``sum_charge`` — a 6-decimal product — to the r7 BIGINT fixed-point
rule).  This test plants a lineitem whose group sums sit exactly ON the
old boundaries and pins:

- the 4dp outputs equal the exact rational totals (rounding TARGETS,
  no decision boundary left), and
- the full driver-style canonical compare matches across engines.

A second planted group sums to an exact 4dp total near 4e9, where a
4dp ROUND of a double SUM drifts; ``sum_disc_price`` therefore uses the
BIGINT fixed-point sum too.
"""

from __future__ import annotations

import datetime

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from googlecloudstorage_blueprints_spark.operators import (
    all_oracles,
    all_queries,
)

_SHIP = datetime.datetime(1998, 1, 1)

# (qty, price, disc, tax, returnflag, linestatus)
#   group (B, F): disc-price terms 2.01*0.50 = 1.0050 and 100.00*1.0
#   = 100.0000 -> sum 101.0050, exactly ON the old 2dp half-cent
#   boundary; charge adds a 10% tax on the first term -> 1.1055 +
#   100.0000 = 101.1055, a 6-decimal-capable product summing to an
#   exact 1e-4 multiple (itself an old-rule boundary).
_ROWS = [
    (1.0, 2.01, 0.50, 0.10, "B", "F"),
    (2.0, 100.00, 0.00, 0.00, "B", "F"),
    # control group (A, F): plain values nowhere near a boundary
    (3.0, 10.00, 0.10, 0.05, "A", "F"),
    (4.0, 20.00, 0.20, 0.02, "A", "F"),
]


# Near 4e9 double's granularity is ~4.8e-7, so a 4dp ROUND of a double
# SUM is no longer safe: one large term, the 2.16 * 0.97 = 2.0952 term
# and a thousand 0.10 terms sum exactly to 4186958072.0952, but each
# 0.10 addition rounds down ~9.5e-8 and the double sum reads …2.0951047
# in both engines.  Only the ×1e4 BIGINT fixed-point sum lands on .0952.
_NEAR_4E9_ROWS = (
    [(1.0, 4186957970.00, 0.00, 0.00, "R", "F"),
     (1.0, 2.16, 0.03, 0.00, "R", "F")]
    + [(1.0, 0.10, 0.00, 0.00, "R", "F")] * 1000
)


def _write_lineitem(out, rows):
    n = len(rows)
    tbl = pa.table(
        {
            "l_orderkey": pa.array(range(1, n + 1), pa.int64()),
            "l_partkey": pa.array([1] * n, pa.int64()),
            "l_suppkey": pa.array([1] * n, pa.int64()),
            "l_linenumber": pa.array([1] * n, pa.int32()),
            "l_quantity": pa.array([r[0] for r in rows], pa.float64()),
            "l_extendedprice": pa.array([r[1] for r in rows], pa.float64()),
            "l_discount": pa.array([r[2] for r in rows], pa.float64()),
            "l_tax": pa.array([r[3] for r in rows], pa.float64()),
            "l_returnflag": pa.array([r[4] for r in rows], pa.string()),
            "l_linestatus": pa.array([r[5] for r in rows], pa.string()),
            "l_shipdate": pa.array([_SHIP] * n, pa.timestamp("us")),
        }
    )
    pq.write_table(tbl, out / "lineitem.parquet")
    return str(out)


@pytest.fixture(scope="module")
def boundary_dir(tmp_path_factory):
    return _write_lineitem(tmp_path_factory.mktemp("boundary_sf"), _ROWS)


@pytest.fixture(scope="module")
def near_4e9_dir(tmp_path_factory):
    return _write_lineitem(
        tmp_path_factory.mktemp("near_4e9_sf"), _NEAR_4E9_ROWS
    )


def _pricing_summary_both_engines(spark, sf_dir):
    """(spark columns, spark rows, duckdb columns, duckdb rows)."""
    sdf = all_queries()["pricing_summary"](spark, sf_dir)
    spark_rows = [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{sf_dir}/lineitem.parquet')"
    )
    res = con.execute(all_oracles()["pricing_summary"])
    duck_colnames = [d[0] for d in res.description]
    duck_rows = res.fetchall()
    con.close()
    return sdf.columns, spark_rows, duck_colnames, duck_rows


def test_pricing_summary_on_boundary_sums(spark, boundary_dir):
    from tests.test_oracle_parity import _canon_rows

    cols, spark_rows, duck_cols, duck_rows = _pricing_summary_both_engines(
        spark, boundary_dir
    )
    by_group = {(r[0], r[1]): r for r in spark_rows}

    # exact rational totals — 4dp targets, not boundaries
    bf = by_group[("B", "F")]
    assert bf[cols.index("sum_disc_price")] == 101.005
    assert bf[cols.index("sum_charge")] == 101.1055

    assert _canon_rows(cols, spark_rows) == _canon_rows(
        duck_cols, duck_rows
    ), "cross-engine divergence on a planted boundary sum"


def test_pricing_summary_exact_disc_price_near_4e9(spark, near_4e9_dir):
    from tests.test_oracle_parity import _canon_rows

    cols, spark_rows, duck_cols, duck_rows = _pricing_summary_both_engines(
        spark, near_4e9_dir
    )
    (spark_row,), (duck_row,) = spark_rows, duck_rows
    assert spark_row[cols.index("sum_disc_price")] == 4186958072.0952
    assert duck_row[duck_cols.index("sum_disc_price")] == 4186958072.0952
    assert _canon_rows(cols, spark_rows) == _canon_rows(
        duck_cols, duck_rows
    )


def test_revenue_ops_are_4dp_not_2dp():
    """Guard the conversion itself: no oracle may 2dp-round a SUM of the
    4-decimal discount product again (the retired class)."""
    import re

    pat = re.compile(
        r"ROUND\(\s*SUM\([^)]*\*\s*\(1\s*-\s*l?\.?l_discount\)\s*\)\s*,\s*2\)",
        re.IGNORECASE,
    )
    offenders = [
        name for name, sql in all_oracles().items() if pat.search(sql)
    ]
    assert not offenders, (
        f"2dp rounds of 4dp revenue products re-introduced: {offenders}"
    )
