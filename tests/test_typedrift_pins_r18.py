"""Physical-type-drift pins (r18 typedrift audit).

The driver REGENERATES fixtures between rounds and their physical
types have drifted before: r5 switched every timestamp from
TIMESTAMP(NANOS) to TIMESTAMP(MICROS, ntz); r14 int32-proofed the
packed pair key against a 32-bit-partkey regen.  The standing sweep is
``scripts/typedrift_catalog_audit.py`` (three vintages — int32/
large_string ``narrow``, TIMESTAMP(NANOS) ``nanos``, tz-aware µs
``tzaware`` — over all 318 keys); its first run proved the catalog's
nanos normalization was EVENTS-ONLY, so a NANOS regen crashed every
orders/lineitem consumer with DATATYPE_MISMATCH ("unix_micros(
o_orderdate)" on the bigint the nanosAsLong read produces).  The fix
declares the catalog's logical timestamp columns in
``_TIMESTAMP_COLS`` (sources/catalog.py) and converts ANY of them that
arrives as int64 nanos — this file pins one consumer per table-flavor
so the generalization can't regress to the events-only branch.
"""

from __future__ import annotations

import math

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from googlecloudstorage_blueprints_spark.operators import (
    all_oracles,
    all_queries,
)
from googlecloudstorage_blueprints_spark.operators.audit import digest_frame
from googlecloudstorage_blueprints_spark.sources.catalog import TABLES
from googlecloudstorage_blueprints_spark.streaming import (
    merge_digest_rows,
    run_stream_to_memory,
    streaming_table_digest,
)

SRC_SF = "/root/testdata/sf0.001"

# one consumer per drifted-timestamp table: orders (the column the
# events-only branch missed), lineitem, events, plus a two-table join
NANOS_KEYS = [
    "date_spine_monthly",       # orders.o_orderdate
    "ship_latency_quarterly",   # orders ⋈ lineitem, both date columns
    "events_sessionize",        # events.ts (the originally-handled path)
    "join_asof",                # events.ts ⋈ orders.o_orderdate
]


@pytest.fixture(scope="module")
def nanos_dir(tmp_path_factory):
    """The r5-original vintage: every timestamp[us] stored as
    TIMESTAMP(NANOS)."""
    out = tmp_path_factory.mktemp("nanos_catalog")
    for t in TABLES:
        tbl = pq.read_table(f"{SRC_SF}/{t}.parquet")
        arrays, fields = [], []
        for field in tbl.schema:
            col = tbl.column(field.name)
            if (
                pa.types.is_timestamp(field.type)
                and field.type.unit == "us"
                and field.type.tz is None
            ):
                col = col.cast(pa.timestamp("ns"))
                field = pa.field(field.name, pa.timestamp("ns"))
            arrays.append(col)
            fields.append(field)
        pq.write_table(
            pa.table(
                dict(zip([f.name for f in fields], arrays)),
                schema=pa.schema(fields),
            ),
            out / f"{t}.parquet",
        )
    return str(out)


def _canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


@pytest.mark.parametrize("name", NANOS_KEYS)
def test_nanos_vintage_matches_oracle(spark, nanos_dir, name):
    sdf = all_queries()[name](spark, nanos_dir)
    srows = [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{nanos_dir}/{t}.parquet')"
        )
    res = con.execute(all_oracles()[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    con.close()
    assert sorted(sdf.columns) == sorted(dcols), name
    so = sorted(range(len(sdf.columns)), key=lambda i: sdf.columns[i])
    do = sorted(range(len(dcols)), key=lambda i: dcols[i])
    s = sorted(tuple(_canon(r[i]) for i in so) for r in srows)
    d = sorted(tuple(_canon(r[i]) for i in do) for r in drows)
    assert s == d, f"{name}: spark={s[:3]} duck={d[:3]}"


@pytest.mark.parametrize("table", ["events", "orders", "lineitem"])
def test_nanos_vintage_streaming_digest_matches_batch(
    spark, nanos_dir, table
):
    """The digest twin (the ``validate --continuous`` feed) reads through
    the catalog's timestamp rule like every other stream: on the NANOS
    vintage its merged partials equal the batch ``digest_frame`` row
    instead of failing analysis on ``unix_micros(<bigint>)``."""
    rows = run_stream_to_memory(
        streaming_table_digest(spark, nanos_dir, table=table),
        f"nanos_digest_{table}",
    ).collect()
    batch = digest_frame(spark, nanos_dir, [table]).collect()[0]
    assert merge_digest_rows(rows) == (
        batch["n_rows"],
        batch["digest"],
        batch["digest_sum"],
    ), table


def test_nanos_vintage_really_stores_nanos(nanos_dir):
    """Guard the pin's premise: the planted catalog stores ns units
    (a pyarrow default change silently writing µs would make the pins
    above test nothing)."""
    sch = pq.read_schema(f"{nanos_dir}/orders.parquet")
    assert sch.field("o_orderdate").type == pa.timestamp("ns")
    sch = pq.read_schema(f"{nanos_dir}/events.parquet")
    assert sch.field("ts").type == pa.timestamp("ns")
