"""Every catalog query vs its DuckDB oracle, mimicking the driver's
check: row count, column names, and order-insensitive value equality.

Floats compare exactly (the catalog is engineered for bit-identical
doubles/decimals); if a query here needs tolerance, it will flake in
the driver too - fix the query, not the test.

Every query also runs under the catalog resource contract: built and
consumed inside one ``barrier_scope``, it must leave no pinned RDD
behind.
"""

from __future__ import annotations

import math
from decimal import Decimal

import duckdb
import pytest

from machine_downtime_monitor_on_aws_spark.plans import catalog
from machine_downtime_monitor_on_aws_spark.session import (
    barrier_scope,
    persistent_rdd_ids,
)
from machine_downtime_monitor_on_aws_spark.tables import TABLE_NAMES, table_path

from conftest import SF_ORACLE


def _duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{table_path(sf_dir, name)}')"
        )
    return con


def _norm(v):
    if isinstance(v, Decimal):
        # NO normalize(): the driver's hasher renders values verbatim,
        # so trailing-zero/scale differences are real failures here too.
        return ("dec", str(v))
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "nan")
        return ("f", repr(v))
    if isinstance(v, int):
        return ("i", v)
    return v


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    out.sort(key=repr)
    return out


@pytest.mark.parametrize("name", sorted(catalog.oracle_sql().keys()))
def test_query_matches_oracle(spark, name):
    spec = catalog.REGISTRY[name]
    before = set(persistent_rdd_ids(spark))
    with barrier_scope(spark):
        sdf = spec.fn(spark, SF_ORACLE)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
    leaked = set(persistent_rdd_ids(spark)) - before
    assert not leaked, f"{name}: pinned RDDs outlive the scope: {leaked}"

    con = _duck(SF_ORACLE)
    res = con.execute(spec.oracle)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()

    assert sorted(scols) == sorted(ocols), f"{name}: column names differ"
    assert len(srows) == len(orows), f"{name}: row count {len(srows)} vs {len(orows)}"
    sc, oc = _canon(srows, scols), _canon(orows, ocols)
    mismatches = [(a, b) for a, b in zip(sc, oc) if a != b]
    assert not mismatches, f"{name}: {len(mismatches)} differing rows; first: {mismatches[:3]}"


@pytest.mark.parametrize("name", sorted(set(catalog.REGISTRY) - set(catalog.oracle_sql())))
def test_rows_only_queries_run(spark, name):
    spec = catalog.REGISTRY[name]
    before = set(persistent_rdd_ids(spark))
    with barrier_scope(spark):
        df = spec.fn(spark, SF_ORACLE)
        assert df.count() >= 0
        assert df.columns
    leaked = set(persistent_rdd_ids(spark)) - before
    assert not leaked, f"{name}: pinned RDDs outlive the scope: {leaked}"


@pytest.mark.parametrize("name", sorted(catalog.REGISTRY))
def test_no_decimal_output_columns(spark, name):
    """Final schemas must not expose DecimalType: engines render
    decimals differently (trailing zeros, client float coercion) and
    the driver's value hash breaks on it — r1 lost 15 queries to this.
    Decimal math stays internal; outputs are DOUBLE/BIGINT/STRING."""
    from pyspark.sql.types import DecimalType

    df = catalog.REGISTRY[name].fn(spark, SF_ORACLE)
    bad = [f.name for f in df.schema.fields if isinstance(f.dataType, DecimalType)]
    assert not bad, f"{name}: decimal output columns {bad}"
