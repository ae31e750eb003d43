"""Local replica of the driver's correctness gate: run every queries()
entry and compare against oracle_sql() via DuckDB (row count, schema
arity, order-insensitive values)."""

import math
import os

import duckdb
import pandas as pd
import pytest

SF_DIR = os.environ.get("WT_GATE_SF_DIR", "/root/testdata/sf0.001")
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


@pytest.fixture(scope="session")
def gate_queries():
    import __spark_entry__ as e

    return e.queries(), e.oracle_sql()


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def _compare(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame, name: str):
    assert len(spark_pdf) == len(duck_pdf), (
        f"{name}: row count {len(spark_pdf)} != {len(duck_pdf)}"
    )
    a, b = _norm(spark_pdf), _norm(duck_pdf)
    assert list(a.columns) == list(b.columns), f"{name}: columns {list(a.columns)} vs {list(b.columns)}"
    for col in a.columns:
        av, bv = a[col].tolist(), b[col].tolist()
        for i, (x, y) in enumerate(zip(av, bv)):
            if isinstance(x, float) or isinstance(y, float):
                assert math.isclose(float(x), float(y), rel_tol=0, abs_tol=1e-9), (
                    f"{name}.{col}[{i}]: {x} != {y}"
                )
            else:
                assert x == y, f"{name}.{col}[{i}]: {x!r} != {y!r}"


def _run_one(spark, duck, gate_queries, name):
    qs, oracles = gate_queries
    sdf = qs[name](spark, SF_DIR)
    spark_pdf = sdf.toPandas()
    if name in oracles:
        duck_pdf = duck.execute(oracles[name]).df()
        _compare(spark_pdf, duck_pdf, name)
    else:
        assert spark_pdf is not None  # rows-only smoke


def test_all_gate_queries_covered(gate_queries):
    qs, oracles = gate_queries
    assert set(oracles) <= set(qs)
    assert len(qs) >= 15


def _all_query_names():
    from watertower_spark.gate import QUERIES

    return sorted(QUERIES)


@pytest.mark.parametrize("name", _all_query_names())
def test_gate_query(spark, duck, gate_queries, name):
    _run_one(spark, duck, gate_queries, name)


def _engine_query_names():
    """The gate queries answered by the search engine."""
    return [n for n in _all_query_names()
            if n.startswith(("engine_", "facet_")) or n == "wc_histogram"]


@pytest.mark.parametrize("name", _engine_query_names())
def test_engine_gate_query_distributed(spark, duck, gate_queries, distributed, name):
    """The engine's gate queries once more, through the distributed
    exchange: the gate index is small, so ``test_gate_query`` scores
    them all in the driver."""
    _run_one(spark, duck, gate_queries, name)
