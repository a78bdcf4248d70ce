"""Local replica of the driver's correctness gate: run every registered
query on Spark AND its oracle SQL on DuckDB at sf0.01, compare
row-counts, sorted-column schemas, and values.

Before each DataFrame runs, its pre-execution physical plan is recorded
for the plan-shape checks in ``test_plan_sweep``, so those checks read
the plan of this very execution instead of building every query again.

The suites in ``STAMPED`` also run down the bench's stamped path
(``stamps=``), once per session: the oracle checks the rows of that
run too, and ``test_bench_accounting`` reads its stamps."""

import math
import os

import duckdb
import pytest

from photon_ml_spark.materialize import scope
from photon_ml_spark.queries import all_queries
from photon_ml_spark.sources.datasets import TABLES
from test_plan_sweep import record_plan

ORACLE_SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")

REGISTRY = all_queries()
WITH_ORACLE = sorted(n for n, s in REGISTRY.items() if s.oracle)
ROWS_ONLY = sorted(n for n, s in REGISTRY.items() if not s.oracle)

STAMPED = ("m1_custom_solvers", "x21_chunk_split")
# name -> (rows as pandas, stamps) of the stamped run
_STAMPED_RUNS = {}


def stamped_run(spark, name):
    """Rows and stamps of gate row ``name`` run as the bench runs it,
    computed once per session."""
    if name not in _STAMPED_RUNS:
        stamps: dict[str, float] = {}
        with scope():
            df = REGISTRY[name].run(spark, ORACLE_SF_DIR, stamps=stamps)
            _STAMPED_RUNS[name] = (df.toPandas(), stamps)
    return _STAMPED_RUNS[name]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{ORACLE_SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


def _normalize(df):
    """Sort columns by name, then rows by all values (driver's compare)."""
    cols = sorted(df.columns)
    out = df[cols].copy()
    return out.sort_values(by=cols, ignore_index=True)


def _compare(spark_pdf, oracle_pdf, name):
    assert len(spark_pdf) == len(oracle_pdf), (
        f"{name}: row count {len(spark_pdf)} != oracle {len(oracle_pdf)}"
    )
    a, b = _normalize(spark_pdf), _normalize(oracle_pdf)
    assert list(a.columns) == list(b.columns), (
        f"{name}: columns {list(a.columns)} != {list(b.columns)}"
    )
    for col in a.columns:
        av, bv = a[col].tolist(), b[col].tolist()
        for i, (x, y) in enumerate(zip(av, bv)):
            if isinstance(x, float) or isinstance(y, float):
                ok = (
                    (x is None and y is None)
                    or (isinstance(x, float) and isinstance(y, float)
                        and math.isnan(x) and math.isnan(y))
                    or math.isclose(float(x), float(y), rel_tol=1e-9, abs_tol=1e-9)
                )
            else:
                ok = x == y
            assert ok, f"{name}.{col}[{i}]: spark={x!r} oracle={y!r}"


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_oracle_match(spark, ddb, name):
    spec = REGISTRY[name]
    df = spec.run(spark, ORACLE_SF_DIR)
    record_plan(df, name)
    sdf = df.toPandas()
    odf = ddb.execute(spec.oracle).df()
    _compare(sdf, odf, name)
    if name in STAMPED:
        _compare(stamped_run(spark, name)[0], odf, f"{name} (stamped)")


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only(spark, name):
    spec = REGISTRY[name]
    df = spec.run(spark, ORACLE_SF_DIR)
    record_plan(df, name)
    n = df.count()
    assert n >= 0
