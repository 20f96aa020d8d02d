"""Driver-style correctness gate: Spark vs DuckDB for every registry query.

Exact-value compare (the driver hashes values order-insensitively; we sort
and require bit-exact equality, which is stricter). Both sides read
catalog_queries._parity_sf_dir() — the same dir the numpy-twin expected
tables are built from — so a deeper sweep is just this file with
SPARK_GRAFT_PARITY_SF_DIR pointed at the sf0.1 dir; ``-k <name>`` runs
one entry.
"""

import duckdb
import pandas as pd
import pytest

from bioanalyzer_backend_spark.plans.catalog_queries import (_parity_sf_dir,
                                                             registry)
from bioanalyzer_backend_spark.session import TESTDATA_TABLES

SF = _parity_sf_dir()
_REG = registry()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


@pytest.mark.parametrize("name", list(_REG))
def test_sql_parity(spark, duck, name):
    spark_fn, duck_sql = _REG[name]
    sdf = _canon(spark_fn(spark, SF).toPandas())
    ddf = _canon(duck.execute(duck_sql).df())
    assert list(sdf.columns) == list(ddf.columns)
    assert len(sdf) == len(ddf)
    pd.testing.assert_frame_equal(sdf, ddf, check_dtype=False,
                                  check_exact=True)
