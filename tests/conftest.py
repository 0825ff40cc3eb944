from __future__ import annotations

import pytest

from tabular_to_parquet_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[8]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="module")
def parity_compare(spark, request):
    """Compare one catalog entry with its DuckDB oracle over the test
    module's ``SF`` directory, as tools/check_parity.py compares them.
    Names that share one oracle text evaluate it once."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as entry_mod
    from tabular_to_parquet_spark.sources.tables import TABLE_NAMES
    from tools.check_parity import normalize

    sf = request.module.SF
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    oracle_rows: dict[str, pd.DataFrame] = {}

    def compare(name: str) -> None:
        got = entry_mod.queries()[name](spark, sf).toPandas()
        sql = entry_mod.oracle_sql()[name]
        if sql not in oracle_rows:
            oracle_rows[sql] = con.sql(sql).df()
        want = oracle_rows[sql]
        assert len(want) > 0
        pd.testing.assert_frame_equal(
            normalize(got), normalize(want),
            check_dtype=False, check_exact=True,
        )

    yield compare
    con.close()


def col_values(df, name):
    """Collect one column as a Python list (test helper)."""
    return [r[name] for r in df.select(name).collect()]
