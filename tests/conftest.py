from __future__ import annotations

import pytest

from tabular_to_parquet_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[8]", shuffle_partitions=8)
    yield s


def col_values(df, name):
    """Collect one column as a Python list (test helper)."""
    return [r[name] for r in df.select(name).collect()]
