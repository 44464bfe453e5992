"""Replicates the driver's correctness gate locally: every queries() entry
with an oracle is run on Spark AND DuckDB at sf0.01 and compared on
row count + column names + order-insensitive value hash."""

from __future__ import annotations

import pandas as pd
import pytest

from tests.conftest import SF_CORRECT
from tools.parity_sweep import canon, duck_views


def _pairs():
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    os_ = entrymod.oracle_sql()
    return [(name, qs[name], os_.get(name)) for name in sorted(qs)]


@pytest.mark.parametrize("name,fn,sql", _pairs(), ids=[p[0] for p in _pairs()])
def test_oracle_match(spark, name, fn, sql):
    sdf = fn(spark, SF_CORRECT).toPandas()
    if sql is None:
        assert sdf is not None  # rows-only: runs and returns a frame
        return
    con = duck_views(SF_CORRECT)
    ddf = con.sql(sql).df()
    assert sorted(sdf.columns) == sorted(ddf.columns), (
        f"{name}: columns {sorted(sdf.columns)} != {sorted(ddf.columns)}"
    )
    assert len(sdf) == len(ddf), f"{name}: rows {len(sdf)} != {len(ddf)}"
    a, b = canon(sdf), canon(ddf)
    pd.testing.assert_frame_equal(a, b, check_dtype=False, atol=1e-6,
                                  obj=name)


def test_entry_smoke(spark):
    import __spark_entry__ as entrymod

    df = entrymod.entry(spark)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0
