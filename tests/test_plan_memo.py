"""The entry's derived plan memos (``_points``, ``_circles``,
``_img_long``, ...) key on the identity (path, mtime, size) of the
parquet file they read, as ``_read`` does: a file regenerated in the same
process is read afresh instead of through the memoized plan of the old
file."""

from __future__ import annotations

import pandas as pd
import pytest

import __spark_entry__ as em


def _lineitem(n):
    return pd.DataFrame(
        {
            "l_orderkey": range(1, n + 1),
            "l_linenumber": [1 + i % 7 for i in range(n)],
            "l_quantity": [float(1 + i % 50) for i in range(n)],
            "l_extendedprice": [1000.0 * (i + 1) for i in range(n)],
            "l_returnflag": ["A" if i % 2 else "R" for i in range(n)],
        }
    )


def _customer(n):
    return pd.DataFrame({"c_custkey": range(1, n + 1)})


# (memo, its table, table rows, what the memo's plan reads, the same
# figure from the table's rows)
CASES = {
    "points": (
        em._points, "lineitem", _lineitem,
        lambda df: sorted(r[0] for r in df.select("l_orderkey").collect()),
        lambda pdf: sorted(pdf["l_orderkey"]),
    ),
    "img_long": (
        em._img_long, "lineitem", _lineitem,
        lambda df: df.agg({"value": "sum"}).first()[0],
        lambda pdf: pdf["l_quantity"].sum(),
    ),
    "circles": (
        em._circles, "customer", _customer,
        lambda df: sorted(r[0] for r in df.select("shape_id").collect()),
        lambda pdf: sorted(pdf["c_custkey"]),
    ),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_regenerated_file_is_read_afresh(spark, tmp_path, name):
    memo, table, make, got, want = CASES[name]
    path = tmp_path / f"{table}.parquet"
    old = make(5)
    old.to_parquet(path, index=False)
    assert got(memo(spark, str(tmp_path))) == want(old)
    # the new file is larger and has many row groups: a plan that kept
    # the old file's listing splits it by the old length and skips rows
    new = make(3000)
    new.to_parquet(path, index=False, row_group_size=100)
    assert got(memo(spark, str(tmp_path))) == want(new)
