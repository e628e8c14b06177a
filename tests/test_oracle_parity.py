"""Driver-style parity: every queries() entry vs its DuckDB oracle.

Mimics the round gate (CORRECTNESS_r{N}.json): row count, column set,
and order-insensitive value equality at sf=0.01.
"""

from __future__ import annotations

import math

import pandas as pd
import pytest

from gfwspark import queries, tables
from tests.conftest import SF_MED

CASES = sorted(queries.all_oracles().keys())


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def _compare(a: pd.DataFrame, b: pd.DataFrame, name: str) -> None:
    assert len(a) == len(b), f"{name}: row count {len(a)} != {len(b)}"
    assert sorted(a.columns) == sorted(b.columns), (
        f"{name}: columns {sorted(a.columns)} != {sorted(b.columns)}"
    )
    a, b = _normalize(a), _normalize(b)
    for c in a.columns:
        av, bv = a[c], b[c]
        # Driver's value-hash stringifies cells, so int 123 vs float 123.0
        # (e.g. DuckDB HUGEINT -> float64 via .df()) is a mismatch even when
        # numerically equal. Mirror that strictness here.
        assert (pd.api.types.is_float_dtype(av) == pd.api.types.is_float_dtype(bv)), (
            f"{name}: column {c} dtype-kind mismatch spark={av.dtype} duck={bv.dtype} "
            f"(HUGEINT in the oracle? cast sums to BIGINT/DOUBLE)"
        )
        if pd.api.types.is_float_dtype(av) or pd.api.types.is_float_dtype(bv):
            # BIT-exact: the driver's value-hash has no tolerance, so
            # neither do we (floats are engineered deterministic — see
            # the float policy in gfwspark/queries.py)
            av = pd.to_numeric(av, errors="coerce")
            bv = pd.to_numeric(bv, errors="coerce")
            both_nan = av.isna() & bv.isna()
            bad = ~(both_nan | (av == bv))
        else:
            bad = ~(av.eq(bv) | (av.isna() & bv.isna()))
        n_bad = int(bad.sum())
        assert n_bad == 0, (
            f"{name}: column {c} mismatches {n_bad}/{len(a)}; "
            f"first: spark={av[bad].iloc[0]!r} duck={bv[bad].iloc[0]!r}"
        )


@pytest.mark.parametrize("name", CASES)
def test_query_matches_oracle(name, spark, duck):
    spark_df = queries.all_queries()[name](spark, SF_MED).toPandas()
    duck_df = duck.sql(queries.all_oracles()[name]).df()
    _compare(spark_df, duck_df, name)


def test_all_queries_have_callables():
    q = queries.all_queries()
    for name in queries.all_oracles():
        assert name in q


@pytest.mark.parametrize(
    "module",
    ["queries", "queries_ml", "queries_metrics", "queries_extra", "queries_sampling"],
)
def test_query_module_imports_on_its_own(module):
    """Each query module imports first in a fresh interpreter: no
    module reads a name from another that is still half-initialized."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r = subprocess.run(
        [sys.executable, "-c", f"import gfwspark.{module}"],
        cwd=root, capture_output=True, text=True, timeout=120,
    )
    assert r.returncode == 0, r.stderr


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
