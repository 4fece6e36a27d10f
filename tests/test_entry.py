"""Smoke tests for the driver contract (__spark_entry__.py)."""

from __future__ import annotations

import importlib
import os
import sys


def _entry_mod():
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as m

    return importlib.reload(m)


def test_entry_returns_rows(spark):
    m = _entry_mod()
    df = m.entry(spark)
    assert df.count() > 0
    assert "key_hash" in df.columns


def test_every_oracle_has_a_query():
    m = _entry_mod()
    q = m.queries()
    o = m.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) >= 20


def test_queries_run_at_smoke_sf(spark, sf_dir):
    m = _entry_mod()
    for name, fn in m.queries().items():
        df = fn(spark, sf_dir)
        assert df.count() >= 0, name
