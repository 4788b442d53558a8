"""The gated-query table is the single source of `queries()` and
`oracle_sql()`; these checks need no Spark session."""
from __future__ import annotations

import pytest

import __spark_entry__ as entry
from jsonld_js_spark.registry import GATED, Gated, index


def test_queries_and_oracles_are_views_of_the_table():
    assert len(GATED) == 123
    assert all(name == row.name for name, row in GATED.items())
    assert set(entry.queries()) == set(entry.oracle_sql()) == set(GATED)
    assert all(callable(row.query) for row in GATED.values())


@pytest.mark.parametrize("n_conv", [20, 1000])
def test_every_oracle_resolves_to_sql(n_conv):
    for row in GATED.values():
        sql = row.sql(n_conv)
        assert isinstance(sql, str) and sql.strip(), row.name


def test_duplicate_name_is_rejected():
    rows = list(GATED.values())
    with pytest.raises(ValueError, match="'dedup_exact'"):
        index(rows + [Gated("dedup_exact", rows[0].query, "SELECT 1")])


def test_row_requires_an_oracle():
    with pytest.raises(TypeError):
        Gated("q", entry.queries()["dedup_exact"])
