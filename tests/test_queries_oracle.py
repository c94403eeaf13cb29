"""Every registered query must match its DuckDB oracle (the driver's gate,
run locally at sf0.001 for speed — the driver uses sf0.01)."""

from __future__ import annotations

import pytest

from prac_data_pipelines_spark.queries import all_oracles, all_queries

QUERIES = all_queries()
ORACLES = all_oracles()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, duck, sf_dir):
    from prac_data_pipelines_spark.testing import compare_frames

    spark_pd = QUERIES[name](spark, sf_dir).toPandas()
    if name not in ORACLES:
        assert len(spark_pd) >= 0  # rows-only check for non-SQL-expressible ops
        return
    duck_pd = duck.execute(ORACLES[name]).df()
    problems = compare_frames(spark_pd, duck_pd)
    assert not problems, f"{name}: {problems}"
    assert len(spark_pd) > 0, f"{name}: empty result weakens the check"


def test_every_query_has_value_oracle_or_documented_exception():
    """The registry has carried full value oracles for every query since
    r4; keep it that way so no query is checked on row counts only."""
    missing = [n for n in QUERIES if n not in ORACLES]
    assert missing == [], f"queries without a DuckDB oracle: {missing}"
