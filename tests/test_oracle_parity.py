"""Local mirror of the driver's correctness gate (SURVEY.md §5.3).

For every registry entry with an oracle, run the Spark query AND the
DuckDB SQL on the same parquet tables and assert:

- identical column-name sets,
- identical row counts,
- identical values after (column-name-sorted, row-sorted) normalization
  — the same shape the driver hashes.

Floats are compared exactly after the registry's own rounding; a
mismatch here means the driver's hash would differ too. The compare is
``tools/full_parity.check``, the same one the full sweep and the
spot-check run.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

from b2b_data_pipeline_indiamart_spark.plans import ORACLE, QUERIES

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
from tools import full_parity  # noqa: E402

SQL_KEYS = sorted(ORACLE)
ROWS_ONLY_KEYS = sorted(set(QUERIES) - set(ORACLE))


@pytest.fixture(scope="module")
def duck_medium(sf_medium):
    con = full_parity.duck(sf_medium)
    yield con
    con.close()


@pytest.mark.parametrize("key", SQL_KEYS)
def test_oracle_parity(key, spark, sf_medium, duck_medium):
    rec = full_parity.check(spark, duck_medium, key, sf_medium)
    assert rec["schema_match"], f"{key}: column mismatch {rec.get('diff')}"
    assert rec["rows_match"], (
        f"{key}: row count {rec['spark_rows']} (spark) vs {rec['oracle_rows']} (duckdb)"
    )
    assert rec["hash_match"], f"{key}: value mismatch, first diffs: {rec.get('diff')}"


@pytest.mark.parametrize("key", ROWS_ONLY_KEYS)
def test_rows_only_queries_run(key, spark, sf_small):
    """Non-SQL-expressible ops at least run and return a stable schema."""
    sdf = QUERIES[key](spark, sf_small)
    rows = sdf.collect()
    assert isinstance(rows, list)
    assert len(sdf.columns) > 0


def test_spot_check_prints_the_differing_rows_of_a_perturbed_oracle(
    spark, sf_small, capsys, monkeypatch
):
    assert full_parity.run(spark, ["parse_price"], [sf_small], 0, None) == 0
    assert "parse_price: ok" in capsys.readouterr().out

    bad = (
        "SELECT * REPLACE (CASE WHEN p_partkey = 1 THEN price_num + 1 "
        f"ELSE price_num END AS price_num) FROM ({ORACLE['parse_price']})"
    )
    monkeypatch.setitem(full_parity.ORACLE, "parse_price", bad)
    assert full_parity.run(spark, ["parse_price"], [sf_small], 0, None) == 1
    out = capsys.readouterr().out
    assert "parse_price: FAIL" in out
    assert '"spark_only": [["1", "900.1", "Piece"]]' in out
    assert '"oracle_only": [["1", "901.1", "Piece"]]' in out
