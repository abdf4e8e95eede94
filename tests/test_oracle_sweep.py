"""Every ``__spark_entry__`` query against its DuckDB oracle at sf0.01, with the
strict comparison of ``tools/check_oracle.py``. The tool is loaded from its
file, so the sweep and the tool share one normalize/compare."""

import importlib.util
import pathlib

import pytest

_TOOL = pathlib.Path(__file__).resolve().parents[1] / "tools" / "check_oracle.py"
_spec = importlib.util.spec_from_file_location("check_oracle", _TOOL)
check_oracle = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(check_oracle)

QUERIES = check_oracle.entrymod.queries()
ORACLES = check_oracle.entrymod.oracle_sql()


@pytest.fixture(scope="module")
def con():
    con = check_oracle.oracle_connection(check_oracle.SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", list(QUERIES))
def test_query_matches_duckdb_oracle(spark, con, name):
    sdf = QUERIES[name](spark, check_oracle.SF_DIR).toPandas()
    odf = con.execute(ORACLES[name]).df()
    assert check_oracle.compare(name, sdf, odf) == []
