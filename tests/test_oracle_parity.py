"""The t2 gate, locally: every registered query must hash-match its
DuckDB oracle on /root/testdata/sf0.01."""

from __future__ import annotations

import pandas as pd
import pytest

from curw_wrf_data_pusher_spark.queries import ORACLES, QUERIES

from .oracle_harness import canonical_hash, compare, duckdb_connection

_con = None


def _get_con(sf_dir):
    global _con
    if _con is None:
        _con = duckdb_connection(sf_dir)
    return _con


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, sf_dir, name):
    res = compare(QUERIES[name](spark, sf_dir), _get_con(sf_dir), ORACLES[name])
    assert res["cols_match"], f"{name}: columns {res['cols']}"
    assert res["rows_match"], f"{name}: row counts {res['rows']}"
    # the driver's schema check may be type-strict: require identical
    # pandas dtypes on both sides
    assert not res["dtype_mismatches"], f"{name}: dtypes {res['dtype_mismatches']}"
    if not res["hash_match"]:
        sp, du = res["spark_pdf"], res["duck_pdf"]
        cols = sorted(sp.columns)
        sp_s = sp[cols].sort_values(cols).reset_index(drop=True)
        du_s = du[cols].sort_values(cols).reset_index(drop=True)
        diff = (sp_s != du_s) & ~(sp_s.isna() & du_s.isna())
        bad = diff.any(axis=1)
        detail = pd.concat(
            [sp_s[bad].head(5).add_suffix("_spark"),
             du_s[bad].head(5).add_suffix("_duck")],
            axis=1,
        )
        pytest.fail(f"{name}: value hash mismatch\n{detail}")


def test_all_queries_have_oracles():
    missing = set(QUERIES) - set(ORACLES)
    # non-SQL-expressible ops may legitimately omit oracles; keep the
    # list explicit so additions are deliberate.
    # p10/p17: file-metadata oracles need filesystem paths the
    # driver's view-only contract can't carry → driver records a
    # rows-only check; p17's footer-vs-scan oracle runs locally in
    # tests/test_file_stats.py
    allowed_missing = {"p10_file_metadata", "p17_file_stats"}
    assert missing <= allowed_missing, f"queries without oracles: {missing}"


def test_sf1_parity_candidates_resolve():
    """Every name in scripts/sf1_parity.py's 10× sweep is a registered
    query with an oracle, listed once (checked without building the
    twin)."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "scripts"))
    from sf1_parity import CANDIDATES

    missing = [n for n in CANDIDATES if n not in QUERIES or n not in ORACLES]
    assert missing == [], f"sf1_parity candidates not registered: {missing}"
    assert len(set(CANDIDATES)) == len(CANDIDATES)
