"""``__spark_entry__`` queries against their DuckDB ``oracle_sql()`` twins at
sf0.001: the gap-fill queries of plans/driver_queries.py, the Gorilla and
Chimp compress → decompress round trips, and the four webtext queries
rewritten in round 6 (line dedup, LM perplexity, DSIR weights, C4 filters).
"""

from __future__ import annotations

import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.check_oracle import norm_rows  # noqa: E402

ORACLE_QUERIES = ("gapfill_spine_1h", "gapfill_locf_1h", "gapfill_interp_1h",
                  "gapfill_dense_1h", "forecast_snaive_1h",
                  "compress_roundtrip_7d", "compress_chimp_7d",
                  "dedup_lines", "text_lm_ppl", "text_dsir", "text_c4_filters")


def test_driver_queries_match_duckdb_oracle(spark):
    """Each query against its DuckDB ``oracle_sql()`` twin on the sf0.001
    tables, compared as tools/check_oracle.py does (column names, row count,
    order-insensitive normalized rows)."""
    import __spark_entry__ as entry
    from anofox_forecast_spark.sources.tables import DEFAULT_SF_DIR, TABLES

    sf_dir = os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.001")
    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"create view {t} as select * from read_parquet('{path}')")
    queries, oracles = entry.queries(), entry.oracle_sql()
    for name in ORACLE_QUERIES:
        sdf = queries[name](spark, sf_dir)
        scols = [c.lower() for c in sdf.columns]
        srows = [tuple(r) for r in sdf.collect()]
        rel = con.sql(oracles[name])
        dcols = [c.lower() for c in rel.columns]
        drows = rel.fetchall()
        assert sorted(scols) == sorted(dcols), name
        assert len(srows) == len(drows) > 0, name
        assert norm_rows(scols, srows) == norm_rows(dcols, drows), name
