"""read_parquet_footer_stats vs DuckDB's independent parquet_metadata()
reader: two unrelated Thrift-footer implementations must report the
same row groups, value/null counts, and byte sizes for the same files.
(The query registry can't carry this as an oracle entry — oracle SQL
has no file-path parameter — so the cross-engine equality lives here.)"""

import os
import sys

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from ingest_pipeline_spark.sources.readers import (  # noqa: E402
    read_parquet_footer_stats,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def test_footer_stats_match_duckdb_metadata(spark):
    for table in ("documents", "lineitem"):
        path = f"{SF_DIR}/{table}.parquet"
        got = {
            (r.row_group, r.column_name): (
                r.num_values, r.null_count, r.compressed_bytes,
                r.uncompressed_bytes,
            )
            for r in read_parquet_footer_stats(spark, path).collect()
        }
        want = {
            (rg, col): (nv, nc if nc is not None else -1, cb, ub)
            for rg, col, nv, nc, cb, ub in duckdb.sql(
                f"""SELECT row_group_id, path_in_schema, num_values,
                           stats_null_count, total_compressed_size,
                           total_uncompressed_size
                    FROM parquet_metadata('{path}')"""
            ).fetchall()
        }
        assert got == want and len(got) > 0, table


def test_footer_stats_corrupt_file_degrades(spark, tmp_path):
    (tmp_path / "bad.parquet").write_bytes(b"PAR1 this is not parquet")
    rows = read_parquet_footer_stats(spark, str(tmp_path / "*.parquet")).collect()
    assert len(rows) == 1 and rows[0].row_group is None
    assert rows[0].column_name is None and not rows[0].decode_ok
    assert rows[0].error


def test_footer_row_counts_match_data(spark):
    """Footer num_rows must agree with an actual data scan (ties the
    metadata path to the data path)."""
    from ingest_pipeline_spark.tables import load_table

    path = f"{SF_DIR}/orders.parquet"
    per_rg = {
        r.row_group: r.n_rows
        for r in read_parquet_footer_stats(spark, path).collect()
    }
    assert sum(per_rg.values()) > 0
    # every column chunk of a row group reports the group's n_rows, so
    # summing distinct per-group values equals the table row count
    assert sum(per_rg.values()) == load_table(spark, SF_DIR, "orders").count()
