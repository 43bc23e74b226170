"""``sources.readers.read_table``: the per-session schema memo follows the
table on disk."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from dampr_spark.sources.readers import read_table


def _write_file(spark, path, table):
    pq.write_table(pa.table(table), path)


def _write_dir(spark, path, table):
    cols = list(table)
    rows = list(zip(*table.values()))
    spark.createDataFrame(rows, cols).write.mode("overwrite").parquet(path)


@pytest.mark.parametrize("write", [_write_file, _write_dir], ids=["file", "directory"])
def test_read_table_rereads_schema_of_rewritten_table(spark, tmp_path, write):
    path = str(tmp_path / "t.parquet")
    write(spark, path, {"a": [1, 2]})
    assert read_table(spark, str(tmp_path), "t").columns == ["a"]
    write(spark, path, {"a": [1, 2], "b": ["x", "y"]})
    df = read_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert sorted(map(tuple, df.collect())) == [(1, "x"), (2, "y")]
