"""Per-file Parquet bloom filters (``bloom_cols``): min/max bounds cannot
prune an equality probe on a high-cardinality un-clustered column, so point
lookups otherwise decode every row group of the key's bucket; the bloom
lets the reader drop row groups from footer metadata alone.  Presence is
asserted directly in the written files' footers (parquet-mr metadata via
the JVM), correctness by probing present and absent keys."""

import os

import pytest
from pyspark.sql import Row, functions as F, types as T

from ton_etl_spark.lake.maintenance import rebucket
from ton_etl_spark.lake.table import LakeTable


def _bloom_offsets(spark, path: str) -> dict[str, int]:
    """column-name -> bloomFilterOffset (-1 = no bloom) for row group 0,
    read straight from the parquet-mr footer."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    hif = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        jvm.org.apache.hadoop.fs.Path("file://" + os.path.abspath(path)), conf
    )
    reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(hif)
    try:
        cols = reader.getFooter().getBlocks().get(0).getColumns()
        return {
            cols.get(i).getPath().toDotString(): cols.get(i).getBloomFilterOffset()
            for i in range(cols.size())
        }
    finally:
        reader.close()


@pytest.fixture()
def bloom_table(spark, tmp_path):
    schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("n_tok", T.IntegerType()),
        ]
    )
    t = LakeTable.create(
        spark,
        str(tmp_path / "t"),
        schema=schema,
        key_cols=["doc_id"],
        n_buckets=2,
        target_file_rows=100,
        bloom_cols=["doc_id"],
    )
    t.append(
        spark.createDataFrame([Row(doc_id=f"doc-{i}", n_tok=i) for i in range(300)], schema)
    )
    return t


def test_bloom_written_for_declared_column_only(spark, bloom_table):
    t = bloom_table
    files = t.current().files
    assert len(files) >= 4  # 2 buckets x >=2 splits at 100 rows/file
    for f in files:
        offsets = _bloom_offsets(spark, os.path.join(t.root, f.path))
        assert offsets["doc_id"] >= 0, f"no bloom in {f.path}"
        assert offsets["n_tok"] == -1  # undeclared column carries none


def test_point_lookup_exact_with_blooms(spark, bloom_table):
    t = bloom_table
    hit = t.read().where(F.col("doc_id") == "doc-123").collect()
    assert [(r["doc_id"], r["n_tok"]) for r in hit] == [("doc-123", 123)]
    assert t.read().where(F.col("doc_id") == "doc-999").count() == 0
    # IN-list probes (also bloom-eligible at the parquet reader)
    got = sorted(
        r["doc_id"]
        for r in t.read().where(F.col("doc_id").isin("doc-1", "doc-299", "nope")).collect()
    )
    assert got == ["doc-1", "doc-299"]


def test_bloom_survives_evolution_commits(spark, bloom_table, tmp_path):
    """Later commits (schema evolution, new appends, a rebucket) keep
    writing blooms — the property rides the snapshot, not the first
    writer."""
    t = bloom_table
    t.append(
        spark.createDataFrame(
            [Row(doc_id="new-1", n_tok=1, lang="en")],
            "doc_id string, n_tok int, lang string",
        )
    )
    newest = max(t.current().files, key=lambda f: f.path)
    offsets = _bloom_offsets(spark, os.path.join(t.root, newest.path))
    assert offsets["doc_id"] >= 0
    # a rebucket rewrites every file under the table's properties too
    rebucket(t, 4)
    assert t.current().n_buckets == 4
    for f in t.current().files:
        assert _bloom_offsets(spark, os.path.join(t.root, f.path))["doc_id"] >= 0, f.path
