"""Opt-in scan fan-out (plans/fanout.py + sources.tables.load marking).

The r7 optimization moved the single-row-group fan-out repartition from
load() (where every consumer paid the exchange) to an opt-in at the
per-row-CPU-heavy operators. These tests pin the contract: load marks
exactly the payload-heavy low-row-group tables, apply_scan_fanout
repartitions marked frames and passes unmarked frames through untouched,
and operator output is identical either way (pure partitioning).
"""

import os

import pytest
from pyspark.sql import functions as F

from louvain_spark.plans.fanout import apply_scan_fanout
from louvain_spark.sources.tables import load

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="no testdata")
def test_load_marks_payload_heavy_small_table(spark):
    docs = load(spark, SF_DIR, "documents")
    par = spark.sparkContext.defaultParallelism
    assert getattr(docs, "_scan_fanout", None) == par
    # narrow numeric fact rows stay unmarked (the exchange would cost more
    # than the serial scan — measured in r7)
    lineitem = load(spark, SF_DIR, "lineitem")
    assert getattr(lineitem, "_scan_fanout", None) is None


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="no testdata")
def test_apply_scan_fanout_repartitions_only_marked(spark):
    docs = load(spark, SF_DIR, "documents")
    fanned = apply_scan_fanout(docs)
    assert "Exchange" in fanned._jdf.queryExecution().toString() or (
        fanned.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    )
    # a derived frame loses the mark -> identity
    derived = docs.select("doc_id")
    assert apply_scan_fanout(derived) is derived


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="no testdata")
def test_fanout_is_result_invariant(spark):
    from louvain_spark.operators.textstats import repetition_scores

    docs = load(spark, SF_DIR, "documents")
    plain = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    a = sorted(map(tuple, repetition_scores(docs).collect()))
    b = sorted(map(tuple, repetition_scores(plain).collect()))
    assert a == b


def test_load_leaves_many_row_group_table_unmarked(spark, tmp_path):
    """The other side of the gate: a small payload-heavy file whose scan
    already has >= defaultParallelism row groups parallelizes on its own,
    so load() must not mark it. The same rows in one row group are
    marked, so only the row-group count decides."""
    import hashlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    par = spark.sparkContext.defaultParallelism
    n_rows = 4 * par
    table = pa.table(
        {
            "doc_id": pa.array(range(n_rows), pa.int64()),
            # hex digests: incompressible payload, so bytes/row stays
            # above the gate's floor after parquet encoding
            "text": pa.array(
                ["".join(hashlib.sha256(f"{i}:{j}".encode()).hexdigest() for j in range(4))
                 for i in range(n_rows)]
            ),
        }
    )
    many = tmp_path / "many"
    one = tmp_path / "one"
    many.mkdir()
    one.mkdir()
    pq.write_table(table, many / "docs.parquet", row_group_size=4)
    pq.write_table(table, one / "docs.parquet")
    assert pq.ParquetFile(many / "docs.parquet").metadata.num_row_groups >= par

    assert getattr(load(spark, str(many), "docs"), "_scan_fanout", None) is None
    assert getattr(load(spark, str(one), "docs"), "_scan_fanout", None) == par
