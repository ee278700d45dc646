"""The parquet schema memo in ``sources/tables.py``.

``load_table`` lets Spark infer a table's schema once per (path, file
signature, schema confs) and hands the recorded schema to every later
read. Inference is a one-task Spark job, so a memo hit shows as zero
new jobs in the status store. These tests pin that a hit adds no job
and changes no result, and that each part of the key (the files, the
schema confs) selects its own entry.
"""

from __future__ import annotations

import os
import shutil

import pytest

from .conftest import SF_SMOKE


def _jobs(spark) -> int:
    """Jobs the status store has seen, after the listener bus drained."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    return sc.statusStore().jobsList(None).size()


def _load_counting(spark, sf_dir, name):
    from bigdata_riveranalysis_spark.sources.tables import load_table

    before = _jobs(spark)
    df = load_table(spark, sf_dir, name)
    return df, _jobs(spark) - before


def _hash(df):
    from tools.canon import table_hash

    return table_hash([tuple(r) for r in df.collect()], df.columns, strict=True)


def _bump_mtime(path):
    # a distinct mtime even on coarse-clock filesystems
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))


def test_second_load_runs_no_job_and_returns_the_same_table(spark, tmp_path):
    shutil.copy(f"{SF_SMOKE}/nation.parquet", tmp_path / "nation.parquet")
    first, first_jobs = _load_counting(spark, str(tmp_path), "nation")
    second, second_jobs = _load_counting(spark, str(tmp_path), "nation")
    assert first_jobs == 1, "the first load infers the schema with one job"
    assert second_jobs == 0, "a repeated load must reuse the recorded schema"
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / "region.parquet")
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}), p)
    before, _ = _load_counting(spark, str(tmp_path), "region")
    assert before.columns == ["r_regionkey", "r_name"]
    pq.write_table(
        pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"], "r_comment": ["x", "y"]}), p
    )
    _bump_mtime(p)
    after, jobs = _load_counting(spark, str(tmp_path), "region")
    assert after.columns == ["r_regionkey", "r_name", "r_comment"]
    assert jobs == 1, "new file signature, new inference"
    assert sorted(after.collect()) == [(0, "A", "x"), (1, "B", "y")]


def test_schema_conf_flip_selects_its_own_entry(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import BinaryType, StringType

    key = "spark.sql.parquet.binaryAsString"
    pq.write_table(
        pa.table({"doc_id": [1, 2], "blob": pa.array([b"ab", b"cd"], type=pa.binary())}),
        str(tmp_path / "documents.parquet"),
    )
    was = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        raw, _ = _load_counting(spark, str(tmp_path), "documents")
        spark.conf.set(key, "true")
        text, jobs = _load_counting(spark, str(tmp_path), "documents")
        assert raw.schema["blob"].dataType == BinaryType()
        assert text.schema["blob"].dataType == StringType()
        assert jobs == 1, "a flipped schema conf is a separate memo entry"
        assert sorted(r.blob for r in text.collect()) == ["ab", "cd"]
        spark.conf.set(key, "false")
        again, jobs = _load_counting(spark, str(tmp_path), "documents")
        assert again.schema == raw.schema and jobs == 0
    finally:
        spark.conf.set(key, was)


@pytest.mark.parametrize("name", ["orders", "events"])
def test_multi_file_table_matches_single_file(spark, tmp_path, name):
    from tools.remat_fixture import remat_table

    from bigdata_riveranalysis_spark.sources.tables import load_table

    remat_table(f"{SF_SMOKE}/{name}.parquet", str(tmp_path / f"{name}.parquet"), 4)
    assert len(os.listdir(tmp_path / f"{name}.parquet")) == 4
    single = load_table(spark, SF_SMOKE, name)
    first, _ = _load_counting(spark, str(tmp_path), name)
    again, jobs = _load_counting(spark, str(tmp_path), name)
    assert jobs == 0
    assert first.schema == single.schema == again.schema
    assert _hash(first) == _hash(single) == _hash(again)


def test_sql_q10_registers_only_the_tables_it_reads(spark):
    from bigdata_riveranalysis_spark.plans.registry import REGISTRY

    caller = spark.newSession()  # its own temp-view catalog
    REGISTRY["sql_q10_returned_revenue"].fn(caller, SF_SMOKE)
    views = {t.name for t in caller.catalog.listTables() if t.isTemporary}
    assert views == {"customer", "orders", "lineitem", "nation"}
