"""ManagedTable manifest: every commit records the version's read schema,
layout and row counts, so reads start no schema-inference job, writers
learn their counts without a count-back job, and a plain append writes
only its own rows (hardlinking the prior files).

Each step of every write path is checked against the ground truth a
schema-inferring ``spark.read.parquet`` of the version dir gives."""

from __future__ import annotations

import glob
import json
import os
import uuid

from pyspark.sql import functions as F

from databricks_etl_pipelines_spark.sources.managed_table import (
    BUCKET_COL,
    ManagedTable,
    _read_log,
)


def _jobs_started(spark, fn):
    """(fn(), ids of the Spark jobs fn started on this thread)."""
    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job probe")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _check(spark, mt: ManagedTable) -> dict:
    """The latest version reads job-free, exactly as an inferring read of
    its files, and its manifest counts are exact."""
    back, jobs = _jobs_started(spark, lambda: mt.read(spark))
    assert jobs == []
    internal = mt._read_internal(spark)
    inferred = spark.read.parquet(mt._version_dir(mt.latest_version()))
    assert internal.columns == inferred.columns
    assert _rows(internal) == _rows(inferred)
    meta = mt.latest_meta()
    assert meta["rows"] == back.count()
    if "bucket_rows" in meta:
        per_bucket = {
            str(r[0]): r[1]
            for r in internal.groupBy(BUCKET_COL).count().collect()
        }
        assert meta["bucket_rows"] == per_bucket
    assert mt.history(spark).collect()[-1].rows == meta["rows"]
    return meta


def _frame(spark, lo, hi):
    return spark.range(lo, hi).select(
        "id",
        (F.col("id") % 3).alias("p"),
        F.when(F.col("id") % 5 == 0, None)
        .otherwise(F.concat(F.lit("s"), F.col("id").cast("string")))
        .alias("s"),
        (F.col("id") / 7).alias("x"),
        F.date_add(F.lit("2024-01-01").cast("date"), (F.col("id") % 10).cast("int"))
        .alias("d"),
    )


def _linked(mt: ManagedTable, v_from: int, v_to: int) -> bool:
    """Every data file of v_from is the same inode somewhere in v_to."""
    old = glob.glob(os.path.join(mt._version_dir(v_from), "**", "part-*"),
                    recursive=True)
    new = {
        os.stat(f).st_ino
        for f in glob.glob(os.path.join(mt._version_dir(v_to), "**", "part-*"),
                           recursive=True)
    }
    return bool(old) and all(os.stat(f).st_ino in new for f in old)


def test_manifest_parity_plain_table(spark, tmp_path):
    mt = ManagedTable(str(tmp_path / "plain"))
    mt.create_or_overwrite(_frame(spark, 0, 100))
    assert _check(spark, mt)["rows_written"] == 100

    v = mt.append(_frame(spark, 100, 120))
    meta = _check(spark, mt)
    assert (meta["rows"], meta["rows_written"]) == (120, 20)
    assert _linked(mt, v - 1, v)  # O(batch): prior files carried by link

    mt.append(
        _frame(spark, 120, 130).withColumn("extra", F.lit(1)),
        merge_schema=True,
    )
    assert _check(spark, mt)["rows"] == 130

    src = _frame(spark, 125, 140).withColumn("extra", F.lit(2))
    mt.merge_upsert(spark, src, ["id"])
    assert _check(spark, mt)["rows"] == 140

    mt.delete_where(spark, F.col("x") > 10)
    assert _check(spark, mt)["rows"] == 71  # ids 0..70 have x <= 10

    mt.optimize(spark, target_partitions=1)
    _check(spark, mt)
    mt.optimize(spark, cluster_by=["id", "x"], target_partitions=2)
    assert _check(spark, mt)["rows"] == 71


def test_manifest_parity_partitioned_table(spark, tmp_path):
    mt = ManagedTable(str(tmp_path / "part"))
    mt.create_or_overwrite(_frame(spark, 0, 100), partition_by=["p"])
    assert _check(spark, mt)["partition_by"] == ["p"]
    assert mt.read(spark).columns[-1] == "p"  # partition columns last

    # the table keeps its layout without the caller restating it
    v = mt.append(_frame(spark, 100, 130))
    meta = _check(spark, mt)
    assert meta["partition_by"] == ["p"]
    assert (meta["rows"], meta["rows_written"]) == (130, 30)
    assert _linked(mt, v - 1, v)
    assert glob.glob(os.path.join(mt._version_dir(v), "p=2", "part-*"))


def test_manifest_parity_bucketed_table(spark, tmp_path):
    mt = ManagedTable(str(tmp_path / "bucketed"))
    mt.create_or_overwrite(_frame(spark, 0, 200), bucket_by=["id"], n_buckets=4)
    assert _check(spark, mt)["rows"] == 200

    mt.append(_frame(spark, 200, 203))  # pruned append
    meta = _check(spark, mt)
    assert meta["buckets_rewritten"] < 4
    assert meta["rows"] == 203

    upd = _frame(spark, 195, 210).withColumn("s", F.lit("updated"))
    mt.merge_upsert(spark, upd, ["id"])  # pruned merge
    assert _check(spark, mt)["rows"] == 210

    mt.delete_keys(spark, spark.createDataFrame([(3,), (7,)], "id long"), ["id"])
    assert _check(spark, mt)["rows"] == 208

    mt.delete_where(spark, F.col("id") < 10)
    assert _check(spark, mt)["rows"] == 200

    mt.append(
        _frame(spark, 300, 305).withColumn("extra", F.lit(9)),
        merge_schema=True,
    )
    meta = _check(spark, mt)
    assert meta["schema_evolved"] is True and meta["rows"] == 205


def test_entry_without_schema_still_reads(spark, tmp_path):
    """Manifests written before entries carried schema, layout and counts
    read by inference, and the next commit writes a full entry."""
    mt = ManagedTable(str(tmp_path / "legacy"))
    mt.create_or_overwrite(_frame(spark, 0, 50))
    log = _read_log(mt.root)
    for entry in log:
        for key in ("schema", "rows", "rows_written", "partition_by"):
            entry.pop(key)
    with open(os.path.join(mt.root, "_log.json"), "w") as f:
        json.dump(log, f)

    back, jobs = _jobs_started(spark, lambda: mt.read(spark))
    assert jobs  # schema inference is a Spark job
    assert back.count() == 50
    assert [r.rows for r in mt.history(spark).collect()] == [-1]

    mt.append(_frame(spark, 50, 60))
    assert _check(spark, mt)["rows"] == 60


def test_vacuum_after_hardlinked_append_keeps_latest_rows(spark, tmp_path):
    mt = ManagedTable(str(tmp_path / "vac"))
    mt.create_or_overwrite(_frame(spark, 0, 100))
    mt.append(_frame(spark, 100, 110))
    v = mt.append(_frame(spark, 110, 115))
    assert _linked(mt, v - 1, v)
    want = _rows(mt.read(spark))

    assert mt.vacuum(keep_last=1) == [0, 1]
    assert not os.path.isdir(mt._version_dir(0))
    assert _rows(mt.read(spark)) == want
    assert len(want) == 115 == mt.latest_meta()["rows"]
