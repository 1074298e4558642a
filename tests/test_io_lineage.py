"""IO sinks/sources + checkpoint lineage (kill/resume invariant)."""

import os

import pytest
from pyspark.sql import functions as F

from gfp_gdal_spark.plans import lineage as L
from gfp_gdal_spark.sources import datagen, io as IO


def test_vector_layer_roundtrip(spark, tmp_path):
    vl = datagen.vector_layer(spark, 40)
    out = str(tmp_path / "layer")
    IO.write_vector_layer(vl, out)
    back = IO.read_vector_layer(spark, out)
    assert back.count() == 40
    assert set(back.columns) == set(vl.columns)
    # attribute filter pushes into the scan (S3 analog)
    filt = IO.read_vector_layer(spark, out, attribute_filter="category = 'water'")
    assert filt.count() == vl.where("category = 'water'").count()


def test_rename_map_and_only_mapped(spark):
    df = spark.createDataFrame([(1, "a", 2.0)], "id int, name string, v double")
    out = IO.apply_rename_map(df, {"id": "fid", "v": "value"})
    assert out.columns == ["fid", "name", "value"]
    out2 = IO.apply_rename_map(df, {"id": "fid"}, only_mapped=True)
    assert out2.columns == ["fid"]


def test_csv_roundtrip_precision(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, 1.23456789), (2, 2.0)], "id int, x double"
    )
    out = str(tmp_path / "csv")
    IO.write_csv(df, out, precision=3)
    back = spark.read.csv(out, header=True, sep=" ")
    vals = {r["id"]: r["x"] for r in back.collect()}
    assert vals["1"] == "1.235" and vals["2"] == "2.000"


def test_points_csv_thinning(spark, tmp_path):
    p = tmp_path / "pts.csv"
    lines = ["x y z"] + [f"{i}.0 {i * 2}.0 0.5" for i in range(100)]
    p.write_text("\n".join(lines))
    df = IO.read_points_csv(spark, str(p), thin_nth=5)
    got = sorted(r["x"] for r in df.collect())
    assert got == sorted(float(i) for i in range(0, 100, 5))


def test_segments_csv_grouping(spark, tmp_path):
    p = tmp_path / "seg.csv"
    rows = ["x_start y_start BuildingID quality"]
    for i in range(30):
        rows.append(f"{i}.0 {i}.0 b{i % 3} {i % 5}")
    p.write_text("\n".join(rows))
    df = IO.read_segments_csv(spark, str(p), aggregate_name="BuildingID")
    out = {r["BuildingID"]: r["n_segments"] for r in df.collect()}
    assert out == {"b0": 10, "b1": 10, "b2": 10}


def test_lineage_kill_resume(spark, tmp_path, kill_at_commit):
    """north_rule: a killed job resumes without recomputing finished
    buckets, and the final output equals an uninterrupted run."""
    df = spark.range(0, 2000).withColumn("v", F.col("id") * 2)
    out = str(tmp_path / "out")
    man = str(tmp_path / "manifest")

    kill_at_commit(2)
    with pytest.raises(RuntimeError, match="simulated failure"):
        L.run_bucketed(spark, df, out, man, "id", n_buckets=8, buckets_per_job=2)

    done_before = set(r.bucket for r in L.read_manifest(spark, man).collect())
    assert len(done_before) == 4  # 2 groups x 2 buckets committed

    res = L.run_bucketed(spark, df, out, man, "id", n_buckets=8, buckets_per_job=2)
    assert res["buckets_processed"] == 4  # only the remaining buckets

    final = spark.read.parquet(out)
    assert final.count() == 2000
    assert final.select(F.sum("v")).collect()[0][0] == sum(i * 2 for i in range(2000))
    # manifest has full lineage metrics
    m = L.read_manifest(spark, man).toPandas()
    assert len(m) == 8 and (m["rows"] > 0).all() and (m["bytes"] > 0).all()

    # idempotent: running again does nothing
    res2 = L.run_bucketed(spark, df, out, man, "id", n_buckets=8)
    assert res2["buckets_processed"] == 0


def test_lineage_crash_between_write_and_commit(spark, tmp_path, kill_at_commit):
    """A crash after a group's data write but before its manifest append
    leaves that group's partitions on disk uncommitted; resume redoes
    exactly the uncommitted buckets and the output equals an
    uninterrupted run, with one manifest row per bucket."""
    df = spark.range(0, 2000).withColumn("v", F.col("id") * 2)
    out, man = str(tmp_path / "out"), str(tmp_path / "manifest")
    ref, ref_man = str(tmp_path / "ref"), str(tmp_path / "ref_manifest")
    L.run_bucketed(spark, df, ref, ref_man, "id", n_buckets=8, buckets_per_job=2)

    kill_at_commit(3, before=True)
    with pytest.raises(RuntimeError, match="simulated failure before commit 3"):
        L.run_bucketed(spark, df, out, man, "id", n_buckets=8, buckets_per_job=2)
    assert L.read_manifest(spark, man).count() == 4
    # the killed group's data is already written
    assert spark.read.parquet(out).select("bucket").distinct().count() == 6

    res = L.run_bucketed(spark, df, out, man, "id", n_buckets=8, buckets_per_job=2)
    assert res["buckets_processed"] == 4
    got, want = spark.read.parquet(out), spark.read.parquet(ref)
    assert got.count() == want.count() == 2000
    assert sorted(map(tuple, got.select("id", "v", "bucket").collect())) == sorted(
        map(tuple, want.select("id", "v", "bucket").collect())
    )
    m = L.read_manifest(spark, man).toPandas()
    assert sorted(m["bucket"]) == list(range(8))
    ref_m = L.read_manifest(spark, ref_man).toPandas().set_index("bucket")
    assert m.set_index("bucket")["rows"].sort_index().tolist() == ref_m["rows"].sort_index().tolist()


def test_lineage_manifest_file_uri(spark, tmp_path):
    """Manifest metrics on ``file://`` URIs: rows equal a re-read of each
    bucket, bytes/n_files equal the data files on disk; a bucket that
    receives no rows records 0/0/0."""
    df = spark.range(0, 3000, 1, 6).withColumn("v", F.col("id") * 3)
    out_dir = tmp_path / "out"
    out, man = out_dir.as_uri(), (tmp_path / "manifest").as_uri()
    assert out.startswith("file://")
    L.run_bucketed(spark, df, out, man, "id", n_buckets=8, buckets_per_job=3)
    m = L.read_manifest(spark, man).toPandas().set_index("bucket")
    assert sorted(m.index) == list(range(8))
    reread = {
        r["bucket"]: r["count"]
        for r in spark.read.parquet(out).groupBy("bucket").count().collect()
    }
    for b in range(8):
        files = [
            os.path.join(d, f)
            for d, _, names in os.walk(out_dir / f"bucket={b}")
            for f in names
            if not f.startswith((".", "_"))
        ]
        assert m.loc[b, "rows"] == reread[b]
        assert m.loc[b, "n_files"] == len(files) > 0
        assert m.loc[b, "bytes"] == sum(os.path.getsize(f) for f in files)

    sparse_out = (tmp_path / "sparse").as_uri()
    sparse_man = (tmp_path / "sparse_manifest").as_uri()
    L.run_bucketed(spark, spark.range(0, 2), sparse_out, sparse_man, "id", n_buckets=8)
    sm = L.read_manifest(spark, sparse_man).toPandas().set_index("bucket")
    assert sorted(sm.index) == list(range(8)) and sm["rows"].sum() == 2
    empty = sm[sm["rows"] == 0]
    assert len(empty) >= 6 and (empty["bytes"] == 0).all() and (empty["n_files"] == 0).all()


def test_read_manifest_missing_vs_unreadable(spark, tmp_path):
    """A manifest that does not exist yet means no bucket is done; a
    manifest path that cannot be opened is an error, not an empty
    manifest (which would silently redo every bucket)."""
    assert L.read_manifest(spark, str(tmp_path / "none")).count() == 0
    assert L.pending_buckets(spark, str(tmp_path / "none"), 4) == [0, 1, 2, 3]
    with pytest.raises(Exception, match="No FileSystem for scheme"):
        L.read_manifest(spark, "nosuchscheme://host/manifest")
