"""Checkpoint lineage: the engine's one resumable runner and its
per-bucket metrics [north_rule: "resumable from checkpoint with
per-partition lineage + metrics"].

Work is split into deterministic BUCKETS (``pmod(xxhash64(id), n)``).
``run_bucketed`` writes the buckets group by group to
``out/bucket=<id>/`` with dynamic partition overwrite, then appends one
manifest row per bucket of the group. The manifest append is the commit
point: a bucket without a manifest row is redone on resume, and redoing
it overwrites only its own partition, so a crash anywhere in a group
leaves a state that a second call completes.

A manifest row's metrics come from the write itself, with no second
Spark job: ``rows`` from an ``observe`` on the written frame, ``bytes``
and ``n_files`` from a listing of the bucket directory through the
Hadoop FileSystem of the output path's scheme (local, ``file://``,
HDFS, S3).

This is the engine's analog of OGRWriter's transactional batch commits
(ogr_writer_node.cpp:524-531) lifted to cluster granularity: the
"transaction" is a bucket group, the commit is its manifest rows.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "bucket_column",
    "pending_buckets",
    "run_bucketed",
    "read_manifest",
    "flat_checkpoint",
]


def flat_checkpoint(df: DataFrame, return_count: bool = False):
    """localCheckpoint with ABSOLUTE size stats — required inside
    iterative self-join loops.

    ``df.localCheckpoint()`` alone copies the child plan's ESTIMATED
    sizeInBytes into the LogicalRDD; a join's estimate is the product
    of its sides, so an iterative loop that joins a checkpoint with
    itself SQUARES the estimate every round. After ~19 rounds the
    statistic is a 500k-bit BigInteger and every subsequent stats visit
    spends seconds in BigInteger.multiply (driver single-thread, wall
    doubling per round — measured; the Karatsuba/ToomCook frames under
    SizeInBytesOnlyStatsPlanVisitor.visitJoin are the tell).

    Fix: materialize a cache first — InMemoryRelation's stats after
    materialization are the ACTUAL cached bytes — then checkpoint (the
    LogicalRDD inherits the absolute number), then drop the cache.
    Costs one extra in-memory materialization per call; lineage is cut
    and the estimate chain is reset to ground truth.

    ``return_count=True`` returns ``(df, n)`` — the row count is
    computed anyway for the materialization, so iterative loops that
    need a convergence check (bfs_hops) get it for free.
    """
    cached = df.persist()
    n = cached.count()
    out = cached.localCheckpoint(eager=True)
    cached.unpersist()
    if return_count:
        return out, n
    return out

MANIFEST_SCHEMA = "bucket long, rows long, bytes long, n_files long, wall_sec double, ts string"


def bucket_column(id_col: str, n_buckets: int):
    """Deterministic bucket id from a key column."""
    return F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_buckets)).cast("long")


def _fs_path(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Hadoop Path) for ``path``; the FileSystem is
    the one of the path's own scheme (the default FS when it has none)."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _data_files(fs, jdir) -> tuple[int, int]:
    """(bytes, n_files) of the data files directly under ``jdir``. Names
    starting with ``_`` or ``.`` are not data (Spark's hidden-file rule:
    ``_SUCCESS``, checksum files)."""
    if not fs.exists(jdir):
        return 0, 0
    sizes = [
        st.getLen()
        for st in fs.listStatus(jdir)
        if st.isFile() and not st.getPath().getName().startswith(("_", "."))
    ]
    return int(sum(sizes)), len(sizes)


def _append_manifest(spark: SparkSession, rows: list[tuple], manifest_path: str) -> None:
    """Commit a bucket group: append its manifest rows. Runs only after
    the group's data write has finished."""
    spark.createDataFrame(rows, MANIFEST_SCHEMA).write.mode("append").parquet(manifest_path)


def read_manifest(spark: SparkSession, manifest_path: str) -> DataFrame:
    """The manifest rows committed so far (none when the path does not
    exist yet). Any other failure to read it propagates."""
    fs, jpath = _fs_path(spark, manifest_path)
    if not fs.exists(jpath):
        return spark.createDataFrame([], MANIFEST_SCHEMA)
    return spark.read.schema(MANIFEST_SCHEMA).parquet(manifest_path)


def pending_buckets(spark: SparkSession, manifest_path: str, n_buckets: int) -> list[int]:
    done = {r.bucket for r in read_manifest(spark, manifest_path).select("bucket").collect()}
    return [b for b in range(n_buckets) if b not in done]


def run_bucketed(
    spark: SparkSession,
    df: DataFrame,
    out_path: str,
    manifest_path: str,
    id_col: str,
    n_buckets: int = 16,
    buckets_per_job: int = 4,
) -> dict:
    """Process ``df`` bucket-group by bucket-group, committing one
    manifest row per finished bucket. Resume = call again: finished
    buckets are skipped via the manifest (the anti-join is a driver-side
    set difference — the manifest is tiny by construction). One Spark
    job per group writes the data; no job reads ``out_path``.
    Returns run metrics.
    """
    pend = pending_buckets(spark, manifest_path, n_buckets)
    work = df.withColumn("bucket", bucket_column(id_col, n_buckets))
    fs, out_root = _fs_path(spark, out_path)
    t_run = time.time()
    for i in range(0, len(pend), buckets_per_job):
        group = pend[i : i + buckets_per_job]
        t0 = time.time()
        # per-bucket row counts ride on the write (accumulator-backed,
        # no extra job); a bucket with no rows counts 0
        obs = Observation()
        part = work.where(F.col("bucket").isin(group)).observe(
            obs, *[F.count_if(F.col("bucket") == b).alias(str(b)) for b in group]
        )
        # dynamic partition overwrite set ON THE WRITER: with Spark's
        # session default (static), this overwrite would delete EVERY
        # previously committed bucket partition while the manifest still
        # marks them done — silent data loss on resume. The writer-level
        # option makes resume correct regardless of session conf.
        (
            part.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(out_path)
        )
        wall = time.time() - t0
        rows = obs.get
        ts = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
        manifest_rows = []
        for b in group:
            jdir = spark._jvm.org.apache.hadoop.fs.Path(out_root, f"bucket={b}")
            nbytes, n_files = _data_files(fs, jdir)
            manifest_rows.append(
                (int(b), int(rows[str(b)]), nbytes, n_files, float(wall / len(group)), ts)
            )
        _append_manifest(spark, manifest_rows, manifest_path)
    return {
        "buckets_processed": len(pend),
        "wall_sec": time.time() - t_run,
        "manifest": manifest_path,
    }
