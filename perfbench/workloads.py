"""The benchmark's workloads: seeded inputs, one pass through the engine's
public API, and an independent oracle for the pass's output.

Every workload derives its inputs from the seed alone: the seed sets the
image-id offset and the zone-layer seed. ``build`` writes the inputs under
the workload's work directory, reads them back and checks the digest, so a
set-up always does the same work (generate, write, verify). ``run_pass`` is
one closed-loop pass and returns a small driver-side result; ``check``
compares it with ``oracle()``, which is computed once, outside the timed
passes, with numpy on the driver (or, for the resumable runner, with one
plain ``north_star_pipeline`` pass).
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import oracles

N_ZONES = 2000
SEED_MOD = 2**31
# FIXTURES.md section 1: the images table's per-row cycles.
_WS, _HS, _FMTS = (16, 32, 64), (16, 24, 48), ("ppm", "png", "qnt")


def id_offset(seed: int) -> int:
    return seed * 10_000_000


def images_arrow(ids: np.ndarray, with_bytes: bool) -> pa.Table:
    """The images table (datagen.IMAGES_SCHEMA) for explicit ids, following
    the FIXTURES.md rule: phash = splitmix64(id), w/h/fmt cycle with id % 3.
    Unlike datagen.images_table it takes an id offset and runs on the driver
    in vectorised numpy/Arrow, so generating the inputs costs the same on
    every run and little next to the passes."""
    from gfp_gdal_spark.kernels import codec
    from gfp_gdal_spark.sources import datagen

    ids = np.asarray(ids, dtype=np.int64)
    k = ids % 3
    w = np.asarray(_WS, dtype=np.int32)[k]
    h = np.asarray(_HS, dtype=np.int32)[k]
    fmt = np.asarray(_FMTS)[k]
    ids_s = pc.cast(pa.array(ids), pa.string())
    image_id = pc.binary_join_element_wise("img", pc.utf8_lpad(ids_s, 8, "0"), "")
    caption = pc.binary_join_element_wise(
        "synthetic scene ", ids_s, " tags:",
        pc.cast(pa.array(ids % 7), pa.string()), ",",
        pc.cast(pa.array(ids % 13), pa.string()), "",
    )
    if with_bytes:
        blobs = [
            codec.encode_image(codec.synth_pixels(int(i), int(wi), int(hi)), str(f))
            for i, wi, hi, f in zip(ids, w, h, fmt)
        ]
    else:
        blobs = [b""] * len(ids)
    return pa.table(
        {
            "image_id": image_id,
            "bytes": pa.array(blobs, pa.binary()),
            "w": w,
            "h": h,
            "fmt": pa.array(fmt, pa.string()),
            "caption": caption,
            "phash": datagen.splitmix64(ids.astype(np.uint64)).view(np.int64),
        }
    )


def table_digest(t: pa.Table) -> str:
    """sha256 over every column's values in row order."""
    d = hashlib.sha256()
    for name in t.column_names:
        col = t.column(name).combine_chunks()
        d.update(name.encode())
        if pa.types.is_integer(col.type) or pa.types.is_floating(col.type):
            d.update(col.to_numpy(zero_copy_only=False).tobytes())
        elif pa.types.is_string(col.type) or pa.types.is_binary(col.type):
            off = np.frombuffer(col.buffers()[1], dtype=np.int32)[col.offset : col.offset + len(col) + 1]
            d.update((off - off[0]).tobytes())
            d.update(memoryview(col.buffers()[2])[off[0] : off[-1]])
        else:
            raise TypeError(f"no digest rule for column {name}: {col.type}")
    return d.hexdigest()


def write_verified(t: pa.Table, path: str, n_files: int) -> str:
    """Write ``t`` as ``n_files`` parquet files under ``path``, read it back
    and return its digest; raise if the read-back differs."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    step = -(-t.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(t.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))
    want = table_digest(t)
    got = table_digest(pq.read_table(path))
    if got != want:
        raise RuntimeError(f"input digest mismatch under {path}: {got} != {want}")
    return want


def zones_pandas(seed: int, max_radius_deg: float) -> pd.DataFrame:
    from gfp_gdal_spark.sources import datagen

    return datagen.vector_layer_zones_pandas(N_ZONES, seed=seed, max_radius_deg=max_radius_deg)


def write_zones(spark, pdf: pd.DataFrame, path: str) -> str:
    """Zone layer -> parquet through Spark (the engine's VECTOR_SCHEMA),
    verified against the generated frame."""
    from gfp_gdal_spark.sources import datagen

    spark.createDataFrame(pdf, schema=datagen.VECTOR_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)
    back = pq.read_table(path).to_pandas().sort_values("polygon_id")
    want = oracles.zones_digest(pdf)
    if oracles.zones_digest(back) != want:
        raise RuntimeError(f"zone layer digest mismatch under {path}")
    return want


class Workload:
    """One benchmark workload. Subclasses set ``name``, ``item`` (what
    ``items_per_s`` counts) and implement the methods below."""

    name = ""
    item = ""
    # tags of the fixed warm-up passes, run before the oracle
    WARMUP: tuple[str, ...] = ("warm0",)
    # the items_per_s median over 3 passes drops one slow pass
    MIN_PASSES = 3

    def __init__(self, seed: int, work: str):
        # any integer is a valid --seed; the ids and generators take its
        # residue, which keeps id_offset far inside int64
        self.seed = seed % SEED_MOD
        self.work = os.path.join(work, self.name)
        self.items = 0

    def build(self, spark) -> str:
        raise NotImplementedError

    def run_pass(self, spark, tag: str):
        raise NotImplementedError

    def oracle(self, spark):
        raise NotImplementedError

    def check(self, result, expected) -> bool:
        raise NotImplementedError

    def prefixes(self) -> list:
        """(label, build(spark) -> DataFrame) pipeline prefixes, shortest
        first; the traced run times each with a no-op sink."""
        return []


class PipTile(Workload):
    """images parquet -> with_footprint -> broadcast pip_join(z="auto")
    against the zone layer -> tile_assign(z=12) -> per-tile counts."""

    name = "pip_tile"
    item = "images"
    N_IMAGES = 1_000_000
    TILE_Z = 12
    ZONE_RADIUS_DEG = 2.8  # z="auto" lands mid-way between rounding boundaries

    def build(self, spark) -> str:
        self.images = os.path.join(self.work, "images")
        self.zones_path = os.path.join(self.work, "zones")
        ids = id_offset(self.seed) + np.arange(self.N_IMAGES, dtype=np.int64)
        self.zones = zones_pandas(self.seed, self.ZONE_RADIUS_DEG)
        d1 = write_verified(images_arrow(ids, with_bytes=False), self.images, 8)
        d2 = write_zones(spark, self.zones, self.zones_path)
        self.items = self.N_IMAGES
        return hashlib.sha256((d1 + d2).encode()).hexdigest()

    def _points(self, spark):
        from gfp_gdal_spark.functions.spatial import with_footprint

        imgs = spark.read.parquet(self.images)
        return with_footprint(imgs).select("image_id", "lon_c", "lat_c")

    def _joined(self, spark):
        from gfp_gdal_spark.operators import joins as J

        zones = spark.read.parquet(self.zones_path)
        return J.pip_join(self._points(spark), zones, z="auto", broadcast=True)

    def run_pass(self, spark, tag: str):
        from pyspark.sql import functions as F

        from gfp_gdal_spark.operators import joins as J

        tiled = J.tile_assign(self._joined(spark), z=self.TILE_Z)
        rows = (
            tiled.groupBy("category", "tile_z", "tile_x", "tile_y")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        out: dict[str, int] = {}
        for r in rows:
            out[r["category"]] = out.get(r["category"], 0) + int(r["n"])
        return out

    def oracle(self, spark):
        t = pq.read_table(self.images, columns=["phash"])
        lon, lat = oracles.footprint_centers(t.column("phash").to_numpy())
        pt, poly = oracles.pip_pairs(lon, lat, self.zones)
        cats = self.zones["category"].to_numpy()[poly]
        names, counts = np.unique(cats, return_counts=True)
        return {str(k): int(v) for k, v in zip(names, counts)}

    def check(self, result, expected) -> bool:
        return result == expected

    def prefixes(self):
        return [
            ("scan", lambda s: s.read.parquet(self.images).select("image_id", "phash", "w", "h")),
            ("footprint", self._points),
            ("join", self._joined),
        ]


class Rasterize(Workload):
    """rasterize_zones burns a GRID x GRID block of adjacent SIZE x SIZE
    frames (a tiling job over one region, half the zone layer's extent)
    against the zone layer, broadcast, z="auto"."""

    name = "rasterize"
    item = "pixels"
    GRID = 4
    SIZE = 192
    # The first pass in a JVM pays 7-15 s of one-time costs (codegen,
    # Python workers, broadcast set-up) whatever its size, and later passes
    # keep speeding up for several passes as the JIT compiles. The "prime"
    # pass burns PRIME_FRAMES small frames and absorbs the one-time costs
    # in about 7 s; a full pass then brings the JIT close to steady state.
    WARMUP = ("prime", "warm0")
    PRIME_FRAMES = 2
    PRIME_SIZE = 64
    # The block is fixed and the seed draws the zone layer. About 970 of
    # the 2,000 zones fall in it (binomial sd ~2%), so the pass does the
    # same work under every seed; a seeded 60-degree block held 117-153.
    BLOCK = (-120.0, -60.0, 120.0, 60.0)
    # mean zone extent ~2.8 degrees puts z="auto" at 7 with the rounding
    # boundaries (z 6.5 / 7.5) far away, so no seed flips the tile zoom
    ZONE_RADIUS_DEG = 2.8

    def build(self, spark) -> str:
        x0, y0, x1, y1 = self.BLOCK
        fw, fh = (x1 - x0) / self.GRID, (y1 - y0) / self.GRID
        gx, gy = np.meshgrid(np.arange(self.GRID), np.arange(self.GRID))
        min_lon = x0 + gx.ravel() * fw
        min_lat = y0 + gy.ravel() * fh
        n = self.GRID * self.GRID
        frames = pa.table(
            {
                "image_id": [f"frame{j:03d}" for j in range(n)],
                "min_lon": min_lon,
                "min_lat": min_lat,
                "max_lon": min_lon + fw,
                "max_lat": min_lat + fh,
                "w": np.full(n, self.SIZE, dtype=np.int32),
                "h": np.full(n, self.SIZE, dtype=np.int32),
            }
        )
        k = self.PRIME_FRAMES
        prime = frames.slice(0, k).to_pandas()
        prime["image_id"] = [f"prime{j:03d}" for j in range(k)]
        prime["w"] = prime["h"] = np.int32(self.PRIME_SIZE)
        prime = pa.Table.from_pandas(prime, schema=frames.schema, preserve_index=False)
        self.frames = pa.concat_tables([frames, prime]).to_pandas()
        self.paths = {
            "frame": os.path.join(self.work, "frames"),
            "prime": os.path.join(self.work, "prime"),
        }
        self.zones_path = os.path.join(self.work, "zones")
        self.zones = zones_pandas(self.seed, self.ZONE_RADIUS_DEG)
        d1 = write_verified(frames, self.paths["frame"], 1)
        d2 = write_verified(prime, self.paths["prime"], 1)
        d3 = write_zones(spark, self.zones, self.zones_path)
        self.items = n * self.SIZE * self.SIZE
        return hashlib.sha256((d1 + d2 + d3).encode()).hexdigest()

    def run_pass(self, spark, tag: str):
        from pyspark.sql import functions as F

        from gfp_gdal_spark.operators.raster import rasterize_zones

        kind = "prime" if tag == "prime" else "frame"
        frames = spark.read.parquet(self.paths[kind])
        zones = spark.read.parquet(self.zones_path).withColumn(
            "zval", (F.col("polygon_id") % 199 + 1).cast("int")
        )
        out = rasterize_zones(
            frames, zones, value="zval", key="image_id", z="auto", broadcast=True
        )
        rows = out.select("image_id", "n_burned", "val_sum", F.length("bytes").alias("nb")).collect()
        return kind, {
            r["image_id"]: (int(r["n_burned"]), int(r["val_sum"]), int(r["nb"]) > 0) for r in rows
        }

    def oracle(self, spark):
        vals = (self.zones["polygon_id"].to_numpy() % 199 + 1).astype(np.int64)
        return oracles.rasterize(self.frames, self.zones, vals)

    def check(self, result, expected) -> bool:
        kind, got = result
        want = {k: v for k, v in expected.items() if k.startswith(kind)}
        return {k: v[:2] for k, v in got.items()} == want and all(v[2] for v in got.values())

    def prefixes(self):
        return [("scan", lambda s: s.read.parquet(self.zones_path))]


class IngestResumable(Workload):
    """run_north_star_resumable over images with bytes, 16 buckets with 4
    per job; every pass writes to fresh output and manifest directories."""

    name = "ingest_resumable"
    item = "images"
    # A pass is nearly all fixed per-bucket-group work: 8-15 s at 1,000 or
    # 2,000 images, depending on the host's speed. Its one-time costs sit
    # in the bucketed write path, so a plain pipeline pass does not absorb
    # them (the first bucketed pass after one still runs 1.4-1.6x slow) and
    # a small input does not make the warm-up cheaper (64 images: 16-18 s,
    # as long as a full cold pass). The warm-up is one full pass.
    MIN_PASSES = 2
    N_IMAGES = 2000
    N_BUCKETS = 16
    PER_JOB = 4

    def build(self, spark) -> str:
        self.images = os.path.join(self.work, "images")
        self.zones_path = os.path.join(self.work, "zones")
        self.runs = os.path.join(self.work, "runs")
        self.lineage = []
        ids = id_offset(self.seed) + np.arange(self.N_IMAGES, dtype=np.int64)
        self.zones = zones_pandas(self.seed, 2.0)
        d1 = write_verified(images_arrow(ids, with_bytes=True), self.images, 4)
        d2 = write_zones(spark, self.zones, self.zones_path)
        self.items = self.N_IMAGES
        return hashlib.sha256((d1 + d2).encode()).hexdigest()

    def run_pass(self, spark, tag: str):
        from gfp_gdal_spark.pipelines import run_north_star_resumable

        base = os.path.join(self.runs, tag)
        out, manifest = os.path.join(base, "out"), os.path.join(base, "manifest")
        stats = run_north_star_resumable(
            spark,
            self.images,
            spark.read.parquet(self.zones_path),
            out,
            manifest,
            n_buckets=self.N_BUCKETS,
            buckets_per_job=self.PER_JOB,
        )
        return out, manifest, stats

    def oracle(self, spark):
        from gfp_gdal_spark.pipelines import north_star_pipeline

        df = north_star_pipeline(
            spark.read.parquet(self.images), spark.read.parquet(self.zones_path)
        ).toPandas()
        return len(df), oracles.frame_digest(df), list(df.columns)

    def check(self, result, expected) -> bool:
        out, manifest, stats = result
        n, digest, cols = expected
        man = pq.read_table(manifest).to_pandas()
        got = oracles.read_partitioned(out)
        write_s = float(man["wall_sec"].sum())
        self.lineage.append(
            {
                "write_s": write_s,
                "commit_s": stats["wall_sec"] - write_s,
                "bytes_written": float(man["bytes"].sum()),
                "files_written": float(man["n_files"].sum()),
                "bytes_per_row": float(man["bytes"].sum()) / max(int(man["rows"].sum()), 1),
            }
        )
        ok = (
            sorted(man["bucket"].tolist()) == list(range(self.N_BUCKETS))
            and int(man["rows"].sum()) == n
            and len(got) == n
            and oracles.frame_digest(got[cols]) == digest
        )
        shutil.rmtree(os.path.dirname(out), ignore_errors=True)
        return ok

    def prefixes(self):
        from pyspark.sql import functions as F

        from gfp_gdal_spark.functions.spatial import hex_cell, s2_cell, with_footprint
        from gfp_gdal_spark.operators import joins as J
        from gfp_gdal_spark.pipelines import decode_and_hash

        def scan(spark):
            return spark.read.parquet(self.images)

        def decode(spark):
            return decode_and_hash(scan(spark))

        def footprint(spark):
            pts = with_footprint(decode(spark))
            pts = pts.withColumn("hex_cell", hex_cell(F.col("lon_c"), F.col("lat_c"), 8))
            pts = pts.withColumn("s2_cell", s2_cell(F.col("lon_c"), F.col("lat_c"), 14))
            return pts.select(
                "image_id", "caption", "phash", "ahash", "psnr_ok",
                "lon_c", "lat_c", "hex_cell", "s2_cell",
            )

        def join(spark):
            zones = spark.read.parquet(self.zones_path)
            return J.pip_join(footprint(spark), zones, z=8, broadcast=True)

        return [("scan", scan), ("decode", decode), ("footprint", footprint), ("join", join)]


class KnnRing(Workload):
    """knn_join(k=5, res="auto", kring=2): N_QUERIES queries against
    N_POINTS points, both dense in one 10 x 10 degree box, so queries x
    points is far above the brute-force shortcut's budget and the hex
    k-ring rounds run."""

    name = "knn_ring"
    item = "queries"
    N_POINTS = 200_000
    N_QUERIES = 20_000
    K = 5
    N_SAMPLE = 200

    def build(self, spark) -> str:
        rng = np.random.default_rng(self.seed)
        off = id_offset(self.seed)

        def box(n):
            return rng.uniform(10.0, 20.0, n), rng.uniform(20.0, 30.0, n)

        plon, plat = box(self.N_POINTS)
        qlon, qlat = box(self.N_QUERIES)
        pts = pa.table(
            {"point_id": off + np.arange(self.N_POINTS), "lon_c": plon, "lat_c": plat}
        )
        qs = pa.table(
            {"query_id": off + np.arange(self.N_QUERIES), "q_lon": qlon, "q_lat": qlat}
        )
        self.points_path = os.path.join(self.work, "points")
        self.queries_path = os.path.join(self.work, "queries")
        d1 = write_verified(pts, self.points_path, 4)
        d2 = write_verified(qs, self.queries_path, 1)
        self.pts, self.qs = pts.to_pandas(), qs.to_pandas()
        self.sample = self.qs["query_id"].to_numpy()[: self.N_SAMPLE].tolist()
        self.items = self.N_QUERIES
        return hashlib.sha256((d1 + d2).encode()).hexdigest()

    def run_pass(self, spark, tag: str):
        from pyspark.sql import functions as F

        from gfp_gdal_spark.operators import joins as J

        out = J.knn_join(
            spark.read.parquet(self.queries_path),
            spark.read.parquet(self.points_path),
            k=self.K, res="auto", kring=2,
        )
        rows = (
            out.where(F.col("query_id").isin(self.sample))
            .select("query_id", "point_id", "rank", "dist_m")
            .collect()
        )
        got: dict[int, list] = {}
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            got.setdefault(int(r["query_id"]), []).append((int(r["point_id"]), float(r["dist_m"])))
        return out.count(), got

    def oracle(self, spark):
        return oracles.knn_topk(self.qs.iloc[: self.N_SAMPLE], self.pts, self.K)

    def check(self, result, expected) -> bool:
        n, got = result
        return n == self.N_QUERIES * self.K and oracles.knn_match(got, expected)


WORKLOADS = {w.name: w for w in (PipTile, Rasterize, IngestResumable, KnnRing)}
