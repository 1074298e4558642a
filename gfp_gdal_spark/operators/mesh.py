"""Triangle / mesh fan-out encode — the reference's primary production
output shape.

Reference (ogr_writer_node.cpp):
- TriangleCollection -> one MultiPolygon feature per input row
  (:373-397);
- MultiTriangleCollection -> one MultiPolygon feature PER PART with
  replicated attributes plus ``building_part_id`` and per-part labels
  (:398-472);
- Mesh -> MultiPolygon of its faces (:473-511).

Engine shape: a triangle collection is a column
``array<array<array<double>>>`` (triangles x 3 vertices x [x,y(,z)]);
a multi-collection adds one nesting level. The fan-outs are pure-JVM
posexplode + aggregate expressions; WKT emit is an arrow_udf that reads
the triangle lists through the ``kernels.geom`` Arrow ring boundary.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gfp_gdal_spark.kernels import geom as _g

__all__ = [
    "mesh_parts_to_rows",
    "triangles_area_col",
    "triangles_stats",
    "triangles_wkt_col",
]


def mesh_parts_to_rows(
    df: DataFrame, parts: str = "parts", part_id: str = "building_part_id",
    labels: str | None = None, triangles: str = "triangles",
) -> DataFrame:
    """MultiTriangleCollection fan-out (ogr_writer_node.cpp:398-472):
    one output row per part, attributes replicated, ``part_id`` = part
    index. If ``labels`` names a per-part labels column (array aligned
    with parts), the matching element is carried as ``labels``."""
    out = df.select("*", F.posexplode(F.col(parts)).alias(part_id, triangles)).drop(parts)
    if labels and labels in df.columns:
        out = out.withColumn("_lab", F.element_at(F.col(labels), F.col(part_id) + 1))
        out = out.drop(labels).withColumnRenamed("_lab", "labels")
    return out


def triangles_area_col(tris: Column) -> Column:
    """Total planar (xy) area of a triangle collection — pure JVM:
    |cross| / 2 summed over triangles."""

    def tri_area(t: Column) -> Column:
        x0, y0 = t[0][0], t[0][1]
        x1, y1 = t[1][0], t[1][1]
        x2, y2 = t[2][0], t[2][1]
        return F.abs((x1 - x0) * (y2 - y0) - (x2 - x0) * (y1 - y0)) / 2.0

    return F.aggregate(tris, F.lit(0.0), lambda acc, t: acc + tri_area(t))


def triangles_stats(df: DataFrame, tris: str = "triangles") -> DataFrame:
    """Add n_triangles + total xy area columns (JVM)."""
    return df.withColumn("n_triangles", F.size(F.col(tris)).cast("long")).withColumn(
        "tri_area", triangles_area_col(F.col(tris))
    )


def triangles_wkt_col(tris: Column) -> Column:
    """MULTIPOLYGON[ Z] wkt of a triangle collection (each triangle one
    polygon, ring re-closed on emit, %.9g floats — same float format as
    kernels.geom.rings_to_wkt). The triangle lists are read one list
    level above ``kernels.geom.ragged_from_arrow``; a NULL collection
    gives NULL, an empty one 'MULTIPOLYGON EMPTY'."""

    @F.arrow_udf(T.StringType())
    def _wkt(a: pa.Array) -> pa.Array:
        rows, tri, valid = _g.arrow_list_level(a)
        off, flat, _ = _g.ragged_from_arrow(tri)
        return pa.array(_g.triangles_to_wkt(rows, flat, off), mask=~valid)

    return _wkt(tris)
