"""CRS transform column functions.

The reference applies a pipeline-level SRS transform to every feature
on read (ogr_reader_node.cpp:220-224, :93-97, :257-261) and the
reverse on write (ogr_writer_node.cpp:179, :42-57). Here:

- WGS84 <-> WebMercator is a pure Column expression (JVM, whole-stage
  codegen — zero Python on the hot path, and the same closed form the
  DuckDB oracles run).
- Transverse Mercator / UTM uses the numpy series kernels
  (kernels/crs.py): for x/y columns behind a vectorized pandas UDF
  (one Arrow batch, one numpy pass).
- transform_ring_col transforms array<array<double>> ring columns with
  the same kernels, as an arrow_udf on the ``kernels.geom`` Arrow ring
  boundary: the batch's vertices are transformed in one pass, the ring
  offsets pass through unchanged and a NULL ring stays NULL.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gfp_gdal_spark.kernels import crs as _crs

__all__ = [
    "webmercator_cols",
    "webmercator_inv_cols",
    "transform_cols",
    "transform_ring_col",
]

_PI4 = math.pi / 4.0


def webmercator_cols(lon: Column, lat: Column) -> tuple[Column, Column]:
    """lon/lat degrees -> EPSG:3857 meters, pure JVM."""
    x = F.lit(_crs.WEBMERC_R) * F.radians(lon)
    y = F.lit(_crs.WEBMERC_R) * F.log(F.tan(F.lit(_PI4) + F.radians(lat) / 2.0))
    return x, y


def webmercator_inv_cols(x: Column, y: Column) -> tuple[Column, Column]:
    lon = F.degrees(x / F.lit(_crs.WEBMERC_R))
    lat = F.degrees(2.0 * F.atan(F.exp(y / F.lit(_crs.WEBMERC_R))) - F.lit(math.pi / 2.0))
    return lon, lat


def _transform_udf(src: str, dst: str):
    out_t = T.StructType(
        [T.StructField("x", T.DoubleType()), T.StructField("y", T.DoubleType())]
    )

    @F.pandas_udf(out_t)
    def _tf(xs: pd.Series, ys: pd.Series) -> pd.DataFrame:
        x, y = _crs.transform(xs.to_numpy(np.float64), ys.to_numpy(np.float64), src, dst)
        return pd.DataFrame({"x": x, "y": y})

    return _tf


def transform_cols(x: Column, y: Column, src: str, dst: str) -> tuple[Column, Column]:
    """(x, y) in ``src`` -> (x, y) in ``dst``. Pure JVM whenever both
    ends are lonlat/webmercator; TM legs go through the numpy kernel."""
    skind, _ = _crs.parse_crs(src)
    dkind, _ = _crs.parse_crs(dst)
    if skind == dkind and skind in ("lonlat", "webmercator"):
        return x, y
    if skind == "lonlat" and dkind == "webmercator":
        return webmercator_cols(x, y)
    if skind == "webmercator" and dkind == "lonlat":
        return webmercator_inv_cols(x, y)
    s = _transform_udf(src, dst)(x, y)
    return s["x"], s["y"]


def transform_ring_col(ring: Column, src: str, dst: str) -> Column:
    """array<array<double>> ring in ``src`` -> ring in ``dst`` (x, y
    transformed; any extra coordinate, e.g. z, passes through). One
    ragged numpy pass per Arrow batch; NULL rings stay NULL."""
    from gfp_gdal_spark.kernels import geom as _g

    @F.arrow_udf(T.ArrayType(T.ArrayType(T.DoubleType())))
    def _tf(a: pa.Array) -> pa.Array:
        off, flat, valid = _g.ragged_from_arrow(a)
        flat = flat.copy()
        if flat.shape[0]:
            flat[:, 0], flat[:, 1] = _crs.transform(flat[:, 0], flat[:, 1], src, dst)
        return _g.ragged_to_arrow(flat, off, valid)

    return _tf(ring)
