"""Column-level function surface of the engine.

Two tiers, chosen deliberately per function:

1. **Pure Column expressions** (JVM-side, whole-stage-codegen'd) for
   everything expressible in Spark SQL math — WebMercator tiling,
   footprint derivation, text stats. These never leave the JVM.
2. **Vectorized Arrow/pandas UDFs** (Arrow batch transfer) wrapping
   the numpy kernels — ragged-geometry ops as ``arrow_udf``s on the
   ``kernels.geom`` Arrow ring boundary; cell indexes, image codecs —
   the "no per-row Python" contract of BASELINE.json input_hint.
"""

from gfp_gdal_spark.functions.spatial import (  # noqa: F401
    footprint_cols,
    footprint_ring_col,
    tile_cols,
    tile_cover_cols,
    hex_cell,
    s2_cell,
    hex_kring,
)
from gfp_gdal_spark.functions.geometry import (  # noqa: F401
    ring_area,
    ring_is_ccw,
    ring_is_valid,
    ring_wkt,
    orient_ring,
)
