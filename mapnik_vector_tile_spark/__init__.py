"""mapnik_vector_tile_spark — a PySpark-native spatial-join + tiling engine.

A from-scratch re-expression of the query semantics of
mapbox/mapnik-vector-tile (reference at /root/reference, C++14 header
library) as an idiomatic Spark pipeline:

    rows -> cell keys (pure Column math)
         -> broadcast/equi joins against tile boundaries
         -> fused numpy geometry kernels (Arrow batches)
         -> per-tile applyInPandas encode (dictionaries + command streams + pbf)

Nothing is ported from the reference's execution machinery; file:line
citations in docstrings point at the *behaviour* being reproduced.
"""

__version__ = "0.1.0"

from mapnik_vector_tile_spark import importcache, tilemath  # noqa: F401

importcache.install()
