"""rsgislib_spark — a from-scratch PySpark-native spatial-join + tiling engine.

Re-expresses the query/data-processing capabilities of the rsgislib
reference (raster/vector core: zonal attribution, spatial joins, kNN,
tiling, band math, focal ops) as an idiomatic Spark DataFrame engine over
a table of image+caption rows::

    (image_id string, bytes binary, w int, h int, fmt string,
     caption string, phash long)

Design (see SURVEY.md):
 - pure-numpy kernel library (``kernels/``) — geotransform/pixel math with
   the reference's exact rounding conventions, grid-cell (H3-style) spatial
   index, STR bbox tree, deterministic image codecs;
 - DataFrame operators (``operators/``) — cell-bucketed spatial join with
   broadcast STRtree refine, overlapping tiler via ``mapInPandas``,
   zonal aggregation, kNN join, mosaic, salting, manifest-based resume;
 - scalar/agg function library (``functions/``) — band math, spectral
   indices, text-analysis + dedup + ANN similarity for training-data
   pipelines.

Everything is vectorized (Arrow/pandas batches); no per-row Python in any
hot path.
"""

__version__ = "0.1.0"

from rsgislib_spark.session import install_zip_reread_guard

# Every Python worker that unpickles an engine closure imports the
# package, so every such worker gets the guard (see its docstring).
install_zip_reread_guard()
