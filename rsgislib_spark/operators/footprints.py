"""Grid-cell assignment for the images table's footprints.

The Spark replacement for the reference's footprint LUT
(``python/rsgislib/imageutils/imagelut.py:51-169``): an exploded
(image, cell) assignment of the footprint bbox columns that downstream joins
equi-join on, and that the writer range-partitions on (Morton cell ids
are spatially ordered — see kernels.cells).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from rsgislib_spark.kernels import cells

DEFAULT_RES = 7  # cell edge = 8192 world units = 819 px at 10 m/px


def explode_footprint_cells(images: DataFrame, res: int = DEFAULT_RES,
                            id_col: str = "image_id") -> DataFrame:
    """One row per (image, covering cell): the LUT-query index.

    Uses ``mapInPandas`` because the cover is variable-length per row
    (1 row in, N rows out) — the reference's UDTF shape (SURVEY §2.10).
    Only the id + bbox columns flow through; callers join back by id, so
    the wide ``bytes`` payload never enters this shuffle.
    """
    slim = images.select(id_col, "minx", "miny", "maxx", "maxy")
    id_type = dict(images.dtypes)[id_col]
    out_schema = f"{id_col} {id_type}, minx double, miny double, maxx double, maxy double, cell long"

    def _cover(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not len(pdf):
                continue
            ridx, cc = cells.cells_covering_bbox(
                pdf["minx"].to_numpy(), pdf["miny"].to_numpy(),
                pdf["maxx"].to_numpy(), pdf["maxy"].to_numpy(), res,
            )
            out = pdf.iloc[ridx].reset_index(drop=True)
            out["cell"] = cc
            yield out

    return slim.mapInPandas(_cover, schema=out_schema)
