"""The primary input table: image + caption pairs (BASELINE.json input_hint).

Schema (exactly the hinted shape — location is *derived*, never stored):

    image_id string, bytes binary, w int, h int, fmt string,
    caption string, phash long

``generate_images`` synthesizes the table deterministically per
FIXTURES.md §1 (seeded by construction, no RNG), writing parquet so both
Spark and the numpy oracle read identical bytes. Callers scan it with
``spark.read.parquet(ensure_images(...))``; at real scale an Iceberg
table reader is a drop-in swap, because the engine only ever touches
the DataFrame.

``with_location`` adds (lon, lat) columns with pure Column math — the
FIXTURES.md location rule incl. the hotspot skew clause (rows with
row-index % 10 < 3 cluster at a city point; row index is recoverable
from image_id). This is the engine-side inverse of the reference's
"datasource carries geometry" model (src/vector_tile_layer.hpp:350-353):
our geometry is a deterministic function of the stored key.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F

from mapnik_vector_tile_spark import tilemath
from mapnik_vector_tile_spark.functions import raster

IMAGES_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long"
)


def _phash_for(image_id: str) -> int:
    """int64(sha256(image_id)[:8]) big-endian signed (FIXTURES.md §1)."""
    digest = hashlib.sha256(image_id.encode()).digest()[:8]
    return int.from_bytes(digest, "big", signed=True)


def _pixels_for(i: int, w: int, h: int) -> np.ndarray:
    r = np.arange(h, dtype=np.int64)[:, None]
    c = np.arange(w, dtype=np.int64)[None, :]
    img = np.empty((h, w, 3), dtype=np.uint8)
    img[:, :, 0] = ((r * 8 + i) % 256).astype(np.uint8)
    img[:, :, 1] = ((c * 8 + i) % 256).astype(np.uint8)
    img[:, :, 2] = ((r ^ c) % 256).astype(np.uint8)
    return img


def generate_images_pandas(n_rows: int, start: int = 0):
    """Deterministic image rows [start, start+n_rows) as a pandas frame."""
    import pandas as pd

    rows = []
    for i in range(start, start + n_rows):
        image_id = f"img{i:012d}"
        w = h = 64 if i % 5 == 0 else 32
        fmt = ("png", "webp", "jpeg")[i % 3]
        img = _pixels_for(i, w, h)
        data = raster.encode_image(img, fmt)
        rows.append(
            (image_id, data, w, h, fmt, f"caption for {image_id}", _phash_for(image_id))
        )
    return pd.DataFrame(
        rows, columns=["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]
    )


def generate_images(
    spark: SparkSession, n_rows: int, path: str, partitions: int | None = None
) -> str:
    """Write the deterministic images table to parquet at ``path``.

    Generation is distributed: each task synthesizes its own id range
    (mapInPandas over a range frame), so the build itself scales —
    no driver-side materialization.
    """
    if partitions is None:
        partitions = max(1, min(64, n_rows // 2048 or 1))
    per = -(-n_rows // partitions)

    def gen(iterator):
        for pdf in iterator:
            for _, row in pdf.iterrows():
                start = int(row["start"])
                count = int(min(per, n_rows - start))
                if count > 0:
                    yield generate_images_pandas(count, start=start)

    starts = spark.createDataFrame(
        [(i * per,) for i in range(partitions)], "start long"
    ).repartition(partitions)
    df = starts.mapInPandas(gen, schema=IMAGES_SCHEMA)
    df.write.mode("overwrite").parquet(path)
    return path


def with_location(images: DataFrame) -> DataFrame:
    """Derive (lon, lat) per FIXTURES.md §1, hotspot clause included."""
    row_idx = F.substring("image_id", 4, 12).cast("long")
    base_lon, base_lat = tilemath.phash_lonlat_cols(F.col("phash"))
    hot_lon, hot_lat = tilemath.hotspot_lonlat_cols(F.col("phash"))
    is_hot = (row_idx % 10) < 3
    return images.withColumn("lon", F.when(is_hot, hot_lon).otherwise(base_lon)).withColumn(
        "lat", F.when(is_hot, hot_lat).otherwise(base_lat)
    )


def location_np(image_ids: np.ndarray, phash: np.ndarray):
    """numpy oracle for with_location (golden generation)."""
    idx = np.array([int(s[3:]) for s in image_ids], dtype=np.int64)
    lon, lat = tilemath.phash_lonlat_np(phash)
    hlon, hlat = tilemath.hotspot_lonlat_np(phash)
    hot = (idx % 10) < 3
    return np.where(hot, hlon, lon), np.where(hot, hlat, lat)


def fixture_path(n_rows: int, base: str | None = None) -> str:
    base = base or os.environ.get("SPARK_GRAFT_FIXTURE_DIR", "/root/repo/.fixtures")
    return os.path.join(base, f"images_{n_rows}")


def _cache_valid(path: str) -> bool:
    """A cached fixture is valid only when the _SUCCESS marker AND at
    least one data file exist — an interrupted cleanup can leave the
    marker with zero parts, which then fails every reader with
    UNABLE_TO_INFER_SCHEMA (seen at r7 start on images_2000/4000)."""
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        return False
    try:
        return any(f.endswith(".parquet") for f in os.listdir(path))
    except OSError:
        return False


def ensure_images(spark: SparkSession, n_rows: int, base: str | None = None) -> str:
    """Generate-once cache of the deterministic images table."""
    path = fixture_path(n_rows, base)
    if not _cache_valid(path):
        generate_images(spark, n_rows, path)
    return path


def ensure_images_local(n_rows: int, base: str | None = None) -> str:
    """Spark-free twin of ensure_images (pure pandas/pyarrow writer).

    Used by the oracle side of the driver contract: oracle_sql() must be
    able to guarantee the parity fixture exists on disk without a
    SparkSession, whatever order the driver materializes things in.
    Values are identical to the Spark writer's (same deterministic
    generator); only the file layout differs, which neither reader
    cares about."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = fixture_path(n_rows, base)
    marker = os.path.join(path, "_SUCCESS")
    if _cache_valid(path):
        return path
    os.makedirs(path, exist_ok=True)
    pdf = generate_images_pandas(n_rows)
    schema = pa.schema(
        [
            ("image_id", pa.string()),
            ("bytes", pa.binary()),
            ("w", pa.int32()),
            ("h", pa.int32()),
            ("fmt", pa.string()),
            ("caption", pa.string()),
            ("phash", pa.int64()),
        ]
    )
    table = pa.Table.from_pandas(pdf, schema=schema, preserve_index=False)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))
    with open(marker, "w"):
        pass
    return path


def tile_boundaries(spark: SparkSession, zooms=(0, 3, 13, 14), buffer_px: int = 0) -> DataFrame:
    """tile_boundaries join table (FIXTURES.md §2): full grid at z<=3,
    and at deep zooms only tiles that can receive fixture rows would be
    enumerated cluster-side; here we enumerate lazily from the data in
    operators.assign instead. This helper returns the small-z grid used
    by PIP tests."""
    rows = []
    for z in zooms:
        if z > 6:
            continue  # deep-zoom boundaries are derived from data, not enumerated
        n = 2**z
        for x in range(n):
            for y in range(n):
                minx, miny, maxx, maxy = tilemath.tile_mercator_bbox_np(x, y, z)
                rows.append((z, x, y, float(minx), float(miny), float(maxx), float(maxy), buffer_px))
    return spark.createDataFrame(
        rows, "z int, x int, y int, minx double, miny double, maxx double, maxy double, buffer_px int"
    )
