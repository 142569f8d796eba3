"""Seeded benchmark inputs, cached per seed.

Images follow ``sources.images.generate_images_pandas`` exactly (FIXTURES.md
section 1).  A row's image bytes depend only on ``i % 3840`` (pixels on
``i % 256``, size on ``i % 5``, format on ``i % 3``), so the expensive PIL
encodes run once for a pool of 3840 rows and every seed window reuses
them.  A sample of each window is compared against the engine's own
generator before the table is accepted.

Geometries follow the geom_tiles generator of ``bench.py``: lines and
squares in mercator metres, 10% of them large enough to span many z6
tiles.

Both tables are written once per (seed, rows, generator source hash) and
reused; nothing the engine computes is ever cached here.
"""

from __future__ import annotations

import hashlib
import inspect
import os
import shutil

import numpy as np

POOL = 3840  # lcm(256, 5, 3): the period of the image bytes column
HALF = 20037508.342789244


def _source_hash(*objs) -> str:
    h = hashlib.sha256()
    for o in objs:
        h.update(inspect.getsource(o).encode())
    return h.hexdigest()[:12]


def _pool_bytes(cache: str) -> list:
    """The 3840 encoded images of one period, cached as a parquet file."""
    import pyarrow.parquet as pq

    from mapnik_vector_tile_spark.sources import images as IMG

    path = os.path.join(cache, f"pool_{_source_hash(IMG.generate_images_pandas)}.parquet")
    if not os.path.exists(path):
        pdf = IMG.generate_images_pandas(POOL, start=0)
        import pyarrow as pa

        tmp = path + ".tmp"
        pq.write_table(pa.table({"bytes": pa.array(list(pdf["bytes"]), pa.binary())}), tmp)
        os.replace(tmp, path)
    return pq.read_table(path).column("bytes").to_pylist()


def _phash(image_id: str) -> int:
    """int64(sha256(image_id)[:8]), big-endian and signed (FIXTURES.md)."""
    return int.from_bytes(hashlib.sha256(image_id.encode()).digest()[:8], "big", signed=True)


def images_columns(start: int, rows: int) -> dict:
    """Every column but ``bytes`` of rows [start, start+rows), vectorised."""
    idx = np.arange(start, start + rows, dtype=np.int64)
    ids = np.char.add("img", np.char.zfill(idx.astype("U12"), 12)).astype(object)
    phash = np.fromiter((_phash(s) for s in ids), dtype=np.int64, count=rows)
    fmts = np.array(["png", "webp", "jpeg"], dtype=object)[idx % 3]
    wh = np.where(idx % 5 == 0, 64, 32).astype(np.int32)
    captions = np.char.add("caption for ", ids.astype("U15")).astype(object)
    return {"idx": idx, "image_id": ids, "w": wh, "h": wh, "fmt": fmts,
            "caption": captions, "phash": phash}


def ensure_images(cache: str, seed: int, rows: int) -> tuple[str, dict]:
    """-> (parquet dir, numpy columns) of the seed's image window."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mapnik_vector_tile_spark.sources import images as IMG

    start = seed * rows
    cols = images_columns(start, rows)
    key = _source_hash(IMG.generate_images_pandas, _phash, images_columns, ensure_images)
    path = os.path.join(cache, f"images_s{seed}_n{rows}_{key}")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path, cols
    pool = pa.array(_pool_bytes(cache), pa.binary())
    _check_against_engine(cols, pool, start)
    # rows are stored grouped by their pool image, so zstd folds the
    # repeated image bytes; no workload depends on the stored row order
    order = np.argsort(cols["idx"] % POOL, kind="stable")
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    schema = pa.schema([("image_id", pa.string()), ("bytes", pa.binary()), ("w", pa.int32()),
                        ("h", pa.int32()), ("fmt", pa.string()), ("caption", pa.string()),
                        ("phash", pa.int64())])
    with pq.ParquetWriter(os.path.join(tmp, "part-00000.parquet"), schema,
                          compression="zstd") as writer:
        for lo in range(0, rows, 1 << 14):  # row groups small enough to split 4 ways
            sel = order[lo:lo + (1 << 14)]
            writer.write_table(pa.table({
                "image_id": pa.array(cols["image_id"][sel], pa.string()),
                "bytes": pool.take(pa.array(cols["idx"][sel] % POOL)),
                "w": pa.array(cols["w"][sel], pa.int32()),
                "h": pa.array(cols["h"][sel], pa.int32()),
                "fmt": pa.array(cols["fmt"][sel], pa.string()),
                "caption": pa.array(cols["caption"][sel], pa.string()),
                "phash": pa.array(cols["phash"][sel], pa.int64()),
            }, schema=schema))
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return path, cols


def _check_against_engine(cols: dict, pool: list, start: int, n: int = 48) -> None:
    """The fast path must reproduce generate_images_pandas row for row."""
    from mapnik_vector_tile_spark.sources import images as IMG

    ref = IMG.generate_images_pandas(n, start=start)
    for j in range(n):
        got = (cols["image_id"][j], pool[(start + j) % POOL].as_py(), int(cols["w"][j]),
               int(cols["h"][j]), cols["fmt"][j], cols["caption"][j], int(cols["phash"][j]))
        want = tuple(ref.iloc[j][["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]])
        want = (want[0], bytes(want[1]), int(want[2]), int(want[3]), want[4], want[5], int(want[6]))
        if got != want:
            raise RuntimeError(f"image generator mismatch at row {start + j}")


def geom_wkts(start: int, rows: int) -> tuple[list, list]:
    """-> (gids, WKT) for geometry ids [start, start+rows): the bench.py
    geom_tiles generator (even ids are 3-point lines, odd ids squares,
    every tenth id 75x larger so it spans tiles)."""
    gids, wkts = [], []
    for i in range(start, start + rows):
        cx = -HALF * 0.9 + (i * 2654435761 % 2**32) / 2**32 * HALF * 1.8
        cy = -HALF * 0.6 + (i * 2246822519 % 2**32) / 2**32 * HALF * 1.2
        s = HALF / 64 * (0.02 if i % 10 else 1.5)
        if i % 2 == 0:
            wkt = f"LINESTRING({cx} {cy},{cx + s} {cy + s},{cx + 2 * s} {cy})"
        else:
            wkt = (f"POLYGON(({cx} {cy},{cx + s} {cy},{cx + s} {cy + s},"
                   f"{cx} {cy + s},{cx} {cy}))")
        gids.append(f"g{i:09d}")
        wkts.append(wkt)
    return gids, wkts


def ensure_geoms(cache: str, seed: int, rows: int) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(cache, f"geoms_s{seed}_n{rows}_{_source_hash(geom_wkts)}")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    gids, wkts = geom_wkts(seed * rows, rows)
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    pq.write_table(pa.table({"gid": pa.array(gids, pa.string()),
                             "geom_wkt": pa.array(wkts, pa.string())}),
                   os.path.join(tmp, "part-00000.parquet"), row_group_size=1 << 15)
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return path
