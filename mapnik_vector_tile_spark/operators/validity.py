"""Tile validity checker (K12 — src/vector_tile_is_valid.hpp:19-377).

Round 2 implements the reference's FULL 25-code validity enum as a
wire-level walk (tag multiplicity, unknown tags, value variants), plus
the deeper structural checks the reference leaves to its decoders
(tag index bounds, geometry command-stream validity) under this
engine's own codes. One row per finding (empty result = valid), plus
per-tile feature-type counters (A5, is_valid.hpp:122-237).

Reference parity map (vector_tile_is_valid.hpp:19-46):
  tile:    TILE_REPEATED_LAYER_NAMES, TILE_HAS_UNKNOWN_TAG,
           TILE_HAS_DIFFERENT_VERSIONS, INVALID_PBF_BUFFER
  layer:   LAYER_HAS_NO_NAME, LAYER_HAS_MULTIPLE_NAME,
           LAYER_HAS_NO_EXTENT, LAYER_HAS_MULTIPLE_EXTENT,
           LAYER_HAS_MULTIPLE_VERSION, LAYER_HAS_NO_FEATURES,
           LAYER_HAS_UNSUPPORTED_VERSION, LAYER_HAS_RASTER_AND_VECTOR,
           LAYER_HAS_UNKNOWN_TAG
  value:   VALUE_MULTIPLE_VALUES, VALUE_NO_VALUE, VALUE_HAS_UNKNOWN_TAG
  feature: FEATURE_IS_EMPTY, FEATURE_MULTIPLE_ID, FEATURE_MULTIPLE_TAGS,
           FEATURE_MULTIPLE_GEOM, FEATURE_MULTIPLE_RASTER,
           FEATURE_RASTER_AND_GEOM, FEATURE_NO_GEOM_TYPE,
           FEATURE_HAS_INVALID_GEOM_TYPE, FEATURE_HAS_UNKNOWN_TAG
  engine extras (beyond the enum): TILE_DECOMPRESS_ERROR,
           FEATURE_ODD_TAG_COUNT, FEATURE_TAG_KEY_OOB,
           FEATURE_TAG_VALUE_OOB, FEATURE_GEOMETRY_INVALID
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

from mapnik_vector_tile_spark.functions import commands as Cmd
from mapnik_vector_tile_spark.functions import compression as Z
from mapnik_vector_tile_spark.functions import pbf

VALIDITY_SCHEMA = (
    "z int, x long, y long, layer string, feature_id long, code string, detail string"
)
STATS_SCHEMA = (
    "z int, x long, y long, layer string, n_point int, n_linestring int, "
    "n_polygon int, n_unknown int, n_raster int, n_features int, "
    "n_keys int, n_values int, version int, extent int"
)


def value_is_valid(data: bytes) -> set[str]:
    """value_is_valid (is_valid.hpp:239-270)."""
    errors: set[str] = set()
    has_value = False
    pos = 0
    while pos < len(data):
        t, pos = pbf.read_varint(data, pos)
        field, wire = t >> 3, t & 7
        if 1 <= field <= 7:
            if has_value:
                errors.add("VALUE_MULTIPLE_VALUES")
            has_value = True
        else:
            errors.add("VALUE_HAS_UNKNOWN_TAG")
        pos = pbf.skip_field(data, pos, wire)
    if not has_value:
        errors.add("VALUE_NO_VALUE")
    return errors


def feature_is_valid(data: bytes, counters: dict) -> set[str]:
    """feature_is_valid (is_valid.hpp:122-220): tag multiplicity,
    unknown tags, type counting, raster/geometry exclusivity."""
    errors: set[str] = set()
    has_geom = has_raster = has_type = has_id = has_tags = False
    pos = 0
    while pos < len(data):
        t, pos = pbf.read_varint(data, pos)
        field, wire = t >> 3, t & 7
        if field == 1:
            if has_id:
                errors.add("FEATURE_MULTIPLE_ID")
            has_id = True
            pos = pbf.skip_field(data, pos, wire)
        elif field == 2:
            if has_tags:
                errors.add("FEATURE_MULTIPLE_TAGS")
            has_tags = True
            pos = pbf.skip_field(data, pos, wire)
        elif field == 3:
            gtype, pos = pbf.read_varint(data, pos)
            if gtype == Cmd.POINT:
                counters["pt"] += 1
            elif gtype == Cmd.LINESTRING:
                counters["ln"] += 1
            elif gtype == Cmd.POLYGON:
                counters["pg"] += 1
            elif gtype == 0:  # UNKNOWN
                counters["uk"] += 1
            else:
                errors.add("FEATURE_HAS_INVALID_GEOM_TYPE")
            has_type = True
        elif field == 4:
            if has_geom:
                errors.add("FEATURE_MULTIPLE_GEOM")
            if has_raster:
                errors.add("FEATURE_RASTER_AND_GEOM")
            has_geom = True
            pos = pbf.skip_field(data, pos, wire)
        elif field == 5:
            if has_geom:
                errors.add("FEATURE_RASTER_AND_GEOM")
            if has_raster:
                errors.add("FEATURE_MULTIPLE_RASTER")
            has_raster = True
            counters["ra"] += 1
            pos = pbf.skip_field(data, pos, wire)
        else:
            errors.add("FEATURE_HAS_UNKNOWN_TAG")
            pos = pbf.skip_field(data, pos, wire)
    if not has_geom and not has_raster:
        errors.add("FEATURE_IS_EMPTY")
    if has_geom and not has_type:
        errors.add("FEATURE_NO_GEOM_TYPE")
    return errors


def _layer_walk(data: bytes):
    """layer_is_valid wire walk (is_valid.hpp:272-360) + the material
    the deeper checks need. -> (errors, meta dict)."""
    errors: set[str] = set()
    meta = {
        "name": None, "version": 1, "extent": 4096,
        "n_keys": 0, "n_values": 0, "features": [],
        "counters": {"pt": 0, "ln": 0, "pg": 0, "uk": 0, "ra": 0},
        "has_version": False,
    }
    has_name = has_extent = has_version = False
    pos = 0
    try:
        while pos < len(data):
            t, pos = pbf.read_varint(data, pos)
            field, wire = t >> 3, t & 7
            if field == 1 and wire == pbf.WT_LEN:
                if has_name:
                    errors.add("LAYER_HAS_MULTIPLE_NAME")
                has_name = True
                ln, pos = pbf.read_varint(data, pos)
                meta["name"] = data[pos : pos + ln].decode("utf-8", "replace")
                pos += ln
            elif field == 2 and wire == pbf.WT_LEN:
                ln, pos = pbf.read_varint(data, pos)
                fmsg = data[pos : pos + ln]
                pos += ln
                meta["features"].append(fmsg)
                errors |= feature_is_valid(fmsg, meta["counters"])
            elif field == 3 and wire == pbf.WT_LEN:
                meta["n_keys"] += 1
                pos = pbf.skip_field(data, pos, wire)
            elif field == 4 and wire == pbf.WT_LEN:
                meta["n_values"] += 1
                ln, pos = pbf.read_varint(data, pos)
                errors |= value_is_valid(data[pos : pos + ln])
                pos += ln
            elif field == 5 and wire == pbf.WT_VARINT:
                if has_extent:
                    errors.add("LAYER_HAS_MULTIPLE_EXTENT")
                has_extent = True
                meta["extent"], pos = pbf.read_varint(data, pos)
            elif field == 15 and wire == pbf.WT_VARINT:
                if has_version:
                    errors.add("LAYER_HAS_MULTIPLE_VERSION")
                has_version = True
                meta["version"], pos = pbf.read_varint(data, pos)
                meta["has_version"] = True
            else:
                errors.add("LAYER_HAS_UNKNOWN_TAG")
                pos = pbf.skip_field(data, pos, wire)
    except Exception:
        errors.add("INVALID_PBF_BUFFER")
    if not has_name:
        errors.add("LAYER_HAS_NO_NAME")
    if not has_extent:
        errors.add("LAYER_HAS_NO_EXTENT")
    if not meta["features"]:
        errors.add("LAYER_HAS_NO_FEATURES")
    if meta["version"] not in (1, 2):
        errors.add("LAYER_HAS_UNSUPPORTED_VERSION")
    c = meta["counters"]
    if c["ra"] > 0 and (c["pt"] + c["ln"] + c["pg"]) > 0:
        errors.add("LAYER_HAS_RASTER_AND_VECTOR")
    return errors, meta


def validate_tile(z: int, x: int, y: int, tile: bytes) -> tuple[list, list]:
    """-> (findings, stats) rows for one tile."""
    findings: list[tuple] = []
    stats: list[tuple] = []
    if not tile:
        return findings, stats
    try:
        data = Z.decompress(bytes(tile))
    except Exception as exc:
        return [(z, x, y, None, None, "TILE_DECOMPRESS_ERROR", str(exc)[:100])], stats

    # tile-level wire walk (load_tile.hpp:53-137 checks)
    layers: list[bytes] = []
    pos = 0
    try:
        while pos < len(data):
            t, pos = pbf.read_varint(data, pos)
            field, wire = t >> 3, t & 7
            if field == 3 and wire == pbf.WT_LEN:
                ln, pos = pbf.read_varint(data, pos)
                layers.append(data[pos : pos + ln])
                pos += ln
            else:
                findings.append((z, x, y, None, None, "TILE_HAS_UNKNOWN_TAG", str(field)))
                pos = pbf.skip_field(data, pos, wire)
    except Exception as exc:
        return findings + [(z, x, y, None, None, "INVALID_PBF_BUFFER", str(exc)[:100])], stats

    seen_names: set = set()
    versions: set = set()
    for layer_bytes in layers:
        errors, meta = _layer_walk(bytes(layer_bytes))
        name = meta["name"]
        if name is not None:
            if name in seen_names:
                findings.append((z, x, y, name, None, "TILE_REPEATED_LAYER_NAMES", ""))
            seen_names.add(name)
        versions.add(meta["version"])
        for code in sorted(errors):
            findings.append((z, x, y, name, None, code, ""))
        # engine extras: deep per-feature checks beyond the enum
        nkeys, nvals = meta["n_keys"], meta["n_values"]
        c = meta["counters"]
        for fmsg in meta["features"]:
            try:
                feat = pbf.decode_feature(fmsg)
            except Exception as exc:
                findings.append((z, x, y, name, None, "INVALID_PBF_BUFFER", str(exc)[:100]))
                continue
            fid = feat["id"]
            tags = feat["tags"]
            if len(tags) % 2 != 0:
                findings.append((z, x, y, name, fid, "FEATURE_ODD_TAG_COUNT", str(len(tags))))
            for i in range(0, len(tags) - 1, 2):
                if tags[i] >= nkeys:
                    findings.append((z, x, y, name, fid, "FEATURE_TAG_KEY_OOB", str(tags[i])))
                if tags[i + 1] >= nvals:
                    findings.append((z, x, y, name, fid, "FEATURE_TAG_VALUE_OOB", str(tags[i + 1])))
            if len(feat["geometry"]):
                try:
                    Cmd.decode_geometry(feat["geometry"], feat["type"], version=meta["version"])
                except Cmd.DecodeError as exc:
                    findings.append(
                        (z, x, y, name, fid, "FEATURE_GEOMETRY_INVALID", str(exc)[:100])
                    )
        stats.append(
            (
                z, x, y, name, c["pt"], c["ln"], c["pg"], c["uk"], c["ra"],
                len(meta["features"]), nkeys, nvals, meta["version"], meta["extent"],
            )
        )
    if len(versions) > 1:
        findings.append((z, x, y, None, None, "TILE_HAS_DIFFERENT_VERSIONS", str(sorted(versions))))
    return findings, stats


def validate_tiles(tiles: DataFrame) -> tuple[DataFrame, DataFrame]:
    """-> (findings_df, stats_df) over a tile DataFrame."""

    def run(iterator, idx):
        for pdf in iterator:
            out = []
            for z, x, y, tile in zip(pdf["z"], pdf["x"], pdf["y"], pdf["tile"]):
                res = validate_tile(int(z), int(x), int(y), tile)
                out.extend(res[idx])
            if out:
                cols = (
                    ["z", "x", "y", "layer", "feature_id", "code", "detail"]
                    if idx == 0
                    else [
                        "z", "x", "y", "layer", "n_point", "n_linestring", "n_polygon",
                        "n_unknown", "n_raster", "n_features", "n_keys", "n_values",
                        "version", "extent",
                    ]
                )
                yield pd.DataFrame(out, columns=cols)

    slim = tiles.select("z", "x", "y", "tile")
    findings = slim.mapInPandas(lambda it: run(it, 0), schema=VALIDITY_SCHEMA)
    stats = slim.mapInPandas(lambda it: run(it, 1), schema=STATS_SCHEMA)
    return findings, stats
