"""Geometry kernels (pure numpy — no shapely in this environment).

Reproduces, from behaviour not code, the reference's per-feature
geometry pipeline in int64 tile space
(src/vector_tile_processor.ipp:41-177):

    transform+quantize (vector_tile_strategy, std::round semantics)
      -> optional Douglas-Peucker simplify (vector_tile_douglas_peucker.hpp)
      -> box clip + ring normalization (vector_tile_geometry_clipper.hpp)

Geometry interchange: a ("kind", payload) pair
    ("point", (2,) float/int array)
    ("multipoint", (N,2))
    ("linestring", (N,2))
    ("multilinestring", [ (N,2), ... ])
    ("polygon", [ ring0, ring1, ... ])          # ring = (N,2)
    ("multipolygon", [ [rings...], ... ])
    ("empty", None)

All batch entry points loop per feature in Python with numpy inner
math — the same cost shape shapely would give (C loop per geometry).
"""

from __future__ import annotations

import re

import numpy as np

HI_RANGE = 0x3FFFFFFFFFFFFFFF
COORD_MAX = float(HI_RANGE)
COORD_MIN = -COORD_MAX


# ---------------------------------------------------------------------------
# WKT (tests speak WKT; the pipeline speaks arrays)
# ---------------------------------------------------------------------------

_NUM = r"[-+0-9.eE]+"


def _fmt(v: float) -> str:
    s = format(float(v), ".10g")
    return s


def _fmt_pt(pt) -> str:
    return f"{_fmt(pt[0])} {_fmt(pt[1])}"


def _fmt_seq(arr) -> str:
    # one flat pass over Python floats (tolist) — the layered
    # _fmt/_fmt_pt generators dominated dense-tile WKT output
    a = np.asarray(arr, dtype=np.float64)
    return ",".join(f"{x:.10g} {y:.10g}" for x, y in a.tolist())


def to_wkt(geom) -> str:
    kind, val = geom
    if kind == "empty" or val is None:
        return "GEOMETRYCOLLECTION EMPTY"
    if kind == "point":
        return f"POINT({_fmt_pt(val)})"
    if kind == "multipoint":
        return f"MULTIPOINT({_fmt_seq(val)})"
    if kind == "linestring":
        return f"LINESTRING({_fmt_seq(val)})"
    if kind == "multilinestring":
        return "MULTILINESTRING(" + ",".join(f"({_fmt_seq(l)})" for l in val) + ")"
    if kind == "polygon":
        return "POLYGON(" + ",".join(f"({_fmt_seq(r)})" for r in val) + ")"
    if kind == "multipolygon":
        return (
            "MULTIPOLYGON("
            + ",".join("(" + ",".join(f"({_fmt_seq(r)})" for r in poly) + ")" for poly in val)
            + ")"
        )
    if kind == "geometrycollection":
        return "GEOMETRYCOLLECTION(" + ",".join(to_wkt(g) for g in val) + ")"
    raise ValueError(kind)


def _flat_rings(kind, val):
    """(kind, val) -> (list of (n,2) ring arrays, structure key).
    The structure key identifies the WKT skeleton (type + per-ring
    vertex counts) so to_wkt_batch can cache one %-template per shape."""
    if kind == "point":
        return [np.asarray(val, dtype=np.float64).reshape(1, 2)], ("P",)
    if kind == "multipoint":
        a = np.asarray(val, dtype=np.float64).reshape(-1, 2)
        return [a], ("MP", len(a))
    if kind == "linestring":
        a = np.asarray(val, dtype=np.float64).reshape(-1, 2)
        return [a], ("L", len(a))
    if kind == "multilinestring":
        rings = [np.asarray(r, dtype=np.float64).reshape(-1, 2) for r in val]
        return rings, ("ML", tuple(len(r) for r in rings))
    if kind == "polygon":
        rings = [np.asarray(r, dtype=np.float64).reshape(-1, 2) for r in val]
        return rings, ("PG", tuple(len(r) for r in rings))
    # multipolygon
    rings = [np.asarray(r, dtype=np.float64).reshape(-1, 2)
             for poly in val for r in poly]
    return rings, ("MPG", tuple(tuple(len(r) for r in poly) for poly in val))


def _wkt_template(key) -> str:
    """Structure key -> %-format WKT skeleton (same .10g rendering as
    to_wkt; the '%' runs ONCE over a whole batch's coordinates)."""
    tag = key[0]
    seq = lambda n: ",".join(["%.10g %.10g"] * n)  # noqa: E731
    if tag == "P":
        return "POINT(%.10g %.10g)"
    if tag == "MP":
        return f"MULTIPOINT({seq(key[1])})"
    if tag == "L":
        return f"LINESTRING({seq(key[1])})"
    if tag == "ML":
        return "MULTILINESTRING(" + ",".join(f"({seq(n)})" for n in key[1]) + ")"
    if tag == "PG":
        return "POLYGON(" + ",".join(f"({seq(n)})" for n in key[1]) + ")"
    return (
        "MULTIPOLYGON("
        + ",".join(
            "(" + ",".join(f"({seq(n)})" for n in poly) + ")" for poly in key[1]
        )
        + ")"
    )


def to_wkt_batch(geoms: list) -> list:
    """Batch to_wkt: identical strings, one C-level %-format pass over
    ALL coordinates instead of a per-point f-string (the dense
    small-polygon tile spent ~half its decode wall in float formatting).
    Templates are cached per structure, so a tile of uniform features
    costs one template build total."""
    out: list = [None] * len(geoms)
    tcache: dict = {}
    templates: list[str] = []
    coord_parts: list[np.ndarray] = []
    idxs: list[int] = []
    for i, geom in enumerate(geoms):
        kind, val = geom
        if kind == "empty" or val is None:
            out[i] = "GEOMETRYCOLLECTION EMPTY"
            continue
        if kind == "geometrycollection":
            out[i] = to_wkt(geom)  # rare; recursive scalar path
            continue
        rings, key = _flat_rings(kind, val)
        tpl = tcache.get(key)
        if tpl is None:
            tpl = tcache[key] = _wkt_template(key)
        templates.append(tpl)
        coord_parts.append(rings[0] if len(rings) == 1 else np.vstack(rings))
        idxs.append(i)
    if not idxs:
        return out
    flat = (
        coord_parts[0]
        if len(coord_parts) == 1
        else np.vstack(coord_parts)
    ).astype(np.float64, copy=False)
    rendered = ("\x00".join(templates)) % tuple(flat.ravel().tolist())
    for i, s in zip(idxs, rendered.split("\x00")):
        out[i] = s
    return out


def _packed_key(kind: str, off: list, ext) -> tuple:
    """Structure key (as in _flat_rings) of a packed geometry: a polygon
    starts at the first ring and at every later exterior, as in
    gpack_from_packed; a single part is a POINT / LINESTRING / POLYGON."""
    if kind == "multipoint":
        return ("P",) if off[-1] == 1 else ("MP", off[-1])
    lens = [b - a for a, b in zip(off, off[1:])]
    if kind == "multilinestring":
        return ("L", lens[0]) if len(lens) == 1 else ("ML", tuple(lens))
    polys: list[list[int]] = []
    for n, e in zip(lens, ext):
        if e or not polys:
            polys.append([n])
        else:
            polys[-1].append(n)
    if len(polys) == 1:
        return ("PG", tuple(polys[0]))
    return ("MPG", tuple(tuple(p) for p in polys))


def wkt_from_packed(packs: list) -> list:
    """Packed ragged geometries ({kind, xs, ys, offsets[, exterior]}, or
    None) -> WKT strings (None stays None), the same text to_wkt writes
    for the tuple form. Templates are cached on the raw offsets and
    exterior bytes, so a tile of same-shaped features builds one
    template, and every coordinate renders in ONE C-level %-format
    pass."""
    out: list = [None] * len(packs)
    tcache: dict = {}
    templates: list[str] = []
    xs_parts: list = []
    ys_parts: list = []
    idxs: list[int] = []
    for i, pk in enumerate(packs):
        if pk is None:
            continue
        kind = pk["kind"]
        off = pk["offsets"]
        ext = pk.get("exterior") if kind == "multipolygon" else None
        raw = (kind, off.tobytes(), None if ext is None else ext.tobytes())
        tpl = tcache.get(raw)
        if tpl is None:
            key = _packed_key(kind, off.tolist(), None if ext is None else ext.tolist())
            tpl = tcache[raw] = _wkt_template(key)
        templates.append(tpl)
        xs_parts.append(pk["xs"])
        ys_parts.append(pk["ys"])
        idxs.append(i)
    if not idxs:
        return out
    flat = np.empty((sum(len(v) for v in xs_parts), 2), dtype=np.float64)
    flat[:, 0] = np.concatenate(xs_parts)
    flat[:, 1] = np.concatenate(ys_parts)
    rendered = ("\x00".join(templates)) % tuple(flat.ravel().tolist())
    for i, s in zip(idxs, rendered.split("\x00")):
        out[i] = s
    return out


def gpack_from_packed(kind: str, xs, ys, offsets, exterior=None):
    """Packed ragged decode form (flat xs/ys + part offsets [+ exterior
    flags]) -> (gpack bytes, mercator envelope), with NO per-part Python
    objects: the decode->re-encode path (composite slow path / pyramid
    re-tiling) hands geometry between stages as two array copies."""
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    offsets = np.asarray(offsets, dtype=np.int64)
    nr = len(offsets) - 1
    counts = np.diff(offsets)
    if kind == "multipolygon":
        ext = np.asarray(exterior, dtype=bool)
        parts = np.maximum(np.cumsum(ext) - 1, 0)
    elif kind == "multilinestring":
        parts = np.arange(nr, dtype=np.int64)
    else:  # multipoint (single part)
        parts = np.zeros(nr, dtype=np.int64)
    # single-pass build: header + interleaved coords written straight
    # into one preallocated buffer (a 676k-point feature pays ONE
    # unaligned vectorized store, not interleave-then-copy); returned as
    # bytearray — every consumer (gunpack, Arrow binary columns) takes
    # bytes-like
    n_pts = len(xs)
    hlen = 1 + 4 * (1 + 2 * nr)
    buf = bytearray(hlen + 16 * n_pts)
    buf[0] = _GP_CODE[kind]
    head = np.frombuffer(memoryview(buf), dtype=np.uint32, count=1 + 2 * nr, offset=1)
    head[0] = nr
    head[1 : 1 + nr] = counts
    head[1 + nr :] = parts
    coords = np.frombuffer(
        memoryview(buf), dtype=np.float64, count=2 * n_pts, offset=hlen
    ).reshape(-1, 2)
    coords[:, 0] = xs
    coords[:, 1] = ys
    env = (float(xs.min()), float(ys.min()), float(xs.max()), float(ys.max()))
    return buf, env


def _parse_seq(s: str) -> np.ndarray:
    pts = []
    for tok in s.split(","):
        xy = tok.strip().split()
        pts.append((float(xy[0]), float(xy[1])))
    return np.array(pts, dtype=np.float64)


def _split_groups(s: str) -> list[str]:
    """Split 'a,b),(c,d' style top-level paren groups."""
    groups, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        if ch == "(":
            if depth == 0:
                start = i + 1
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                groups.append(s[start:i])
    return groups


def _split_top_level(s: str) -> list[str]:
    """Split on commas at paren depth 0 (GEOMETRYCOLLECTION elements)."""
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(s[start:i])
            start = i + 1
    parts.append(s[start:])
    return [p.strip() for p in parts if p.strip()]


def from_wkt(wkt: str):
    w = wkt.strip()
    m = re.match(r"([A-Z ]+?)\s*(\(.*\)|EMPTY)$", w, re.I)
    if not m:
        raise ValueError(f"bad WKT: {wkt!r}")
    tag = m.group(1).strip().upper()
    body = m.group(2)
    if body == "EMPTY":
        return ("empty", None)
    inner = body[1:-1]
    if tag == "GEOMETRYCOLLECTION":
        return ("geometrycollection", [from_wkt(e) for e in _split_top_level(inner)])
    if tag == "POINT":
        return ("point", _parse_seq(inner)[0])
    if tag == "MULTIPOINT":
        if "(" in inner:
            return ("multipoint", np.vstack([_parse_seq(g) for g in _split_groups(inner)]))
        return ("multipoint", _parse_seq(inner))
    if tag == "LINESTRING":
        return ("linestring", _parse_seq(inner))
    if tag == "MULTILINESTRING":
        return ("multilinestring", [_parse_seq(g) for g in _split_groups(inner)])
    if tag == "POLYGON":
        return ("polygon", [_parse_seq(g) for g in _split_groups(inner)])
    if tag == "MULTIPOLYGON":
        polys = []
        depth, start = 0, 0
        for i, ch in enumerate(inner):
            if ch == "(":
                if depth == 0:
                    start = i
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0:
                    polys.append([_parse_seq(g) for g in _split_groups(inner[start + 1 : i])])
        return ("multipolygon", polys)
    raise ValueError(f"unsupported WKT type {tag}")


def _split_rings_fast(inner: str) -> list[str]:
    """'(r1),(r2)' -> ring substrings via C-level str.split when the
    separators are exactly '),(' (this engine's writer and most WKT);
    any other spelling falls back to the char-walk splitter."""
    if inner and inner[0] == "(" and inner[-1] == ")":
        gs = inner[1:-1].split("),(")
        if all("(" not in g and ")" not in g for g in gs):
            return gs
    return _split_groups(inner)


def from_wkt_batch(wkts, return_flat: bool = False):
    """Batch from_wkt: identical tuples, but ALL numeric tokens of the
    batch parse in ONE numpy C-level pass instead of a Python float()
    per token — the WKT-input reprojection lane spent ~55% of its time
    tokenizing (BENCH.md r4). Structure (tags, ring splits) still walks
    per row; every coordinate array is a VIEW into one batch array.

    return_flat=True additionally returns (geoms, flat, spans): the
    (N,2) batch coordinate array (writing into it updates every tuple)
    and per-row [start, end) spans into it, -1 for rows whose coords are
    not in the array (EMPTY and geometry collections, which take the
    scalar path). Spans are contiguous and ordered — reduceat-friendly."""
    n = len(wkts)
    out: list = [None] * n
    ring_txt: list[str] = []          # ring substrings, batch order
    metas: list[tuple] = []           # (row, kind, ring-structure)

    for i, wkt in enumerate(wkts):
        w = wkt.strip()
        m = re.match(r"([A-Z ]+?)\s*(\(.*\)|EMPTY)$", w, re.I)
        if not m:
            raise ValueError(f"bad WKT: {wkt!r}")
        tag = m.group(1).strip().upper()
        body = m.group(2)
        if body == "EMPTY":
            out[i] = ("empty", None)
            continue
        inner = body[1:-1]
        if tag == "GEOMETRYCOLLECTION":
            out[i] = from_wkt(w)  # rare: scalar recursive path
            continue
        if tag == "POINT":
            ring_txt.append(inner)
            metas.append((i, "point", 1))
        elif tag == "MULTIPOINT":
            if "(" in inner:  # ((x y),(x y)) form: k singles, contiguous
                groups = _split_rings_fast(inner)
                ring_txt.extend(groups)
                metas.append((i, "multipoint", len(groups)))
            else:
                ring_txt.append(inner)
                metas.append((i, "multipoint", inner.count(",") + 1))
        elif tag == "LINESTRING":
            ring_txt.append(inner)
            metas.append((i, "linestring", inner.count(",") + 1))
        elif tag in ("MULTILINESTRING", "POLYGON"):
            groups = _split_rings_fast(inner)
            ring_txt.extend(groups)
            metas.append(
                (i, tag.lower(), [g.count(",") + 1 for g in groups])
            )
        elif tag == "MULTIPOLYGON":
            polys: list[list[int]] = []
            depth, start = 0, 0
            for j, ch in enumerate(inner):
                if ch == "(":
                    if depth == 0:
                        start = j
                    depth += 1
                elif ch == ")":
                    depth -= 1
                    if depth == 0:
                        groups = _split_rings_fast(inner[start + 1 : j])
                        ring_txt.extend(groups)
                        polys.append([g.count(",") + 1 for g in groups])
            metas.append((i, "multipolygon", polys))
        else:
            raise ValueError(f"unsupported WKT type {tag}")

    # expected point count from the recorded ring structure — detects
    # XYZ/XYM tokens (ADVICE r5: scalar from_wkt drops extra ordinates;
    # the batch path must not reject them)
    expected = 0
    for _i, kind, st in metas:
        if kind == "point":
            expected += 1
        elif kind in ("multipoint", "linestring"):
            expected += st
        elif kind in ("multilinestring", "polygon"):
            expected += sum(st)
        else:
            expected += sum(sum(p) for p in st)

    if ring_txt:
        toks = " ".join(ring_txt).replace(",", " ").split()
        flat = np.array(toks, dtype=np.float64)
        if len(flat) == 2 * expected:
            coords = flat.reshape(-1, 2)
        elif (
            expected and len(flat) % expected == 0
            and len(flat) // expected in (3, 4)
            # r6 advisor: a MIXED-dimension batch can alias to 3x/4x the
            # point count (e.g. one XY point + one XYZM point totals 6
            # tokens for 2 points); verify uniformity per ring — every
            # ring's token count must equal dims * its point count —
            # before taking the reshape lane
            and all(
                len(g.replace(",", " ").split())
                == (len(flat) // expected) * (g.count(",") + 1)
                for g in ring_txt
            )
        ):
            # uniform XYZ / XYZM batch: keep x,y per coordinate group,
            # matching _parse_seq; contiguous copy keeps reduceat lanes fast
            coords = np.ascontiguousarray(
                flat.reshape(-1, len(flat) // expected)[:, :2]
            )
        else:
            # mixed-dimension batch: rebuild through the scalar parser so
            # one 3D row doesn't fail the whole partition
            return _from_wkt_batch_scalar(wkts, return_flat)
    else:
        coords = np.empty((0, 2), dtype=np.float64)

    pos = 0
    spans = np.full((n, 2), -1, dtype=np.int64) if return_flat else None

    def take(c: int) -> np.ndarray:
        nonlocal pos
        a = coords[pos : pos + c]
        pos += c
        return a

    for i, kind, st in metas:
        row_start = pos
        if kind == "point":
            out[i] = ("point", take(1)[0])
        elif kind in ("multipoint", "linestring"):
            out[i] = (kind, take(st))
        elif kind in ("multilinestring", "polygon"):
            out[i] = (kind, [take(c) for c in st])
        else:  # multipolygon
            out[i] = (kind, [[take(c) for c in poly] for poly in st])
        if return_flat:
            spans[i] = (row_start, pos)
    if pos != len(coords):
        raise ValueError("WKT batch structure/token mismatch")
    if return_flat:
        return out, coords, spans
    return out


def _from_wkt_batch_scalar(wkts, return_flat: bool):
    """Slow-lane from_wkt_batch: per-row scalar parse, then (for
    return_flat) rebuild the (flat, spans) contract with every tuple's
    coordinates re-wrapped as VIEWS into one contiguous array, so the
    in-place reprojection lane works identically to the fast path."""
    n = len(wkts)
    geoms = [from_wkt(w) for w in wkts]
    if not return_flat:
        return geoms
    chunks: list[np.ndarray] = []
    sizes: list = []
    for kind, val in geoms:
        if kind in ("empty", "geometrycollection"):
            sizes.append(None)
            continue
        rings, _ = _gp_simple_parts(kind, val)
        sizes.append([len(r) for r in rings])
        chunks.extend(rings)
    flat = (
        np.concatenate(chunks).reshape(-1, 2)
        if chunks else np.empty((0, 2), dtype=np.float64)
    )
    spans = np.full((n, 2), -1, dtype=np.int64)
    pos = 0
    for i, (kind, val) in enumerate(geoms):
        if sizes[i] is None:
            continue
        start = pos
        if kind == "point":
            geoms[i] = ("point", flat[pos])
            pos += 1
        elif kind in ("multipoint", "linestring"):
            c = sizes[i][0]
            geoms[i] = (kind, flat[pos : pos + c])
            pos += c
        elif kind in ("multilinestring", "polygon"):
            rings = []
            for c in sizes[i]:
                rings.append(flat[pos : pos + c])
                pos += c
            geoms[i] = (kind, rings)
        else:  # multipolygon
            polys = []
            for poly in val:
                rebuilt = []
                for r in poly:
                    c = len(r)
                    rebuilt.append(flat[pos : pos + c])
                    pos += c
                polys.append(rebuilt)
            geoms[i] = (kind, polys)
        spans[i] = (start, pos)
    return geoms, flat, spans


# ---------------------------------------------------------------------------
# Compact binary geometry pack (WKT parsed ONCE per pipeline; stages
# downstream read this instead of re-running the regex parser)
# ---------------------------------------------------------------------------

_GP_KINDS = ["empty", "point", "multipoint", "linestring", "multilinestring",
             "polygon", "multipolygon"]
_GP_CODE = {k: i for i, k in enumerate(_GP_KINDS)}
_GP_COLLECTION = 8  # nested-variant tag (r5): tree header, coords at tail


def _gp_simple_parts(kind: str, val):
    """(rings list[(n,2) f64], part ids) of a NON-collection geometry."""
    if kind == "point":
        return [np.asarray(val, dtype=np.float64).reshape(1, 2)], [0]
    if kind in ("multipoint", "linestring"):
        return [np.asarray(val, dtype=np.float64).reshape(-1, 2)], [0]
    if kind in ("multilinestring", "polygon"):
        rings = [np.asarray(r, dtype=np.float64).reshape(-1, 2) for r in val]
        parts = list(range(len(rings))) if kind == "multilinestring" else [0] * len(rings)
        return rings, parts
    # multipolygon
    rings, parts = [], []
    for pi, poly in enumerate(val):
        for r in poly:
            rings.append(np.asarray(r, dtype=np.float64).reshape(-1, 2))
            parts.append(pi)
    return rings, parts


def _gp_tree(geom, rings_out: list) -> bytes:
    """Recursive structure header for the collection layout — coords of
    the whole tree accumulate into rings_out (traversal order) and are
    written once, contiguously, after the header: the reproject lane's
    patch-coords-behind-the-header invariant holds for collections."""
    kind, val = geom
    if kind == "geometrycollection":
        b = bytearray([_GP_COLLECTION])
        b += len(val).to_bytes(4, "little")
        for m in val:
            b += _gp_tree(m, rings_out)
        return bytes(b)
    if kind == "empty" or val is None:
        return bytes([0])
    rings, parts = _gp_simple_parts(kind, val)
    counts = np.array([len(r) for r in rings], dtype=np.uint32)
    head = np.concatenate([[len(rings)], counts, np.asarray(parts, dtype=np.uint32)])
    rings_out.extend(rings)
    return bytes([_GP_CODE[kind]]) + head.astype(np.uint32).tobytes()


def gpack(geom) -> bytes:
    """(kind, val) -> compact bytes: [code u8][ring count u32]
    [per-ring point count u32...][ring->part id u32...][coords f64...].
    Geometry collections (code 8, r5): [8][total pts u32][coords byte
    offset u32][recursive tree][coords f64...] — nested structure in the
    header, every coordinate of the tree contiguous at the tail."""
    kind, val = geom
    if kind == "geometrycollection":
        rings_out: list = []
        tree = _gp_tree(geom, rings_out)
        coords = (
            np.concatenate(rings_out, axis=0)
            if rings_out else np.empty((0, 2), dtype=np.float64)
        )
        coff = 9 + len(tree)
        return (
            bytes([_GP_COLLECTION])
            + len(coords).to_bytes(4, "little")
            + coff.to_bytes(4, "little")
            + tree
            + coords.astype(np.float64).tobytes()
        )
    if kind == "empty" or val is None:
        return bytes([0])
    rings, parts = _gp_simple_parts(kind, val)
    # single-pass build into one preallocated buffer (same layout as
    # gpack_from_packed) — per-row np.concatenate dominated the
    # WKT-ingest lane's pack cost
    nr = len(rings)
    n_pts = sum(len(r) for r in rings)
    hlen = 1 + 4 * (1 + 2 * nr)
    buf = bytearray(hlen + 16 * n_pts)
    buf[0] = _GP_CODE[kind]
    head = np.frombuffer(memoryview(buf), dtype=np.uint32, count=1 + 2 * nr, offset=1)
    head[0] = nr
    head[1 : 1 + nr] = [len(r) for r in rings]
    head[1 + nr :] = parts
    coords = np.frombuffer(
        memoryview(buf), dtype=np.float64, count=2 * n_pts, offset=hlen
    ).reshape(-1, 2)
    if nr == 1:
        coords[:] = rings[0]
    else:
        p = 0
        for r in rings:
            coords[p : p + len(r)] = r
            p += len(r)
    return buf


def _gp_untree(data: bytes, pos: int, coords: np.ndarray, cpos: int):
    """Parse one tree node at pos -> (geom tuple, new pos, new coord pos)."""
    code = data[pos]
    if code == _GP_COLLECTION:
        n = int.from_bytes(data[pos + 1 : pos + 5], "little")
        pos += 5
        members = []
        for _ in range(n):
            g, pos, cpos = _gp_untree(data, pos, coords, cpos)
            members.append(g)
        return ("geometrycollection", members), pos, cpos
    if code == 0:
        return ("empty", None), pos + 1, cpos
    kind = _GP_KINDS[code]
    nr = int.from_bytes(data[pos + 1 : pos + 5], "little")
    counts = np.frombuffer(data, dtype=np.uint32, count=nr, offset=pos + 5).astype(np.int64)
    parts = np.frombuffer(data, dtype=np.uint32, count=nr, offset=pos + 5 + 4 * nr)
    pos += 5 + 8 * nr
    rings = []
    for c in counts.tolist():
        rings.append(coords[cpos : cpos + c])
        cpos += c
    if kind == "point":
        return (kind, rings[0][0]), pos, cpos
    if kind in ("multipoint", "linestring"):
        return (kind, rings[0]), pos, cpos
    if kind in ("multilinestring", "polygon"):
        return (kind, rings), pos, cpos
    polys: list[list[np.ndarray]] = []
    last = -1
    for r, p in zip(rings, parts):
        if p != last:
            polys.append([])
            last = p
        polys[-1].append(r)
    return (kind, polys), pos, cpos


def gunpack(data: bytes):
    """Inverse of gpack — same tuple shapes as from_wkt."""
    code = data[0]
    if code == _GP_COLLECTION:
        coff = int.from_bytes(data[5:9], "little")
        coords = np.frombuffer(data, dtype=np.float64, offset=coff).reshape(-1, 2)
        geom, _pos, _cpos = _gp_untree(data, 9, coords, 0)
        return geom
    kind = _GP_KINDS[code]
    if code == 0:
        return ("empty", None)
    nr = int.from_bytes(data[1:5], "little")
    if nr == 1:  # single-ring fast path (the dominant tile-feature shape)
        coords = np.frombuffer(data, dtype=np.float64, offset=13).reshape(-1, 2)
        if kind == "point":
            return (kind, coords[0])
        if kind in ("multipoint", "linestring"):
            return (kind, coords)
        if kind in ("multilinestring", "polygon"):
            return (kind, [coords])
        return (kind, [[coords]])  # multipolygon
    counts = np.frombuffer(data, dtype=np.uint32, count=nr, offset=5).astype(np.int64)
    parts = np.frombuffer(data, dtype=np.uint32, count=nr, offset=5 + 4 * nr)
    coords = np.frombuffer(data, dtype=np.float64, offset=5 + 8 * nr).reshape(-1, 2)
    offs = np.concatenate([[0], np.cumsum(counts)])
    rings = [coords[offs[i] : offs[i + 1]] for i in range(nr)]
    if kind == "point":
        return (kind, rings[0][0])
    if kind in ("multipoint", "linestring"):
        return (kind, rings[0])
    if kind in ("multilinestring", "polygon"):
        return (kind, rings)
    polys: list[list[np.ndarray]] = []
    last = -1
    for r, p in zip(rings, parts):
        if p != last:
            polys.append([])
            last = p
        polys[-1].append(r)
    return (kind, polys)


# ---------------------------------------------------------------------------
# Transform + quantization (P2) — src/vector_tile_strategy.hpp:37-67
# ---------------------------------------------------------------------------

def round_half_away(a: np.ndarray) -> np.ndarray:
    """std::round: halfway cases away from zero (numpy rounds half-even)."""
    return np.sign(a) * np.floor(np.abs(a) + 0.5)


class ViewTransform:
    """world bbox -> tile pixel space (y down), like mapnik view_transform."""

    def __init__(self, minx, miny, maxx, maxy, width, height):
        self.minx, self.miny, self.maxx, self.maxy = minx, miny, maxx, maxy
        self.sx = width / (maxx - minx)
        self.sy = height / (maxy - miny)

    def forward(self, coords: np.ndarray) -> np.ndarray:
        c = np.asarray(coords, dtype=np.float64)
        out = np.empty_like(c)
        out[..., 0] = (c[..., 0] - self.minx) * self.sx
        out[..., 1] = (self.maxy - c[..., 1]) * self.sy
        return out


def quantize(coords: np.ndarray, vt: ViewTransform):
    """Transform + std::round + hiRange validity mask
    (src/vector_tile_strategy.hpp:44-56: out-of-range => point dropped)."""
    px = vt.forward(coords)
    px = round_half_away(px)
    ok = (
        (px[..., 0] > COORD_MIN)
        & (px[..., 0] < COORD_MAX)
        & (px[..., 1] > COORD_MIN)
        & (px[..., 1] < COORD_MAX)
    )
    px = np.clip(px, COORD_MIN, COORD_MAX)  # avoid UB cast; mask still drops
    return px.astype(np.int64), ok


def transform_geom(geom, vt: ViewTransform):
    """transform_visitor semantics (src/vector_tile_strategy.hpp:119-293):
    invalid points are dropped from points/lines; a polygon ring with any
    invalid point keeps the valid points (reference drops just the point
    for multi_point; for paths an invalid vertex drops that vertex)."""
    kind, val = geom
    if kind == "empty":
        return geom
    if kind == "point":
        px, ok = quantize(np.asarray(val, dtype=np.float64)[None, :], vt)
        return ("point", px[0]) if ok[0] else ("empty", None)
    if kind == "multipoint":
        px, ok = quantize(val, vt)
        px = px[ok]
        return ("multipoint", px) if len(px) else ("empty", None)
    if kind == "linestring":
        px, ok = quantize(val, vt)
        px = px[ok]
        return ("linestring", px) if len(px) >= 2 else ("empty", None)
    if kind == "multilinestring":
        out = []
        for line in val:
            px, ok = quantize(line, vt)
            px = px[ok]
            if len(px) >= 2:
                out.append(px)
        return ("multilinestring", out) if out else ("empty", None)
    if kind == "polygon":
        rings = []
        for ring in val:
            px, ok = quantize(ring, vt)
            px = px[ok]
            rings.append(px)
        if not rings or len(rings[0]) < 3:
            return ("empty", None)
        return ("polygon", rings)
    if kind == "multipolygon":
        polys = []
        for poly in val:
            rings = []
            for ring in poly:
                px, ok = quantize(ring, vt)
                px = px[ok]
                rings.append(px)
            if rings and len(rings[0]) >= 3:
                polys.append(rings)
        return ("multipolygon", polys) if polys else ("empty", None)
    if kind == "geometrycollection":
        out = [transform_geom(g, vt) for g in val]
        return _collapse_collection(out)
    raise ValueError(kind)


def _geom_px_bbox(tg):
    kind, val = tg
    if kind == "empty" or val is None:
        return None
    if kind == "point":
        x, y = int(val[0]), int(val[1])
        return (x, y, x, y)
    if kind in ("multipoint", "linestring"):
        a = np.asarray(val)
        return (int(a[:, 0].min()), int(a[:, 1].min()),
                int(a[:, 0].max()), int(a[:, 1].max()))
    if kind in ("multilinestring", "polygon"):
        rings = val
    elif kind == "multipolygon":
        rings = [r for poly in val for r in poly]
    else:  # geometrycollection
        boxes = [_geom_px_bbox(g) for g in val]
        boxes = [b for b in boxes if b]
        if not boxes:
            return None
        return (min(b[0] for b in boxes), min(b[1] for b in boxes),
                max(b[2] for b in boxes), max(b[3] for b in boxes))
    lo = [np.inf, np.inf]
    hi = [-np.inf, -np.inf]
    for r in rings:
        a = np.asarray(r)
        if len(a) == 0:
            continue
        lo[0] = min(lo[0], a[:, 0].min())
        lo[1] = min(lo[1], a[:, 1].min())
        hi[0] = max(hi[0], a[:, 0].max())
        hi[1] = max(hi[1], a[:, 1].max())
    if lo[0] is np.inf or lo[0] == np.inf:
        return None
    return (int(lo[0]), int(lo[1]), int(hi[0]), int(hi[1]))


def _clip_polygon_rings_inside(rings, area_threshold, process_all_rings):
    """_clip_polygon_rings minus the SH passes — valid ONLY when every
    point already lies inside the clip box (bbox-proven by the caller):
    orientation normalization, area threshold, dedup, closing strip."""
    out = []
    first = True
    for ring in rings:
        ring = np.asarray(ring, dtype=np.int64)
        if len(ring) < 3:
            if first:
                if process_all_rings:
                    first = False
                    continue
                return None
            continue
        area = ring_area(ring)
        was_first = first
        if first:
            first = False
            if abs(area) < area_threshold and not process_all_rings:
                return None
            r = ring[::-1].copy() if area < 0 else ring
        else:
            if abs(area) < area_threshold:
                continue
            r = ring[::-1].copy() if area > 0 else ring
        if len(r) > 1 and (r[0] == r[-1]).all():
            r = r[:-1]
        r = dedup_consecutive(r)
        if len(r) > 1 and (r[0] == r[-1]).all():
            r = r[:-1]
        if len(r) < 3:
            if was_first and not process_all_rings:
                return None
            continue
        out.append(("ext" if was_first else "int", r))
    return out


def clip_geom_inside(
    geom,
    area_threshold: float = 0.1,
    multi_polygon_union: bool = False,
    process_all_rings: bool = False,
    fill_type: str = "even_odd",
    stats: dict | None = None,
    strictly_simple: bool = False,
):
    """clip_geom for geometry PROVEN inside the clip box (per-feature
    px bbox within the box): the box-clip stages become dedup/threshold
    passes; winding normalization, fill resolution and polygon assembly
    are identical to the clipped path."""
    kind, val = geom
    if kind == "empty":
        return geom
    if kind == "point":
        return geom
    if kind == "multipoint":
        return ("multipoint", dedup_consecutive(val))
    if kind == "linestring":
        pts = dedup_consecutive(np.asarray(val, dtype=np.int64))
        return ("linestring", pts) if len(pts) >= 2 else ("empty", None)
    if kind == "multilinestring":
        pieces = [dedup_consecutive(np.asarray(l, dtype=np.int64)) for l in val]
        pieces = [p for p in pieces if len(p) >= 2]
        if not pieces:
            return ("empty", None)
        return ("linestring", pieces[0]) if len(pieces) == 1 else ("multilinestring", pieces)
    if kind == "polygon":
        if not val or (len(val[0]) < 3 and not process_all_rings):
            return ("empty", None)
        tagged = _clip_polygon_rings_inside(val, area_threshold, process_all_rings)
        if not tagged:
            return ("empty", None)
        polys = _assemble_polygons(tagged, fill_type, stats=stats, strictly_simple=strictly_simple)
        if not polys:
            return ("empty", None)
        return ("polygon", polys[0]) if len(polys) == 1 else ("multipolygon", polys)
    if kind == "multipolygon" and not multi_polygon_union:
        all_polys = []
        for poly in val:
            tagged = _clip_polygon_rings_inside(poly, area_threshold, process_all_rings)
            if tagged:
                all_polys.extend(_assemble_polygons(tagged, fill_type, stats=stats, strictly_simple=strictly_simple))
        if not all_polys:
            return ("empty", None)
        return (
            ("polygon", all_polys[0]) if len(all_polys) == 1 else ("multipolygon", all_polys)
        )
    # unioned multipolygons / collections keep the general path (rare in
    # the fast lane; union semantics involve cross-polygon state)
    return clip_geom(
        geom, (-(2**62), -(2**62), 2**62, 2**62), area_threshold,
        multi_polygon_union, process_all_rings, fill_type, stats=stats,
        strictly_simple=strictly_simple,
    )


def _collapse_collection(elems):
    """Collection post-processing: empties drop; a single survivor
    collapses (matches the decode-side behaviour the reference's
    collection round-trip tests pin, test/system/round_trip.cpp:26-52)."""
    live = [g for g in elems if g[0] != "empty"]
    if not live:
        return ("empty", None)
    if len(live) == 1:
        return live[0]
    return ("geometrycollection", live)


# ---------------------------------------------------------------------------
# Douglas-Peucker (K1/K2) — src/vector_tile_douglas_peucker.hpp
# ---------------------------------------------------------------------------

def douglas_peucker(arr: np.ndarray, max_distance: float) -> np.ndarray:
    """Exact reference semantics (douglas_peucker.hpp:292-324 + consider
    at :77-288): first/last always kept; candidate = farthest point by
    *segment* distance (endpoint-clamped, squared); kept only when
    strictly greater than max_distance^2; first-of-ties wins."""
    src = np.asarray(arr)
    n = len(src)
    if n <= 2:
        return src.copy()
    max_sqrd = float(max_distance) * float(max_distance)
    if n <= 10:
        # fully-scalar small case (no numpy temporaries at all)
        rows = src.tolist()
        xs = [float(p[0]) for p in rows]
        ys = [float(p[1]) for p in rows]

        def d2(b, e, i):
            vx, vy = xs[e] - xs[b], ys[e] - ys[b]
            wx, wy = xs[i] - xs[b], ys[i] - ys[b]
            c1 = wx * vx + wy * vy
            if c1 <= 0.0:
                return wx * wx + wy * wy
            c2 = vx * vx + vy * vy
            if c2 <= c1:
                ux, uy = xs[i] - xs[e], ys[i] - ys[e]
                return ux * ux + uy * uy
            f = c1 / c2
            px_, py_ = wx - f * vx, wy - f * vy
            return px_ * px_ + py_ * py_

        inc = [False] * n
        inc[0] = inc[-1] = True
        stack = [(0, n - 1)]
        while stack:
            b, e = stack.pop()
            if e - b + 1 <= 2:
                continue
            md = max_sqrd
            cand = -1
            for i in range(b + 1, e):
                d = d2(b, e, i)
                if md < d:
                    md = d
                    cand = i
            if cand >= 0:
                inc[cand] = True
                stack.append((b, cand))
                stack.append((cand, e))
        if all(inc):
            return src.copy()
        return src[[i for i, k in enumerate(inc) if k]]

    pts = src.astype(np.float64) if src.dtype != np.float64 else src
    included = np.zeros(n, dtype=bool)
    included[0] = included[-1] = True
    # scalar path for small ranges: numpy per-call overhead dominates at
    # tile-feature sizes (the batch-scale hot loop), exact same math
    xs = pts[:, 0].tolist()
    ys = pts[:, 1].tolist()

    def _seg_dist2(b: int, e: int, i: int) -> float:
        vx, vy = xs[e] - xs[b], ys[e] - ys[b]
        wx, wy = xs[i] - xs[b], ys[i] - ys[b]
        c1 = wx * vx + wy * vy
        if c1 <= 0.0:
            return wx * wx + wy * wy
        c2 = vx * vx + vy * vy
        if c2 <= c1:
            ux, uy = xs[i] - xs[e], ys[i] - ys[e]
            return ux * ux + uy * uy
        f = c1 / c2
        px, py = wx - f * vx, wy - f * vy
        return px * px + py * py

    stack = [(0, n - 1)]
    while stack:
        b, e = stack.pop()
        m = e - b + 1
        if m <= 2:
            continue
        if m <= 10:  # scalar tail: first strictly-greater max wins
            md = max_sqrd
            cand = -1
            for i in range(b + 1, e):
                d = _seg_dist2(b, e, i)
                if md < d:
                    md = d
                    cand = i
            if cand >= 0:
                included[cand] = True
                stack.append((b, cand))
                stack.append((cand, e))
            continue
        begin, last = pts[b], pts[e]
        v = last - begin
        c2 = float(v @ v)
        seg = pts[b + 1 : e]
        w = seg - begin
        c1 = w @ v
        # three-way clamp (consider() scalar tail, douglas_peucker.hpp:248-277)
        d_begin = np.einsum("ij,ij->i", w, w)
        u = seg - last
        d_last = np.einsum("ij,ij->i", u, u)
        b_frac = (c1 / c2) if c2 > 0.0 else np.zeros_like(c1)
        proj = w - b_frac[:, None] * v
        d_perp = np.einsum("ij,ij->i", proj, proj)
        dist = np.where(c1 <= 0, d_begin, np.where(c2 <= c1, d_last, d_perp))
        # strictly-greater update => first max wins (md < dist)
        cand_rel = int(np.argmax(dist))
        md = float(dist[cand_rel])
        if max_sqrd < md:
            cand = b + 1 + cand_rel
            included[cand] = True
            stack.append((b, cand))
            stack.append((cand, e))
    return pts[included].astype(np.asarray(arr).dtype) if np.asarray(arr).dtype != np.float64 else pts[included]


def simplify_geom(geom, simplify_distance: float):
    """geometry_simplifier dispatch (vector_tile_geometry_simplifier.hpp):
    lines <=2 pts and rings <=4 pts pass through; points untouched."""
    if simplify_distance <= 0:
        return geom
    kind, val = geom
    if kind in ("point", "multipoint", "empty"):
        return geom
    if kind == "geometrycollection":
        return _collapse_collection([simplify_geom(g, simplify_distance) for g in val])
    if kind == "linestring":
        return ("linestring", val if len(val) <= 2 else douglas_peucker(val, simplify_distance))
    if kind == "multilinestring":
        return (
            "multilinestring",
            [l if len(l) <= 2 else douglas_peucker(l, simplify_distance) for l in val],
        )
    if kind == "polygon":
        return (
            "polygon",
            [r if len(r) <= 4 else douglas_peucker(r, simplify_distance) for r in val],
        )
    if kind == "multipolygon":
        return (
            "multipolygon",
            [
                [r if len(r) <= 4 else douglas_peucker(r, simplify_distance) for r in poly]
                for poly in val
            ],
        )
    raise ValueError(kind)


# ---------------------------------------------------------------------------
# Areas / winding (A3, T1) — vector_tile_geometry_clipper.hpp:27-45
# ---------------------------------------------------------------------------

def ring_area(ring: np.ndarray) -> float:
    """detail::area — positive = CCW in y-up coordinates. Matches the
    reference's accumulation (closing pair included)."""
    r = np.asarray(ring, dtype=np.float64)
    if len(r) < 3:
        return 0.0
    if len(r) <= 16:  # scalar shoelace: tiny rings dominate batch encode
        rows = r.tolist()
        xp, yp = rows[-1]
        s = 0.0
        for x, y in rows:
            s += (xp + x) * (yp - y)
            xp, yp = x, y
        return -0.5 * s
    x, y = r[:, 0], r[:, 1]
    # wrap-around shift via concatenate (np.roll's python overhead is
    # measurable at tiny-ring batch scale)
    xp = np.concatenate([x[-1:], x[:-1]])
    yp = np.concatenate([y[-1:], y[:-1]])
    return float(-0.5 * np.sum((xp + x) * (yp - y)))


def dedup_consecutive(arr: np.ndarray) -> np.ndarray:
    """boost::geometry::unique / std::unique — drop repeated consecutive
    points (U3)."""
    a = np.asarray(arr)
    n = len(a)
    if n < 2:
        return a
    if n <= 12:  # scalar path: tiny tile rings dominate batch encode
        rows = a.tolist()
        idx = [0]
        for i in range(1, n):
            if rows[i] != rows[idx[-1]]:
                idx.append(i)
        return a if len(idx) == n else a[idx]
    keep = np.ones(n, dtype=bool)
    keep[1:] = (a[1:] != a[:-1]).any(axis=1)
    return a[keep]


# ---------------------------------------------------------------------------
# Clipping (K3/K4) — vector_tile_geometry_clipper.hpp:109-366
# ---------------------------------------------------------------------------

def clip_segment(p0, p1, box):
    """Liang-Barsky segment/box clip in double space. Returns (q0, q1, t0, t1)
    or None."""
    minx, miny, maxx, maxy = box
    x0, y0 = float(p0[0]), float(p0[1])
    x1, y1 = float(p1[0]), float(p1[1])
    dx, dy = x1 - x0, y1 - y0
    t0, t1 = 0.0, 1.0
    for p, q in (
        (-dx, x0 - minx),
        (dx, maxx - x0),
        (-dy, y0 - miny),
        (dy, maxy - y0),
    ):
        if p == 0.0:
            if q < 0.0:
                return None
            continue
        r = q / p
        if p < 0.0:
            if r > t1:
                return None
            if r > t0:
                t0 = r
        else:
            if r < t0:
                return None
            if r < t1:
                t1 = r
    return (
        np.array([x0 + t0 * dx, y0 + t0 * dy]),
        np.array([x0 + t1 * dx, y0 + t1 * dy]),
        t0,
        t1,
    )


def clip_line(line: np.ndarray, box) -> list[np.ndarray]:
    """linestring x box -> multi_line (boost::geometry::intersection
    semantics, clipper.hpp:130-148): consecutive inside runs stitch into
    one piece; exits/re-entries split pieces. Intersection coordinates
    round half-away to int64 (input is already integer tile space)."""
    pts = dedup_consecutive(np.asarray(line, dtype=np.int64))
    if len(pts) < 2:
        return []
    pieces: list[list[np.ndarray]] = []
    cur: list[np.ndarray] = []
    for i in range(len(pts) - 1):
        res = clip_segment(pts[i], pts[i + 1], box)
        if res is None:
            if len(cur) >= 2:
                pieces.append(cur)
            cur = []
            continue
        q0, q1, t0, t1 = res
        q0i = round_half_away(q0).astype(np.int64)
        q1i = round_half_away(q1).astype(np.int64)
        if t0 > 0.0 or not cur:
            # (re)start a piece
            if len(cur) >= 2:
                pieces.append(cur)
            cur = [q0i]
        if not np.array_equal(cur[-1], q1i):
            cur.append(q1i)
        if t1 < 1.0:
            if len(cur) >= 2:
                pieces.append(cur)
            cur = []
    if len(cur) >= 2:
        pieces.append(cur)
    return [np.array(p, dtype=np.int64) for p in pieces if len(p) >= 2]


def quick_clip_ring(ring: np.ndarray, box) -> np.ndarray:
    """Sutherland-Hodgman ring/box clip — the role of wagyu
    quick_lr_clip in clipper.hpp:199-222. Output open ring (no closing
    dup), int64, empty if fully outside."""
    minx, miny, maxx, maxy = box
    poly = np.asarray(ring, dtype=np.float64)
    if len(poly) > 1 and np.array_equal(poly[0], poly[-1]):
        poly = poly[:-1]

    def clip_edge(pts, inside_fn, intersect_fn):
        if len(pts) == 0:
            return pts
        out = []
        prev = pts[-1]
        prev_in = inside_fn(prev)
        for p in pts:
            p_in = inside_fn(p)
            if p_in:
                if not prev_in:
                    out.append(intersect_fn(prev, p))
                out.append(p)
            elif prev_in:
                out.append(intersect_fn(prev, p))
            prev, prev_in = p, p_in
        return np.array(out) if out else np.empty((0, 2))

    def ix_x(xc):
        def f(a, b):
            t = (xc - a[0]) / (b[0] - a[0])
            return np.array([xc, a[1] + t * (b[1] - a[1])])
        return f

    def ix_y(yc):
        def f(a, b):
            t = (yc - a[1]) / (b[1] - a[1])
            return np.array([a[0] + t * (b[0] - a[0]), yc])
        return f

    poly = clip_edge(poly, lambda p: p[0] >= minx, ix_x(float(minx)))
    poly = clip_edge(poly, lambda p: p[0] <= maxx, ix_x(float(maxx)))
    poly = clip_edge(poly, lambda p: p[1] >= miny, ix_y(float(miny)))
    poly = clip_edge(poly, lambda p: p[1] <= maxy, ix_y(float(maxy)))
    if len(poly) < 3:
        return np.empty((0, 2), dtype=np.int64)
    out = round_half_away(poly).astype(np.int64)
    out = dedup_consecutive(out)
    if len(out) > 1 and np.array_equal(out[0], out[-1]):
        out = out[:-1]
    return out if len(out) >= 3 else np.empty((0, 2), dtype=np.int64)


def _canonical_ring_key(ring: np.ndarray) -> tuple:
    """Rotation/direction-insensitive identity of a ring."""
    a = np.asarray(ring)
    if len(a) > 1 and np.array_equal(a[0], a[-1]):
        a = a[:-1]
    best = None
    for arr in (a, a[::-1]):
        for s in range(len(arr)):
            cand = tuple(map(tuple, np.roll(arr, -s, axis=0)))
            if best is None or cand < best:
                best = cand
    return best


def _clip_polygon_rings(rings, box, area_threshold, process_all_rings):
    """Ring loop of geometry_clipper::operator()(polygon) —
    clipper.hpp:172-238: first ring (exterior) normalized to positive
    area, others negative; below-threshold rings dropped; SH box clip."""
    out = []
    first = True
    for ring in rings:
        ring = np.asarray(ring, dtype=np.int64)
        if len(ring) < 3:
            if first:
                if process_all_rings:
                    first = False
                    continue
                return None
            continue
        area = ring_area(ring)
        if first:
            first = False
            if abs(area) < area_threshold and not process_all_rings:
                return None
            r = ring[::-1].copy() if area < 0 else ring
            new_ring = quick_clip_ring(r, box)
            if len(new_ring) == 0:
                if process_all_rings:
                    continue
                return None
            out.append(("ext", new_ring))
        else:
            if abs(area) < area_threshold:
                continue
            r = ring[::-1].copy() if area > 0 else ring
            new_ring = quick_clip_ring(r, box)
            if len(new_ring) == 0:
                continue
            out.append(("int", new_ring))
    return out


# Fill-resolver ceiling. r2 gated the resolver at 4096 vertices (the
# all-pairs check/split were quadratic); the grid-binned candidate
# pruning (functions.booleans.candidate_pairs) and y-slab winding make
# both ~linear, so the gate is now a pathological-input backstop only —
# the reference's Wagyu union has no limit (clipper.hpp:226-301).
RESOLVE_VERTEX_BUDGET = 1_000_000


def _needs_fill_resolution_scalar(rings) -> bool:
    """Pure-float twin of booleans.rings_cross: the test reference, and
    the lane for inputs of <= 16 vertices (numpy per-call overhead
    dominates for the typical 4-8 vertex tile ring)."""
    segs = []  # (ring id, seg idx, x0, y0, x1, y1)
    nring = []
    for ri, r in enumerate(rings):
        xs = r[:, 0].tolist()
        ys = r[:, 1].tolist()
        m = len(xs)
        nring.append(m)
        for i in range(m):
            j = (i + 1) % m
            segs.append((ri, i, xs[i], ys[i], xs[j], ys[j]))
    for a in range(len(segs)):
        ra, ia, ax0, ay0, ax1, ay1 = segs[a]
        for b in range(a + 1, len(segs)):
            rb, ib, bx0, by0, bx1, by1 = segs[b]
            if ra == rb:
                di = abs(ia - ib)
                if di <= 1 or di == nring[ra] - 1:
                    continue
            d1 = (bx1 - bx0) * (ay0 - by0) - (by1 - by0) * (ax0 - bx0)
            d2 = (bx1 - bx0) * (ay1 - by0) - (by1 - by0) * (ax1 - bx0)
            d3 = (ax1 - ax0) * (by0 - ay0) - (ay1 - ay0) * (bx0 - ax0)
            d4 = (ax1 - ax0) * (by1 - ay0) - (ay1 - ay0) * (bx1 - ax0)
            if ((d1 > 0) != (d2 > 0)) and ((d3 > 0) != (d4 > 0)):
                return True
            # collinear interior overlap (same infinite line)
            rx, ry = ax1 - ax0, ay1 - ay0
            rr = rx * rx + ry * ry
            if rr > 0 and d3 == 0.0 and d4 == 0.0:
                t0 = ((bx0 - ax0) * rx + (by0 - ay0) * ry) / rr
                t1 = ((bx1 - ax0) * rx + (by1 - ay0) * ry) / rr
                lo, hi = (t0, t1) if t0 <= t1 else (t1, t0)
                if hi > 0.0 and lo < 1.0:
                    return True
    return False


def _needs_fill_resolution(tagged_rings, stats: dict | None = None) -> bool:
    """Proper self-intersections or cross-ring crossings require the
    boolean resolver; plain exterior+holes assembly does not. Tiny
    inputs take the pure-float twin; the rest run the one vectorized
    predicate, booleans.rings_cross, as a single group."""
    rings = [np.asarray(r, dtype=np.float64) for _t, r in tagged_rings]
    total = sum(len(r) for r in rings)
    if total > RESOLVE_VERTEX_BUDGET:
        # stay on the fast path; surfaced so downstream parity checks
        # can tell 'resolved' from 'passed through' (r1 advisor finding)
        if stats is not None:
            stats["budget_exceeded"] = stats.get("budget_exceeded", 0) + 1
        return False
    if total <= 16:
        return _needs_fill_resolution_scalar(rings)
    from mapnik_vector_tile_spark.functions.booleans import rings_cross

    return bool(rings_cross(
        np.concatenate(rings), [len(r) for r in rings], np.zeros(len(rings), np.int64), 1
    )[0])


def _assemble_polygons(
    tagged_rings,
    fill_type: str = "even_odd",
    stats: dict | None = None,
    strictly_simple: bool = False,
):
    """Post-clip ring assembly. Simple inputs (the common case) use
    first-ring-is-exterior order; rings that self-intersect or cross
    each other go through the boolean fill resolver
    (functions.booleans — the Wagyu-union role, clipper.hpp:226-231)
    when under the vertex budget. strictly_simple routes EVERY polygon
    through the resolver — the reference processor's default
    (processor.hpp:61 strictly_simple_(true) hands all rings to wagyu),
    which canonicalizes ring structure at the cost of the resolver pass."""
    # an interior-tagged ring with no preceding exterior (first ring died
    # under process_all_rings) is still wagyu input in the reference —
    # the fill rule decides, so it must reach the resolver here too
    orphan_int = bool(tagged_rings) and tagged_rings[0][0] == "int"
    force = (strictly_simple or orphan_int) and (
        sum(len(r) for _t, r in tagged_rings) <= RESOLVE_VERTEX_BUDGET
    )
    if force or _needs_fill_resolution(tagged_rings, stats=stats):
        from mapnik_vector_tile_spark.functions.booleans import resolve_fill

        resolved = resolve_fill([r for _t, r in tagged_rings], fill_type)
        if resolved:
            return resolved
    polys = []
    for tag, ring in tagged_rings:
        # re-check orientation survived clipping; SH clip preserves order
        if tag == "ext":
            polys.append([ring])
        else:
            if polys:
                polys[-1].append(ring)
    return [p for p in polys if p]


def clip_geom(
    geom,
    box,
    area_threshold: float = 0.1,
    multi_polygon_union: bool = False,
    process_all_rings: bool = False,
    fill_type: str = "even_odd",
    stats: dict | None = None,
    strictly_simple: bool = False,
):
    """geometry_clipper dispatch (clipper.hpp:109-366).

    fill_type in {even_odd, non_zero, positive, negative} mirrors the
    Wagyu union fill rule (clipper.hpp:47-63). Simple rings take box
    clip + winding normalization (for them all four rules agree, as the
    reference's fill-type corpus, test/system/round_trip_fill_type.cpp,
    and the goldens pin). Rings that self-intersect or cross each other
    (booleans.rings_cross), and every polygon under strictly_simple, go
    through the boolean fill resolver (booleans.resolve_fill) in
    _assemble_polygons, where the fill rule decides; inputs over
    RESOLVE_VERTEX_BUDGET vertices stay on the fast path (counted in
    stats["budget_exceeded"])."""
    if fill_type not in ("even_odd", "non_zero", "positive", "negative"):
        raise ValueError(f"unknown fill_type {fill_type!r}")
    kind, val = geom
    if kind == "empty":
        return geom
    if kind == "geometrycollection":  # clipper.hpp:123-129 visitor recursion
        return _collapse_collection(
            [
                clip_geom(g, box, area_threshold, multi_polygon_union,
                          process_all_rings, fill_type, stats=stats,
                          strictly_simple=strictly_simple)
                for g in val
            ]
        )
    minx, miny, maxx, maxy = box
    if kind == "point":
        return geom  # points pass through (clipper.hpp:110-113)
    if kind == "multipoint":
        return ("multipoint", dedup_consecutive(val))  # :115-121
    if kind == "linestring":
        pieces = clip_line(val, box)
        if not pieces:
            return ("empty", None)
        return ("linestring", pieces[0]) if len(pieces) == 1 else ("multilinestring", pieces)
    if kind == "multilinestring":
        pieces = []
        for line in val:
            pieces.extend(clip_line(line, box))
        if not pieces:
            return ("empty", None)
        return ("linestring", pieces[0]) if len(pieces) == 1 else ("multilinestring", pieces)
    if kind == "polygon":
        if not val or (len(val[0]) < 3 and not process_all_rings):
            return ("empty", None)
        tagged = _clip_polygon_rings(val, box, area_threshold, process_all_rings)
        if not tagged:
            return ("empty", None)
        polys = _assemble_polygons(tagged, fill_type, stats=stats, strictly_simple=strictly_simple)
        if not polys:
            return ("empty", None)
        return ("polygon", polys[0]) if len(polys) == 1 else ("multipolygon", polys)
    if kind == "multipolygon":
        all_polys = []
        all_tagged = []
        for poly in val:
            tagged = _clip_polygon_rings(poly, box, area_threshold, process_all_rings)
            if tagged:
                all_tagged.extend(tagged)
                all_polys.extend(_assemble_polygons(tagged, fill_type, stats=stats, strictly_simple=strictly_simple))
        if multi_polygon_union and len(all_polys) > 1:
            # union across polygons feeds ONE resolver, like one wagyu
            # instance taking every ring (clipper.hpp:240-301)
            total_v = sum(len(r) for _t, r in all_tagged)
            if total_v <= RESOLVE_VERTEX_BUDGET:
                from mapnik_vector_tile_spark.functions.booleans import resolve_fill

                resolved = resolve_fill([r for _t, r in all_tagged], fill_type)
                if resolved:
                    all_polys = resolved
            elif stats is not None:
                stats["budget_exceeded"] = stats.get("budget_exceeded", 0) + 1
        if multi_polygon_union and len(all_polys) > 1:
            # union across polygons (clipper.hpp:240-301). DEVIATION:
            # identical polygons merge (the reference's own union test,
            # test/system/round_trip.cpp:164-186); overlapping
            # non-identical polygons are kept side by side (no Vatti).
            seen: set = set()
            deduped = []
            for poly in all_polys:
                key = tuple(_canonical_ring_key(r) for r in poly)
                if key not in seen:
                    seen.add(key)
                    deduped.append(poly)
            all_polys = deduped
        if not all_polys:
            return ("empty", None)
        return (
            ("polygon", all_polys[0]) if len(all_polys) == 1 else ("multipolygon", all_polys)
        )
    raise ValueError(kind)


# ---------------------------------------------------------------------------
# Fused encode-side pipeline (create_geom_layer shape,
# src/vector_tile_processor.ipp:82-174)
# ---------------------------------------------------------------------------

def world_to_tile_geom(
    geom_world,
    vt: ViewTransform,
    clip_box,
    simplify_distance: float = 0.0,
    area_threshold: float = 0.1,
    multi_polygon_union: bool = False,
    process_all_rings: bool = False,
    fill_type: str = "even_odd",
    stats: dict | None = None,
):
    """transform -> [simplify] -> clip, one fused pass per feature.
    ``stats`` (optional dict) collects budget_exceeded counts when a
    ring set too large for the fill resolver keeps the fast path."""
    g = transform_geom(geom_world, vt)
    if simplify_distance > 0:
        g = simplify_geom(g, simplify_distance)
    return clip_geom(
        g,
        clip_box,
        area_threshold=area_threshold,
        multi_polygon_union=multi_polygon_union,
        process_all_rings=process_all_rings,
        fill_type=fill_type,
        stats=stats,
    )
