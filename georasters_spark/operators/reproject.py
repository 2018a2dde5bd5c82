"""Reprojection (georasters.py:559-667) — closed-form warps, Spark-first.

The reference shells out to GDAL WarpedVRT; its own test suite only
exercises WGS84 <-> cylindrical-equal-area (tests/test_georasters.py:
315-397), both of which have closed-form transforms:

  CEA  forward: X = R·λ·cos(φs),        Y = R·sin(φ)/cos(φs)
       inverse: λ = X/(R·cos(φs)),      φ = asin(Y·cos(φs)/R)
  (λ, φ in radians; φs = standard parallel; R = 6378137)

The warp is an inverse-projection *gather*, exactly like resize: build
the target grid (spark.range × spark.range), compute each target cell
center's source (row, col) with JVM trig Column expressions, equi-join
the source pixel table. Resampling = nearest (the reference default);
bilinear and average (block-mean) variants below mirror the reference
resampling-mode dict (georasters.py:592-606).
No UDF anywhere — the whole plan is Catalyst-visible, so the join
strategy/pruning come free.

Engine-stable gather rule (the DuckDB-oracle contract): the fractional
source index u = (lat − y0)/cy is quantized to 1e-4 cell units BEFORE
floor — JVM Math.asin and libm asin may disagree by 1 ulp, and a bare
floor() would flip on that measure-zero boundary set. round(u, 4) maps
both engines' u (which agree to ~1e-10) to the same grid value, at the
cost of a ≤1e-4-cell assignment tolerance — negligible for a
nearest-neighbor warp and identical across Spark, DuckDB and the numpy
differential oracle. degrees() is likewise spelled out as
`· 180.0 / π` because Java's toDegrees (x·180/π) and DuckDB's degrees
(x·(180/π)) associate differently.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

R = 6378137.0
_Q = 4  # quantization dp for the floor-stable gather (see module doc)


def dlit(x: float) -> str:
    """DuckDB double literal: a bare decimal literal may be typed
    DECIMAL (not DOUBLE) and drift 1 ulp through arithmetic; casting
    the repr STRING to DOUBLE is strtod = exact round-trip."""
    return f"CAST('{x!r}' AS DOUBLE)"


def cea_bounds(lon0: float, lat0: float, lon1: float, lat1: float, phi_s: float = 0.0):
    """Projected bbox of a geographic bbox (monotone transform)."""
    k = math.cos(math.radians(phi_s))
    x0 = R * math.radians(lon0) * k
    x1 = R * math.radians(lon1) * k
    y0 = R * math.sin(math.radians(lat0)) / k
    y1 = R * math.sin(math.radians(lat1)) / k
    return x0, y0, x1, y1


def _superblock(n_targets, src_shape, t_h: int, t_w: int) -> int:
    """Tile superblock factor for the cogroup gathers: size each task
    for ~32k targets (per-group Python overhead dominates below ~1k
    targets/tile — measured), derived from the data shape, never from
    the local core count.  1 when the shapes are unknown."""
    if n_targets is None or src_shape is None:
        return 1
    n_tiles = max(1, -(-int(src_shape[0]) // t_h)
                  * (-(-int(src_shape[1]) // t_w)))
    return max(1, min(64, math.ceil(math.sqrt(
        32768 * n_tiles / max(1, int(n_targets))))))


def gather_from_tiles(tgt: DataFrame, images: DataFrame,
                      carry: tuple = ("xm", "ym"),
                      tile_shape: tuple[int, int] | None = None,
                      n_targets: int | None = None,
                      src_shape: tuple[int, int] | None = None) -> DataFrame:
    """Exchange-light nearest gather (the 100-TB path): instead of
    exploding every tile into a pixel table and shuffle-joining ~N
    pixel rows against the target lattice (two N-row exchanges plus
    sort-merge), shuffle ONLY the target rows — keyed by the source
    tile each one gathers from — and cogroup them with the
    one-row-per-tile images table.  Each task decodes its tile once
    and indexes all its gathers in numpy.  Shuffle volume drops from
    (N source pixels + M targets) rows to (M targets + #tiles) rows,
    and the decode stage never materializes pixels it does not gather.

    ``tgt`` must carry (trow, tcol, row, col) — row/col the computed
    nearest source index — plus any ``carry`` columns to pass through.
    ``images`` is the standard tiles table (tile_row, tile_col, bytes,
    fmt, w, h, ndv).  Out-of-range indices and masked (ndv) cells emit
    NULL, exactly like the left-join gather (pytest-pinned
    equivalence).

    When ``n_targets`` and ``src_shape`` are given, tiles group into
    B×B SUPERBLOCKS sized so each cogroup task resolves ~32k targets:
    one stored-tile-per-group made the per-group Python overhead (a few
    hundred µs × #tiles) the dominant cost once targets/tile fell below
    ~1k (measured: the sf1 nearest gather spent most of its wall in
    22.9k group invocations of ~370 rows).  The block factor derives
    from the measured work per group — target count over tile count —
    not from the local core count, so it adapts from the 45-tile gate
    grids to a cluster-scale lattice."""
    import pandas as pd

    from ..sources import codec as _codec

    # floor division via floor(): SQL DIV truncates toward zero, which
    # would fold negative (out-of-range) indices into tile 0
    if tile_shape is not None:
        t_h, t_w = int(tile_shape[0]), int(tile_shape[1])
    else:
        # the tile side keys the shuffle, so it must be known up front;
        # pass tile_shape to skip this one-row probe job
        dims = images.select("w", "h").first()
        if dims is None:
            raise ValueError("gather_from_tiles: empty images table "
                             "(pass tile_shape to gather over it anyway)")
        t_w, t_h = int(dims["w"]), int(dims["h"])
    block = _superblock(n_targets, src_shape, t_h, t_w)
    b_h, b_w = block * t_h, block * t_w
    keyed = tgt.select(
        "trow", "tcol", "row", "col", *carry,
        F.floor(F.col("row") / F.lit(b_h)).cast("long").alias("_tr"),
        F.floor(F.col("col") / F.lit(b_w)).cast("long").alias("_tc"),
    )
    out_cols = ["trow", "tcol", *carry, "value"]
    schema = ", ".join(
        {"trow": "trow long", "tcol": "tcol long", "xm": "xm double",
         "ym": "ym double", "wgt": "wgt double",
         "value": "value double"}[c] for c in out_cols)

    def kernel(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        out = left[["trow", "tcol", *carry]].copy()
        vals = np.full(len(left), np.nan)
        if len(right) and right.duplicated(["tile_row", "tile_col"]).any():
            # one row per (tile_row, tile_col) is the tiles-table
            # contract; silently decoding one of them on a mosaic /
            # unioned images table would mix grids nondeterministically
            raise ValueError(
                "gather_from_tiles: duplicate image rows share tile keys; "
                "resolve duplicates (e.g. union_mosaic) first")
        rows = left["row"].to_numpy(np.int64)
        colsv = left["col"].to_numpy(np.int64)
        # one sort by composite tile key, then a contiguous slice per
        # tile (r7): the per-tile full-length masks cost O(B²·M) over a
        # B×B superblock — the sort is O(M log M) once.  Floor division
        # matches the block keying, so out-of-range rows fall in gaps
        # no tile key hits; the residual bounds check guards ragged
        # tile shapes exactly like the mask version did.
        tkey = (rows // t_h) * (np.int64(1) << 32) + (colsv // t_w)
        order = np.argsort(tkey, kind="stable")
        ks = tkey[order]
        for t in right.itertuples(index=False):
            tk = (np.int64(t.tile_row) << 32) + np.int64(t.tile_col)
            lo = int(np.searchsorted(ks, tk, "left"))
            hi = int(np.searchsorted(ks, tk, "right"))
            if lo == hi:
                continue
            idx = order[lo:hi]
            ndv = float(t.ndv)
            arr = _codec.decode_tile(bytes(t.bytes), t.fmt,
                                     int(t.w), int(t.h), ndv)
            li = rows[idx] - int(t.tile_row) * arr.shape[0]
            lj = colsv[idx] - int(t.tile_col) * arr.shape[1]
            ok = ((li >= 0) & (li < arr.shape[0])
                  & (lj >= 0) & (lj < arr.shape[1]))
            if ok.any():
                v = arr[li[ok], lj[ok]].astype(np.float64)
                v[v == ndv] = np.nan
                vals[idx[ok]] = v
        out["value"] = pd.array(vals, dtype="Float64")  # NaN -> NULL
        return out

    # grouping keys MUST have identical types on both cogroup sides:
    # hash partitioning is type-sensitive (int 1 and long 1 hash to
    # different partitions), so an int tile_row against a long _tr
    # silently yields empty right-side groups
    imgs_keyed = images.select(
        F.col("tile_row").cast("long").alias("tile_row"),
        F.col("tile_col").cast("long").alias("tile_col"),
        "bytes", "fmt", "w", "h", "ndv",
    ).withColumn(
        "_tr", F.floor(F.col("tile_row") * F.lit(t_h) / F.lit(b_h)).cast("long")
    ).withColumn(
        "_tc", F.floor(F.col("tile_col") * F.lit(t_w) / F.lit(b_w)).cast("long")
    )
    return (
        keyed.groupBy("_tr", "_tc")
        .cogroup(imgs_keyed.groupBy("_tr", "_tc"))
        .applyInPandas(kernel, schema)
    )


def wgs84_to_cea_grid(
    px: DataFrame,
    src_origin: tuple[float, float],
    src_cellsize: tuple[float, float],
    src_shape: tuple[int, int],
    out_shape: tuple[int, int],
    phi_s: float = 0.0,
    images: DataFrame | None = None,
) -> DataFrame:
    """Warp a WGS84 pixel table onto a CEA target grid (nearest).

    Returns (trow, tcol, xm, ym, value) — xm/ym are the target cell
    centers in projected meters; value NULL where the source is masked
    or out of range.

    When ``images`` is given, the gather runs through
    ``gather_from_tiles`` (tile-cogrouped, no pixel explode) instead of
    the pixel left join — value-identical (same quantized row/col
    exprs; pytest-pinned), but shuffling M target rows instead of
    N+M pixel rows.  ``px`` may then be None.
    """
    spark = (px if px is not None else images).sparkSession
    h, w = src_shape
    th, tw = out_shape
    x0g, y0g = src_origin
    cx, cy = src_cellsize
    # target grid covers the projected source extent
    X0, Y1, X1, Y0 = cea_bounds(x0g, y0g + h * cy, x0g + w * cx, y0g, phi_s)
    # (lon0, lat_min, lon1, lat_max) ordering: Y0 = north edge
    tcx = (X1 - X0) / tw
    tcy = (Y1 - Y0) / th  # negative (north-up)
    k = math.cos(math.radians(phi_s))

    target = (
        spark.range(th)
        .select(F.col("id").alias("trow"))
        .crossJoin(spark.range(tw).select(F.col("id").alias("tcol")))
    )
    xm = F.lit(X0) + (F.col("tcol") + F.lit(0.5)) * F.lit(tcx)
    ym = F.lit(Y0) + (F.col("trow") + F.lit(0.5)) * F.lit(tcy)
    # explicit ·180/π (not F.degrees) + quantized floor: see module doc
    lon = xm / F.lit(R * k) * F.lit(180.0) / F.lit(math.pi)
    lat = F.asin(ym * F.lit(k / R)) * F.lit(180.0) / F.lit(math.pi)
    srow = F.floor(F.round((lat - F.lit(y0g)) / F.lit(cy), _Q)).cast("long")
    scol = F.floor(F.round((lon - F.lit(x0g)) / F.lit(cx), _Q)).cast("long")
    tgt = target.select(
        "trow",
        "tcol",
        xm.alias("xm"),
        ym.alias("ym"),
        srow.alias("row"),
        scol.alias("col"),
    )
    if images is not None:
        # xm/ym are pure functions of trow/tcol: recompute them AFTER
        # the gather instead of carrying two doubles per row through the
        # shuffle and both Arrow crossings (same Column expressions, so
        # bit-identical values)
        g = gather_from_tiles(tgt.select("trow", "tcol", "row", "col"),
                              images, carry=(), n_targets=th * tw,
                              src_shape=src_shape)
        return g.select(
            "trow", "tcol",
            (F.lit(X0) + (F.col("tcol") + F.lit(0.5)) * F.lit(tcx)).alias("xm"),
            (F.lit(Y0) + (F.col("trow") + F.lit(0.5)) * F.lit(tcy)).alias("ym"),
            "value",
        )
    src = px.select("row", "col", "value")
    # pre-filter the big side before its exchange (a broadcast semi-join
    # per axis, the Bloom-filter move with an EXACT filter): the nearest
    # gather's source set is a PRODUCT set — srow depends only on trow
    # and scol only on tcol — so the used rows/cols are two tiny distinct
    # sets re-derived from the same expressions over bare ranges.  A
    # downsampling warp then shuffles ~M source pixels instead of N
    # (93M -> 8.4M at the sf1 tier); the left join result is unchanged
    # because dropped source rows can never match a target.
    rows_used = (
        spark.range(th).select(F.col("id").alias("trow"))
        .select(F.floor(F.round(
            (F.asin((F.lit(Y0) + (F.col("trow") + F.lit(0.5)) * F.lit(tcy))
                    * F.lit(k / R)) * F.lit(180.0) / F.lit(math.pi)
             - F.lit(y0g)) / F.lit(cy), _Q)).cast("long").alias("row"))
        .distinct())
    cols_used = (
        spark.range(tw).select(F.col("id").alias("tcol"))
        .select(F.floor(F.round(
            ((F.lit(X0) + (F.col("tcol") + F.lit(0.5)) * F.lit(tcx))
             / F.lit(R * k) * F.lit(180.0) / F.lit(math.pi)
             - F.lit(x0g)) / F.lit(cx), _Q)).cast("long").alias("col"))
        .distinct())
    src = (src.join(F.broadcast(rows_used), "row", "left_semi")
              .join(F.broadcast(cols_used), "col", "left_semi"))
    # the semi-filters shrink the OPTIMIZER'S estimate of src so far
    # that it would auto-broadcast a table that is really M rows (8.4M
    # at the sf1 tier, unbounded at scale): pin a shuffled-hash join —
    # both sides exchange by (row, col), no sort, no driver collect
    src = src.hint("shuffle_hash")
    # xm/ym are pure arithmetic over repr-round-tripped literal doubles:
    # bit-identical across engines, so they ship UNROUNDED (rounding to
    # 6 dp can itself straddle a decimal tie and flip the last digit)
    return tgt.join(src, ["row", "col"], "left").select("trow", "tcol", "xm", "ym", "value")


def _cea_tgt_loc_ctes(src_origin, src_cellsize, src_shape, out_shape,
                      phi_s: float = 0.0) -> str:
    """The shared tgt/loc CTE pair of every CEA-target oracle (the
    lattice + quantized-floor inverse) — ONE copy, composed by
    wgs84_to_cea_sql and warp_cutline_sql."""
    h, w = src_shape
    th, tw = out_shape
    x0g, y0g = src_origin
    cx, cy = src_cellsize
    X0, Y1, X1, Y0 = cea_bounds(x0g, y0g + h * cy, x0g + w * cx, y0g, phi_s)
    tcx = (X1 - X0) / tw
    tcy = (Y1 - Y0) / th
    k = math.cos(math.radians(phi_s))
    return f"""tgt AS (
  SELECT CAST(tr.range AS BIGINT) AS trow, CAST(tc.range AS BIGINT) AS tcol,
         {dlit(X0)} + (tc.range + 0.5) * {dlit(tcx)} AS xm,
         {dlit(Y0)} + (tr.range + 0.5) * {dlit(tcy)} AS ym
  FROM range({th}) tr CROSS JOIN range({tw}) tc),
loc AS (
  SELECT trow, tcol, xm, ym,
         CAST(FLOOR(ROUND((asin(ym * {dlit(k / R)}) * 180.0 / pi() - {dlit(y0g)}) / {dlit(cy)}, {_Q})) AS BIGINT) AS row,
         CAST(FLOOR(ROUND((xm / {dlit(R * k)} * 180.0 / pi() - {dlit(x0g)}) / {dlit(cx)}, {_Q})) AS BIGINT) AS col
  FROM tgt)"""


def wgs84_to_cea_sql(
    px_cte: str,
    src_origin: tuple[float, float],
    src_cellsize: tuple[float, float],
    src_shape: tuple[int, int],
    out_shape: tuple[int, int],
    phi_s: float = 0.0,
) -> str:
    """DuckDB oracle for wgs84_to_cea_grid: the same closed-form inverse
    gather over the same pixel CTE, constant-for-constant and
    association-for-association (incl. the round-4 quantized floor)."""
    ctes = _cea_tgt_loc_ctes(src_origin, src_cellsize, src_shape,
                             out_shape, phi_s)
    return f"""WITH {px_cte},
{ctes}
SELECT loc.trow, loc.tcol, loc.xm AS xm, loc.ym AS ym, px.value
FROM loc LEFT JOIN px ON px.row = loc.row AND px.col = loc.col"""


def wgs84_to_webmercator_grid(
    px: DataFrame,
    src_origin: tuple[float, float],
    src_cellsize: tuple[float, float],
    src_shape: tuple[int, int],
    out_shape: tuple[int, int],
    lat_clip: float = 85.05112878,
) -> DataFrame:
    """Warp onto a Web-Mercator (EPSG:3857) target grid — same
    inverse-gather shape as CEA with Y = R·ln(tan(π/4 + φ/2)),
    φ = 2·atan(exp(Y/R)) − π/2. Latitudes clipped to the Mercator
    square per convention."""
    spark = px.sparkSession
    h, w = src_shape
    th, tw = out_shape
    x0g, y0g = src_origin
    cx, cy = src_cellsize
    lon0, lon1 = x0g, x0g + w * cx
    lat_top = min(y0g, lat_clip)
    lat_bot = max(y0g + h * cy, -lat_clip)
    X0 = R * math.radians(lon0)
    X1 = R * math.radians(lon1)
    Y0 = R * math.log(math.tan(math.pi / 4 + math.radians(lat_top) / 2))
    Y1 = R * math.log(math.tan(math.pi / 4 + math.radians(lat_bot) / 2))
    tcx = (X1 - X0) / tw
    tcy = (Y1 - Y0) / th  # negative (north-up)

    target = (
        spark.range(th)
        .select(F.col("id").alias("trow"))
        .crossJoin(spark.range(tw).select(F.col("id").alias("tcol")))
    )
    xm = F.lit(X0) + (F.col("tcol") + F.lit(0.5)) * F.lit(tcx)
    ym = F.lit(Y0) + (F.col("trow") + F.lit(0.5)) * F.lit(tcy)
    # explicit ·180/π + quantized floor: see module doc
    lon = xm / F.lit(R) * F.lit(180.0) / F.lit(math.pi)
    lat = (F.lit(2.0) * F.atan(F.exp(ym / F.lit(R))) - F.lit(math.pi / 2)) * F.lit(180.0) / F.lit(math.pi)
    srow = F.floor(F.round((lat - F.lit(y0g)) / F.lit(cy), _Q)).cast("long")
    scol = F.floor(F.round((lon - F.lit(x0g)) / F.lit(cx), _Q)).cast("long")
    tgt = target.select(
        "trow", "tcol", xm.alias("xm"), ym.alias("ym"),
        srow.alias("row"), scol.alias("col"),
    )
    return tgt.join(px.select("row", "col", "value"), ["row", "col"], "left").select(
        "trow", "tcol", "xm", "ym", "value"
    )


def wgs84_to_webmercator_sql(
    px_cte: str,
    src_origin: tuple[float, float],
    src_cellsize: tuple[float, float],
    src_shape: tuple[int, int],
    out_shape: tuple[int, int],
    lat_clip: float = 85.05112878,
) -> str:
    """DuckDB oracle for wgs84_to_webmercator_grid (same contract as
    wgs84_to_cea_sql)."""
    h, w = src_shape
    th, tw = out_shape
    x0g, y0g = src_origin
    cx, cy = src_cellsize
    lat_top = min(y0g, lat_clip)
    lat_bot = max(y0g + h * cy, -lat_clip)
    X0 = R * math.radians(x0g)
    X1 = R * math.radians(x0g + w * cx)
    Y0 = R * math.log(math.tan(math.pi / 4 + math.radians(lat_top) / 2))
    Y1 = R * math.log(math.tan(math.pi / 4 + math.radians(lat_bot) / 2))
    tcx = (X1 - X0) / tw
    tcy = (Y1 - Y0) / th
    return f"""WITH {px_cte},
tgt AS (
  SELECT CAST(tr.range AS BIGINT) AS trow, CAST(tc.range AS BIGINT) AS tcol,
         {dlit(X0)} + (tc.range + 0.5) * {dlit(tcx)} AS xm,
         {dlit(Y0)} + (tr.range + 0.5) * {dlit(tcy)} AS ym
  FROM range({th}) tr CROSS JOIN range({tw}) tc),
loc AS (
  SELECT trow, tcol, xm, ym,
         CAST(FLOOR(ROUND(((2.0 * atan(exp(ym / {dlit(R)})) - {dlit(math.pi / 2)}) * 180.0 / pi() - {dlit(y0g)}) / {dlit(cy)}, {_Q})) AS BIGINT) AS row,
         CAST(FLOOR(ROUND((xm / {dlit(R)} * 180.0 / pi() - {dlit(x0g)}) / {dlit(cx)}, {_Q})) AS BIGINT) AS col
  FROM tgt)
SELECT loc.trow, loc.tcol, loc.xm AS xm, loc.ym AS ym, px.value
FROM loc LEFT JOIN px ON px.row = loc.row AND px.col = loc.col"""


def webmercator_numpy_oracle(
    full: np.ndarray,
    ndv: float,
    src_origin: tuple[float, float],
    src_cellsize: tuple[float, float],
    out_shape: tuple[int, int],
    lat_clip: float = 85.05112878,
) -> np.ndarray:
    h, w = full.shape
    th, tw = out_shape
    x0g, y0g = src_origin
    cx, cy = src_cellsize
    lat_top = min(y0g, lat_clip)
    lat_bot = max(y0g + h * cy, -lat_clip)
    X0 = R * math.radians(x0g)
    X1 = R * math.radians(x0g + w * cx)
    Y0 = R * math.log(math.tan(math.pi / 4 + math.radians(lat_top) / 2))
    Y1 = R * math.log(math.tan(math.pi / 4 + math.radians(lat_bot) / 2))
    tcx = (X1 - X0) / tw
    tcy = (Y1 - Y0) / th
    tr, tc = np.meshgrid(np.arange(th), np.arange(tw), indexing="ij")
    xm = X0 + (tc + 0.5) * tcx
    ym = Y0 + (tr + 0.5) * tcy
    lon = xm / R * 180.0 / np.pi
    lat = (2.0 * np.arctan(np.exp(ym / R)) - np.pi / 2) * 180.0 / np.pi
    srow = np.floor(np.round((lat - y0g) / cy, _Q)).astype(np.int64)
    scol = np.floor(np.round((lon - x0g) / cx, _Q)).astype(np.int64)
    out = np.full(out_shape, ndv)
    ok = (srow >= 0) & (srow < h) & (scol >= 0) & (scol < w)
    out[ok] = full[srow[ok], scol[ok]]
    return out


def warp_numpy_oracle(
    full: np.ndarray,
    ndv: float,
    src_origin: tuple[float, float],
    src_cellsize: tuple[float, float],
    out_shape: tuple[int, int],
    phi_s: float = 0.0,
) -> np.ndarray:
    """Independent numpy implementation of the same warp (pytest
    differential oracle, mirroring tests/test_georasters.py:315-397)."""
    h, w = full.shape
    th, tw = out_shape
    x0g, y0g = src_origin
    cx, cy = src_cellsize
    X0, Y1, X1, Y0 = cea_bounds(x0g, y0g + h * cy, x0g + w * cx, y0g, phi_s)
    tcx = (X1 - X0) / tw
    tcy = (Y1 - Y0) / th
    k = math.cos(math.radians(phi_s))
    tr, tc = np.meshgrid(np.arange(th), np.arange(tw), indexing="ij")
    xm = X0 + (tc + 0.5) * tcx
    ym = Y0 + (tr + 0.5) * tcy
    lon = xm / (R * k) * 180.0 / np.pi
    lat = np.arcsin(ym * (k / R)) * 180.0 / np.pi
    srow = np.floor(np.round((lat - y0g) / cy, _Q)).astype(np.int64)
    scol = np.floor(np.round((lon - x0g) / cx, _Q)).astype(np.int64)
    out = np.full(out_shape, ndv)
    ok = (srow >= 0) & (srow < h) & (scol >= 0) & (scol < w)
    out[ok] = full[srow[ok], scol[ok]]
    return out


# ---------------------------------------------------------------------------
# resampling modes beyond nearest (reference modes dict georasters.py:592-606)
# ---------------------------------------------------------------------------

def _bilinear_corners(
    target: DataFrame,
    lon,
    lat,
    src_origin: tuple[float, float],
    src_cellsize: tuple[float, float],
) -> DataFrame:
    """Target lattice → the 4 surrounding source cell centers with
    bilinear weights: (trow, tcol, row, col, wgt), 4 rows per target
    cell.  Shared by the pixel-join and tile-cogrouped bilinear plans
    so their row/col/wgt expressions are identical by construction."""
    x0g, y0g = src_origin
    cx, cy = src_cellsize
    # fractional CENTER-based source index (cell r center at y0+(r+.5)cy)
    u = F.round((lat - F.lit(y0g)) / F.lit(cy) - F.lit(0.5), _Q)
    v = F.round((lon - F.lit(x0g)) / F.lit(cx) - F.lit(0.5), _Q)
    tgt = target.select(
        "trow", "tcol",
        F.floor(u).cast("long").alias("r0"), (u - F.floor(u)).alias("du"),
        F.floor(v).cast("long").alias("c0"), (v - F.floor(v)).alias("dv"),
    )
    return tgt.select(
        "trow", "tcol", "r0", "c0", "du", "dv",
        F.explode(F.array(*[F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
                            for a in (0, 1) for b in (0, 1)])).alias("o"),
    ).select(
        "trow", "tcol",
        (F.col("r0") + F.col("o.a")).alias("row"),
        (F.col("c0") + F.col("o.b")).alias("col"),
        (
            F.when(F.col("o.a") == 1, F.col("du")).otherwise(1.0 - F.col("du"))
            * F.when(F.col("o.b") == 1, F.col("dv")).otherwise(1.0 - F.col("dv"))
        ).alias("wgt"),
    )


def _bilinear_from_lonlat_tiles(
    images: DataFrame,
    target: DataFrame,
    lon,
    lat,
    src_origin: tuple[float, float],
    src_cellsize: tuple[float, float],
    n_targets: int | None = None,
    src_shape: tuple[int, int] | None = None,
) -> DataFrame:
    """Tile-cogrouped bilinear (the 100-TB path, r6): same corner
    lattice as ``_bilinear_from_lonlat`` but the 4M corner rows gather
    through ``gather_from_tiles`` — each task decodes its tile once
    and indexes every corner that falls in it — instead of
    shuffle-joining an N-row exploded pixel table.  Shuffle volume is
    4·M corners + one (trow, tcol) aggregate exchange, independent of
    source pixel count N.  Masked / out-of-range corners come back
    NULL and are excluded from BOTH the weighted sum and the weight
    mass, reproducing the inner-join renormalization exactly
    (pytest-pinned equivalence)."""
    import pandas as pd

    from ..sources import codec as _codec

    # r7 fused plan: do NOT explode 4 corner rows per target before the
    # exchange.  The un-exploded target frame (r0, c0, du, dv) shuffles
    # ONCE keyed by the tile of its top-left corner; each task assembles
    # its tile plus a one-cell right/bottom halo from the <=4 replicated
    # neighbor tiles (tile BYTES move, not pixel rows) and resolves all
    # 4 corners in numpy.  The 4·M corner shuffle, both of its Arrow
    # crossings and the (trow, tcol) re-aggregation exchange disappear;
    # the weighted-sum/weight-mass/round arithmetic stays in the JVM on
    # the kernel's (num, den, n) partials, so the NULL guards and 6-dp
    # rounding are the same expressions as before (pytest-pinned
    # equivalence with the pixel-join plan).
    spark = images.sparkSession
    dims = images.select("w", "h").first()
    if dims is None:
        raise ValueError("bilinear tiles plan: empty images table")
    t_w, t_h = int(dims["w"]), int(dims["h"])
    # tile SUPERBLOCKS sized for ~32k targets per task (shared rule)
    block = _superblock(n_targets, src_shape, t_h, t_w)
    b_h, b_w = block * t_h, block * t_w
    x0g, y0g = src_origin
    cx, cy = src_cellsize
    u = F.round((lat - F.lit(y0g)) / F.lit(cy) - F.lit(0.5), _Q)
    v = F.round((lon - F.lit(x0g)) / F.lit(cx) - F.lit(0.5), _Q)
    frac = target.select(
        "trow", "tcol",
        F.floor(u).cast("long").alias("r0"), (u - F.floor(u)).alias("du"),
        F.floor(v).cast("long").alias("c0"), (v - F.floor(v)).alias("dv"),
    ).select(
        "*",
        F.floor(F.col("r0") / F.lit(b_h)).cast("long").alias("_tr"),
        F.floor(F.col("c0") / F.lit(b_w)).cast("long").alias("_tc"),
    )
    # each stored tile feeds its own superblock task, plus the up/left/
    # up-left tasks whose one-cell halo it supplies when it sits on its
    # block's top/left edge
    rep = (images
           .select(F.col("tile_row").cast("long").alias("tile_row"),
                   F.col("tile_col").cast("long").alias("tile_col"),
                   "bytes", "fmt", "w", "h", "ndv")
           .withColumn("_da", F.explode(F.array(F.lit(0), F.lit(-1))))
           .withColumn("_db", F.explode(F.array(F.lit(0), F.lit(-1))))
           .filter(((F.col("_da") == 0) | (F.col("tile_row") % block == 0))
                   & ((F.col("_db") == 0) | (F.col("tile_col") % block == 0)))
           .select((F.floor(F.col("tile_row") / block).cast("long")
                    + F.col("_da")).alias("_tr"),
                   (F.floor(F.col("tile_col") / block).cast("long")
                    + F.col("_db")).alias("_tc"),
                   "tile_row", "tile_col", "bytes", "fmt", "w", "h", "ndv"))
    # NO _tr/_tc >= 0 filter: a target whose top-left corner index is
    # negative (upsampling at the grid's top/left edge) keys to block
    # -1, and the row-0/col-0 tiles must reach that task as its halo so
    # the in-range corners renormalize exactly like the pixel plan —
    # review finding r7: the filter returned NULL for those targets

    def kernel(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        cols = ["trow", "tcol", "num", "den", "n"]
        if not len(left):
            return pd.DataFrame({c: [] for c in cols})
        if len(right) and right.duplicated(["tile_row", "tile_col"]).any():
            raise ValueError(
                "bilinear tiles plan: duplicate image rows share tile keys; "
                "resolve duplicates (e.g. union_mosaic) first")
        base_r, base_c = int(key[0]) * b_h, int(key[1]) * b_w
        win = np.full((b_h + 1, b_w + 1), np.nan)
        for t in right.itertuples(index=False):
            t_ndv = float(t.ndv)
            arr = _codec.decode_tile(bytes(t.bytes), t.fmt,
                                     int(t.w), int(t.h), t_ndv)
            h, w = arr.shape
            gr0 = int(t.tile_row) * h
            gc0 = int(t.tile_col) * w
            r_lo, r_hi = max(gr0, base_r), min(gr0 + h, base_r + b_h + 1)
            c_lo, c_hi = max(gc0, base_c), min(gc0 + w, base_c + b_w + 1)
            if r_lo < r_hi and c_lo < c_hi:
                sub = arr[r_lo - gr0:r_hi - gr0,
                          c_lo - gc0:c_hi - gc0].astype(np.float64)
                sub = np.where(sub == t_ndv, np.nan, sub)
                win[r_lo - base_r:r_hi - base_r,
                    c_lo - base_c:c_hi - base_c] = sub
        r0l = left["r0"].to_numpy(np.int64) - base_r
        c0l = left["c0"].to_numpy(np.int64) - base_c
        du = left["du"].to_numpy(np.float64)
        dv = left["dv"].to_numpy(np.float64)
        num = np.zeros(len(left))
        den = np.zeros(len(left))
        n = np.zeros(len(left), np.int64)
        for a in (0, 1):
            wa = du if a == 1 else 1.0 - du
            for b in (0, 1):
                wb = dv if b == 1 else 1.0 - dv
                vv = win[r0l + a, c0l + b]
                ok = ~np.isnan(vv)
                wgt = wa * wb
                num[ok] += wgt[ok] * vv[ok]
                den[ok] += wgt[ok]
                n[ok] += 1
        return pd.DataFrame({
            "trow": left["trow"].to_numpy(np.int64),
            "tcol": left["tcol"].to_numpy(np.int64),
            "num": num, "den": den, "n": n,
        })

    g = (frac.groupBy("_tr", "_tc")
         .cogroup(rep.groupBy("_tr", "_tc"))
         .applyInPandas(kernel, schema="trow long, tcol long, num double, "
                                       "den double, n long"))
    return g.select(
        "trow", "tcol",
        F.when(F.col("den") > 0,
               F.round(F.col("num") / F.col("den"), 6)).alias("value"),
        # NULL (not 0) when no corner was valid — matches the pixel
        # plan's left join against the inner-join aggregate
        F.when(F.col("n") > 0, F.col("n")).cast("long").alias("n_contrib"),
    )


def _bilinear_from_lonlat(
    px: DataFrame,
    target: DataFrame,
    lon,
    lat,
    src_origin: tuple[float, float],
    src_cellsize: tuple[float, float],
):
    """Shared nodata-aware bilinear gather, target-CRS-AGNOSTIC: the
    caller supplies the target lattice (trow, tcol) and the inverse-
    projected lon/lat Column expressions; everything from the
    fractional source index on is identical across target CRSs. Each
    target cell center maps to fractional source coordinates; the 4
    surrounding cell centers join in with (1−du)(1−dv)-style weights;
    masked neighbors drop out of the join and the weight mass
    renormalizes over the valid ones (GDAL nodata-aware bilinear).
    Pure DataFrame ops: one explode(4) + equi-join + groupBy — no UDF."""
    corners = _bilinear_corners(target, lon, lat, src_origin, src_cellsize)
    j = corners.join(px.select("row", "col", "value"), ["row", "col"])
    # explicit zero-weight-mass guard (a valid corner can carry weight
    # exactly 0 after quantization): NULL, matching the numpy oracle's
    # den > 0 rule and DuckDB's NULL-on-/0
    out = j.groupBy("trow", "tcol").agg(
        F.when(
            F.sum("wgt") > 0,
            F.round(F.sum(F.col("wgt") * F.col("value")) / F.sum("wgt"), 6),
        ).alias("value"),
        F.count(F.lit(1)).cast("long").alias("n_contrib"),
    )
    return target.select("trow", "tcol").join(out, ["trow", "tcol"], "left")


def wgs84_to_cea_grid_bilinear(
    px: DataFrame,
    src_origin: tuple[float, float],
    src_cellsize: tuple[float, float],
    src_shape: tuple[int, int],
    out_shape: tuple[int, int],
    phi_s: float = 0.0,
    images: DataFrame | None = None,
) -> DataFrame:
    """CEA warp with BILINEAR resampling (see _bilinear_from_lonlat for
    the kernel; this wrapper supplies the CEA inverse).

    When ``images`` is given the gather runs tile-cogrouped
    (``_bilinear_from_lonlat_tiles`` — no pixel explode); ``px`` may
    then be None.  Value-identical by construction (shared
    ``_bilinear_corners`` exprs; pytest-pinned)."""
    spark = (px if px is not None else images).sparkSession
    h, w = src_shape
    th, tw = out_shape
    x0g, y0g = src_origin
    cx, cy = src_cellsize
    X0, Y1, X1, Y0 = cea_bounds(x0g, y0g + h * cy, x0g + w * cx, y0g, phi_s)
    tcx = (X1 - X0) / tw
    tcy = (Y1 - Y0) / th
    k = math.cos(math.radians(phi_s))

    target = (
        spark.range(th)
        .select(F.col("id").alias("trow"))
        .crossJoin(spark.range(tw).select(F.col("id").alias("tcol")))
    )
    xm = F.lit(X0) + (F.col("tcol") + F.lit(0.5)) * F.lit(tcx)
    ym = F.lit(Y0) + (F.col("trow") + F.lit(0.5)) * F.lit(tcy)
    lon = xm / F.lit(R * k) * F.lit(180.0) / F.lit(math.pi)
    lat = F.asin(ym * F.lit(k / R)) * F.lit(180.0) / F.lit(math.pi)
    if images is not None:
        return _bilinear_from_lonlat_tiles(
            images, target, lon, lat, src_origin, src_cellsize,
            n_targets=th * tw, src_shape=src_shape)
    return _bilinear_from_lonlat(px, target, lon, lat, src_origin, src_cellsize)


def wgs84_to_webmercator_grid_bilinear(
    px: DataFrame,
    src_origin: tuple[float, float],
    src_cellsize: tuple[float, float],
    src_shape: tuple[int, int],
    out_shape: tuple[int, int],
    lat_clip: float = 85.05112878,
) -> DataFrame:
    """Web-Mercator (EPSG:3857) warp with BILINEAR resampling — the
    same CRS-agnostic kernel as CEA with the Mercator inverse
    φ = 2·atan(exp(Y/R)) − π/2 supplied as the lon/lat parameter
    (ref modes dict georasters.py:592-606)."""
    spark = px.sparkSession
    h, w = src_shape
    th, tw = out_shape
    x0g, y0g = src_origin
    cx, cy = src_cellsize
    lat_top = min(y0g, lat_clip)
    lat_bot = max(y0g + h * cy, -lat_clip)
    X0 = R * math.radians(x0g)
    X1 = R * math.radians(x0g + w * cx)
    Y0 = R * math.log(math.tan(math.pi / 4 + math.radians(lat_top) / 2))
    Y1 = R * math.log(math.tan(math.pi / 4 + math.radians(lat_bot) / 2))
    tcx = (X1 - X0) / tw
    tcy = (Y1 - Y0) / th

    target = (
        spark.range(th)
        .select(F.col("id").alias("trow"))
        .crossJoin(spark.range(tw).select(F.col("id").alias("tcol")))
    )
    xm = F.lit(X0) + (F.col("tcol") + F.lit(0.5)) * F.lit(tcx)
    ym = F.lit(Y0) + (F.col("trow") + F.lit(0.5)) * F.lit(tcy)
    lon = xm / F.lit(R) * F.lit(180.0) / F.lit(math.pi)
    lat = (F.lit(2.0) * F.atan(F.exp(ym / F.lit(R))) - F.lit(math.pi / 2)) \
        * F.lit(180.0) / F.lit(math.pi)
    return _bilinear_from_lonlat(px, target, lon, lat, src_origin, src_cellsize)


def webmercator_bilinear_numpy_oracle(
    full: np.ndarray,
    ndv: float,
    src_origin: tuple[float, float],
    src_cellsize: tuple[float, float],
    out_shape: tuple[int, int],
    lat_clip: float = 85.05112878,
):
    """Independent numpy Mercator bilinear warp (differential pytest
    oracle, same contract as cea_bilinear_numpy_oracle)."""
    h, w = full.shape
    th, tw = out_shape
    x0g, y0g = src_origin
    cx, cy = src_cellsize
    lat_top = min(y0g, lat_clip)
    lat_bot = max(y0g + h * cy, -lat_clip)
    X0 = R * math.radians(x0g)
    X1 = R * math.radians(x0g + w * cx)
    Y0 = R * math.log(math.tan(math.pi / 4 + math.radians(lat_top) / 2))
    Y1 = R * math.log(math.tan(math.pi / 4 + math.radians(lat_bot) / 2))
    tcx = (X1 - X0) / tw
    tcy = (Y1 - Y0) / th
    tr, tc = np.meshgrid(np.arange(th), np.arange(tw), indexing="ij")
    xm = X0 + (tc + 0.5) * tcx
    ym = Y0 + (tr + 0.5) * tcy
    lon = xm / R * 180.0 / np.pi
    lat = (2.0 * np.arctan(np.exp(ym / R)) - np.pi / 2) * 180.0 / np.pi
    # HALF_UP on the shortest decimal repr — exactly Spark's F.round
    # (BigDecimal.valueOf + setScale(HALF_UP)). np.round is HALF_EVEN
    # and the linear Mercator lon hits exact 4-dp ties (e.g. 34.65625),
    # where the two rules diverge by a whole quantum.
    u = _round_half_up((lat - y0g) / cy - 0.5, _Q)
    v = _round_half_up((lon - x0g) / cx - 0.5, _Q)
    r0 = np.floor(u).astype(np.int64)
    c0 = np.floor(v).astype(np.int64)
    du, dv = u - r0, v - c0
    num = np.zeros(out_shape)
    den = np.zeros(out_shape)
    cnt = np.zeros(out_shape, dtype=np.int64)
    valid = full != ndv
    for a in (0, 1):
        for b in (0, 1):
            rr, cc = r0 + a, c0 + b
            ok = (rr >= 0) & (rr < h) & (cc >= 0) & (cc < w)
            ok &= valid[np.clip(rr, 0, h - 1), np.clip(cc, 0, w - 1)]
            wgt = (du if a else 1 - du) * (dv if b else 1 - dv)
            num[ok] += wgt[ok] * full[rr[ok], cc[ok]]
            den[ok] += wgt[ok]
            cnt[ok] += 1
    out = np.full(out_shape, np.nan)
    nz = den > 0
    out[nz] = num[nz] / den[nz]
    return out, cnt


def _round_half_up(arr: np.ndarray, q: int) -> np.ndarray:
    """Element-wise decimal round emulating Spark's F.round exactly:
    Java BigDecimal.valueOf(double) parses Double.toString — the
    SHORTEST uniquely-identifying decimal repr (== Python repr) — then
    setScale(q, HALF_UP). Test-oracle code (per-element Decimal), not a
    hot path."""
    from decimal import ROUND_HALF_UP, Decimal

    quantum = Decimal(1).scaleb(-q)
    flat = [
        float(Decimal(repr(float(x))).quantize(quantum, ROUND_HALF_UP))
        for x in np.asarray(arr, dtype=np.float64).ravel()
    ]
    return np.asarray(flat, dtype=np.float64).reshape(np.shape(arr))


def wgs84_to_cea_grid_average(
    px: DataFrame,
    src_origin: tuple[float, float],
    src_cellsize: tuple[float, float],
    src_shape: tuple[int, int],
    out_shape: tuple[int, int],
    phi_s: float = 0.0,
    how: str = "mean",
) -> DataFrame:
    """CEA warp with AGGREGATE resampling (GDAL 'average' family, plus
    min/max/sum/count/mode for downsampling): FORWARD-project every
    valid source cell center, bucket it into its target cell, aggregate
    per bucket — a scan + one grouped aggregate; map-side partial agg
    makes it shuffle-light. mode uses a two-level count + max_by with a
    smallest-value tie-break (deterministic, unlike F.mode)."""
    h, w = src_shape
    th, tw = out_shape
    x0g, y0g = src_origin
    cx, cy = src_cellsize
    X0, Y1, X1, Y0 = cea_bounds(x0g, y0g + h * cy, x0g + w * cx, y0g, phi_s)
    tcx = (X1 - X0) / tw
    tcy = (Y1 - Y0) / th
    k = math.cos(math.radians(phi_s))

    xc = F.lit(x0g) + (F.col("col") + F.lit(0.5)) * F.lit(cx)
    yc = F.lit(y0g) + (F.col("row") + F.lit(0.5)) * F.lit(cy)
    X = F.lit(R * k) * F.radians(xc)
    Y = F.lit(R / k) * F.sin(F.radians(yc))
    trow = F.floor(F.round((Y - F.lit(Y0)) / F.lit(tcy), _Q)).cast("long")
    tcol = F.floor(F.round((X - F.lit(X0)) / F.lit(tcx), _Q)).cast("long")
    binned = px.select(trow.alias("trow"), tcol.alias("tcol"), "value").filter(
        (F.col("trow") >= 0) & (F.col("trow") < th)
        & (F.col("tcol") >= 0) & (F.col("tcol") < tw)
    )
    return _bucket_agg(binned, how)


# ---------------------------------------------------------------------------
# user-facing dispatcher: the reference API accepts EPSG ints, proj4 and
# WKT strings plus a resampling mode name (georasters.py:559-667). The
# sandbox implements the closed-form projections its own test suite
# uses (WGS84 source -> CEA / WebMercator) with nearest / bilinear /
# average-family resampling; anything else raises a clear
# NotImplementedError instead of a silent wrong answer.
# ---------------------------------------------------------------------------

_CRS_TOKENS = {
    "wgs84": "wgs84", "epsg:4326": "wgs84", "4326": "wgs84",
    "+proj=longlat": "wgs84",
    "cea": "cea", "epsg:6933": "cea", "6933": "cea", "+proj=cea": "cea",
    "webmercator": "webmerc", "epsg:3857": "webmerc", "3857": "webmerc",
    "epsg:900913": "webmerc", "+proj=merc": "webmerc",
    "epsg:3395": "merc3395", "3395": "merc3395",
    "sinusoidal": "sinu", "esri:54008": "sinu", "54008": "sinu",
    "+proj=sinu": "sinu",
}


def parse_crs(crs) -> str:
    """Normalize an EPSG int, 'EPSG:n' string, proj4 string, or WKT1
    GEOGCS/PROJCS to a supported token: wgs84 | cea | webmerc | sinu |
    'utm:<zone><n|s>' | 'aea:...'/'lcc:...' conics | 'geog:...' datum'd
    geographics (non-WGS84 ellipsoid + towgs84 Helmert).  UTM accepts
    EPSG:32601-32660 (north) / 32701-32760 (south) and
    '+proj=utm +zone=N [+south]' proj4 strings."""
    if isinstance(crs, str) and crs.lstrip()[:7].upper() in (
            "GEOGCS[", "PROJCS["):
        return parse_wkt(crs)
    raw = str(crs).strip().lower()
    key = raw
    if key.startswith("+"):
        if key.split()[0] == "+proj=longlat":
            return _parse_longlat_proj4(key)
        if key.split()[0] == "+proj=tmerc":
            return _parse_tmerc_proj4(key)
        if key.split()[0] == "+proj=utm":
            zone = None
            south = "+south" in key.split()
            for tokn in key.split():
                if tokn.startswith("+zone="):
                    zone = int(tokn.split("=", 1)[1])
            if zone is None or not (1 <= zone <= 60):
                raise NotImplementedError("+proj=utm needs +zone=1..60")
            return f"utm:{zone}{'s' if south else 'n'}"
        if key.split()[0] in ("+proj=aea", "+proj=lcc"):
            kind = key.split()[0][-3:]
            p = {"+lat_1": None, "+lat_2": None, "+lat_0": 0.0,
                 "+lon_0": 0.0, "+x_0": 0.0, "+y_0": 0.0}
            for tokn in key.split():
                k2, _, v = tokn.partition("=")
                if k2 in p and v:
                    p[k2] = float(v)
            if p["+lat_1"] is None:
                raise NotImplementedError(f"+proj={kind} needs +lat_1 (and +lat_2)")
            if p["+lat_2"] is None:
                p["+lat_2"] = p["+lat_1"]  # 1SP form
            return (f"{kind}:custom:{p['+lat_1']}:{p['+lat_2']}:{p['+lat_0']}"
                    f":{p['+lon_0']}:{p['+x_0']}:{p['+y_0']}")
        key = key.split()[0]
    num = key.removeprefix("epsg:")
    if num.isdigit():
        code = int(num)
        if 32601 <= code <= 32660:
            return f"utm:{code - 32600}n"
        if 32701 <= code <= 32760:
            return f"utm:{code - 32700}s"
        if code in CONIC_EPSG:
            return f"{CONIC_EPSG[code][0]}:{code}"
        if code in DATUM_EPSG:
            ell, tow = DATUM_EPSG[code]
            a, f = ELLIPSOIDS[ell]
            return geog_token(a, f, tow)
        if code in TMD_EPSG:
            return TMD_EPSG[code]
    tok = _CRS_TOKENS.get(key)
    if tok is None:
        raise NotImplementedError(
            f"CRS {crs!r} not supported in-sandbox (no GDAL/osr); supported: "
            "EPSG:4326 (source), EPSG:6933/+proj=cea, EPSG:3857/+proj=merc, "
            "EPSG:326xx/327xx and +proj=utm (Krüger-series transverse "
            "Mercator), ESRI:54008/+proj=sinu, EPSG:5070/3310 and +proj=aea "
            "(Albers equal-area conic), EPSG:2154/3978 and +proj=lcc "
            "(Lambert conformal conic) targets; datum'd geographic CRSs "
            "(EPSG:4267/4277/4269/4258/4230, '+proj=longlat +ellps/+a/+b/"
            "+towgs84', WKT1 GEOGCS) via geocentric Helmert; WKT1 PROJCS "
            "for the families above. On a cluster, swap in a GDAL-backed "
            "transform for anything else."
        )
    return tok


def reproject(
    px: DataFrame,
    src_crs,
    dst_crs,
    src_origin: tuple[float, float],
    src_cellsize: tuple[float, float],
    src_shape: tuple[int, int],
    out_shape: tuple[int, int],
    resampling: str = "nearest",
    bbox_lonlat=None,
) -> DataFrame:
    """Reference-shaped entry point (georasters.py:559-667):
    reproject(px, 'EPSG:4326', 'EPSG:3857', ..., resampling='bilinear').

    resampling: nearest | bilinear | average | sum | min | max | count
    | mode (GDAL mode-name parity for the aggregate family).
    bbox_lonlat = (lon_min, lat_min, lon_max, lat_max) windows the
    target extent (GDAL -te analog; required for UTM targets of
    wider-than-zone sources)."""
    if parse_crs(src_crs) != "wgs84":
        # projected source: the general inverse(dst)∘forward(src) warp
        return reproject_any(px, src_crs, dst_crs, src_origin, src_cellsize,
                             src_shape, out_shape, resampling=resampling,
                             bbox_lonlat=bbox_lonlat)
    dst = parse_crs(dst_crs)
    args = (px, src_origin, src_cellsize, src_shape, out_shape)
    # every family × the COMPLETE GDAL mode dict: the specialized
    # single-projection plans serve nearest/bilinear (their target
    # lattices predate reproject_any and stay byte-stable); all other
    # modes route through reproject_any's composed warp, which carries
    # the full kernel + aggregate matrix for any CRS pair
    _any = lambda: reproject_any(  # noqa: E731
        px, src_crs, dst_crs, src_origin, src_cellsize, src_shape,
        out_shape, resampling=resampling, bbox_lonlat=bbox_lonlat)
    if dst.startswith(("aea:", "lcc:")):
        if resampling in ("nearest", "bilinear"):
            P = conic_params_of(dst)
            return wgs84_to_conic_grid(*args, P=P, bbox_lonlat=bbox_lonlat,
                                       resampling=resampling)
        return _any()
    if dst.startswith("utm:"):
        zone = int(dst[4:-1])
        south = dst.endswith("s")
        if resampling == "nearest":
            return wgs84_to_utm_grid(*args, zone=zone, south=south,
                                     bbox_lonlat=bbox_lonlat)
        if resampling == "bilinear":
            return wgs84_to_utm_grid_bilinear(*args, zone=zone, south=south,
                                              bbox_lonlat=bbox_lonlat)
        return _any()
    if dst == "webmerc":
        if resampling == "nearest":
            return wgs84_to_webmercator_grid(*args)
        if resampling == "bilinear":
            return wgs84_to_webmercator_grid_bilinear(*args)
        return _any()
    if dst == "sinu":
        if resampling == "nearest":
            return wgs84_to_sinusoidal_grid(*args)
        if resampling == "bilinear":
            return wgs84_to_sinusoidal_grid_bilinear(*args)
        return _any()
    if dst == "wgs84":
        raise NotImplementedError("identity reproject: use resize/extract")
    if dst == "merc3395" or dst.startswith(("geog:", "tmd:")):
        # ellipsoidal Mercator / datum'd geographic / TM-on-datum
        # targets route through the general composed warp — they must
        # NEVER fall through to the CEA kernel below
        return _any()
    if dst != "cea":
        raise NotImplementedError(f"no warp route for CRS token {dst!r}")
    if resampling == "nearest":
        return wgs84_to_cea_grid(*args)
    if resampling == "bilinear":
        return wgs84_to_cea_grid_bilinear(*args)
    if resampling == "cubic":
        return wgs84_to_cea_grid_cubic(*args)
    if resampling == "cubicspline":
        return wgs84_to_cea_grid_cubic(*args, kernel="bspline")
    if resampling == "lanczos":
        return wgs84_to_cea_grid_lanczos(*args)
    agg = {"average": "mean", "sum": "sum", "min": "min", "max": "max",
           "count": "count", "mode": "mode", "rms": "rms", "med": "med",
           "q1": "q1", "q3": "q3"}.get(resampling)
    if agg is None:
        raise NotImplementedError(
            f"resampling {resampling!r} not supported (have nearest/bilinear/"
            "cubic/cubicspline/lanczos/average/sum/min/max/count/mode/"
            "rms/med/q1/q3 — the FULL gdalwarp -r enum, "
            "georasters.py:592-606)")
    return wgs84_to_cea_grid_average(*args, how=agg)


def cea_bilinear_numpy_oracle(
    full: np.ndarray,
    ndv: float,
    src_origin: tuple[float, float],
    src_cellsize: tuple[float, float],
    out_shape: tuple[int, int],
    phi_s: float = 0.0,
):
    """Independent numpy bilinear warp (same quantized fractional index
    + valid-weight renormalization). Returns (value, n_contrib) grids;
    value nan where no valid neighbor."""
    h, w = full.shape
    th, tw = out_shape
    x0g, y0g = src_origin
    cx, cy = src_cellsize
    X0, Y1, X1, Y0 = cea_bounds(x0g, y0g + h * cy, x0g + w * cx, y0g, phi_s)
    tcx = (X1 - X0) / tw
    tcy = (Y1 - Y0) / th
    k = math.cos(math.radians(phi_s))
    tr, tc = np.meshgrid(np.arange(th), np.arange(tw), indexing="ij")
    xm = X0 + (tc + 0.5) * tcx
    ym = Y0 + (tr + 0.5) * tcy
    lon = xm / (R * k) * 180.0 / np.pi
    lat = np.arcsin(ym * (k / R)) * 180.0 / np.pi
    u = np.round((lat - y0g) / cy - 0.5, _Q)
    v = np.round((lon - x0g) / cx - 0.5, _Q)
    r0 = np.floor(u).astype(np.int64)
    c0 = np.floor(v).astype(np.int64)
    du, dv = u - r0, v - c0
    num = np.zeros(out_shape)
    den = np.zeros(out_shape)
    cnt = np.zeros(out_shape, dtype=np.int64)
    valid = full != ndv
    for a in (0, 1):
        for b in (0, 1):
            rr, cc = r0 + a, c0 + b
            ok = (rr >= 0) & (rr < h) & (cc >= 0) & (cc < w)
            ok &= valid[np.clip(rr, 0, h - 1), np.clip(cc, 0, w - 1)]
            wgt = (du if a else 1 - du) * (dv if b else 1 - dv)
            num[ok] += wgt[ok] * full[rr[ok], cc[ok]]
            den[ok] += wgt[ok]
            cnt[ok] += 1
    out = np.full(out_shape, np.nan)
    nz = den > 0
    out[nz] = num[nz] / den[nz]
    return out, cnt


def cea_average_numpy_oracle(
    full: np.ndarray,
    ndv: float,
    src_origin: tuple[float, float],
    src_cellsize: tuple[float, float],
    out_shape: tuple[int, int],
    phi_s: float = 0.0,
):
    """Independent numpy forward-bucket average warp. Returns
    (sum, count) accumulators."""
    h, w = full.shape
    th, tw = out_shape
    x0g, y0g = src_origin
    cx, cy = src_cellsize
    X0, Y1, X1, Y0 = cea_bounds(x0g, y0g + h * cy, x0g + w * cx, y0g, phi_s)
    tcx = (X1 - X0) / tw
    tcy = (Y1 - Y0) / th
    k = math.cos(math.radians(phi_s))
    rr, cc = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
    valid = full != ndv
    xc = x0g + (cc + 0.5) * cx
    yc = y0g + (rr + 0.5) * cy
    X = (R * k) * np.radians(xc)
    Y = (R / k) * np.sin(np.radians(yc))
    trow = np.floor(np.round((Y - Y0) / tcy, _Q)).astype(np.int64)
    tcol = np.floor(np.round((X - X0) / tcx, _Q)).astype(np.int64)
    ok = valid & (trow >= 0) & (trow < th) & (tcol >= 0) & (tcol < tw)
    s = np.zeros(out_shape)
    n = np.zeros(out_shape, dtype=np.int64)
    np.add.at(s, (trow[ok], tcol[ok]), full[ok])
    np.add.at(n, (trow[ok], tcol[ok]), 1)
    return s, n


def wgs84_to_cea_bilinear_sql(
    px_cte: str,
    src_origin: tuple[float, float],
    src_cellsize: tuple[float, float],
    src_shape: tuple[int, int],
    out_shape: tuple[int, int],
    phi_s: float = 0.0,
) -> str:
    """DuckDB oracle for wgs84_to_cea_grid_bilinear (same quantized
    fractional index, same weight expressions; the <=4-term weighted
    sums are rounded to 6dp on both sides)."""
    h, w = src_shape
    th, tw = out_shape
    x0g, y0g = src_origin
    cx, cy = src_cellsize
    X0, Y1, X1, Y0 = cea_bounds(x0g, y0g + h * cy, x0g + w * cx, y0g, phi_s)
    tcx = (X1 - X0) / tw
    tcy = (Y1 - Y0) / th
    k = math.cos(math.radians(phi_s))
    u = (f"ROUND((asin(({dlit(Y0)} + (tr.range + 0.5) * {dlit(tcy)}) * {dlit(k / R)}) * 180.0 / pi()"
         f" - {dlit(y0g)}) / {dlit(cy)} - 0.5, {_Q})")
    v = (f"ROUND((({dlit(X0)} + (tc.range + 0.5) * {dlit(tcx)}) / {dlit(R * k)} * 180.0 / pi()"
         f" - {dlit(x0g)}) / {dlit(cx)} - 0.5, {_Q})")
    return f"""WITH {px_cte},
tgt AS (
  SELECT CAST(tr.range AS BIGINT) AS trow, CAST(tc.range AS BIGINT) AS tcol,
         {u} AS u, {v} AS v
  FROM range({th}) tr CROSS JOIN range({tw}) tc),
corners AS (
  SELECT trow, tcol,
         CAST(FLOOR(u) AS BIGINT) + o.a AS row,
         CAST(FLOOR(v) AS BIGINT) + o.b AS col,
         (CASE WHEN o.a = 1 THEN u - FLOOR(u) ELSE 1.0 - (u - FLOOR(u)) END)
         * (CASE WHEN o.b = 1 THEN v - FLOOR(v) ELSE 1.0 - (v - FLOOR(v)) END) AS wgt
  FROM tgt CROSS JOIN (VALUES (0, 0), (0, 1), (1, 0), (1, 1)) o(a, b)),
agg AS (
  SELECT corners.trow, corners.tcol,
         CASE WHEN SUM(corners.wgt) > 0
              THEN ROUND(SUM(corners.wgt * px.value) / SUM(corners.wgt), 6) END AS value,
         CAST(COUNT(*) AS BIGINT) AS n_contrib
  FROM corners JOIN px ON px.row = corners.row AND px.col = corners.col
  GROUP BY 1, 2)
SELECT tgt.trow, tgt.tcol, agg.value, agg.n_contrib
FROM tgt LEFT JOIN agg ON agg.trow = tgt.trow AND agg.tcol = tgt.tcol"""


def _kernel_wfun_np(kernel: str, a: int = 3):
    """numpy twin of ``_kernel_offsets_wfun``'s weight function, used
    by the fused tile plan (`_kernel_gather_tiles`).  The polynomial
    kernels follow the SAME operation order as the Column expressions
    (IEEE +,-,*,/ are exactly specified, so catmull/bspline weights
    are bit-identical to the JVM's); lanczos shares the constants and
    structure but libm sin may differ from Math.sin by 1 ulp — the
    same magnitude the 6-dp rounding already absorbs between Spark
    and the DuckDB oracle.

    DELIBERATELY separate from ``_np_kernel_wfun`` (the numpy ORACLE
    twin further down): this one is production code mirroring the
    Column expressions term-for-term, that one is the independent
    check — merging them would make the oracle tautological."""
    if kernel == "catmull":

        def w(t):
            t2, t3 = t * t, t * t * t
            return np.where(t <= 1.0, 1.5 * t3 - 2.5 * t2 + 1.0,
                            -0.5 * t3 + 2.5 * t2 - 4.0 * t + 2.0)

        return w
    if kernel == "bspline":

        def w(t):
            t2, t3 = t * t, t * t * t
            two_t = 2.0 - t
            return np.where(t <= 1.0, (4.0 - 6.0 * t2 + 3.0 * t3) / 6.0,
                            two_t * two_t * two_t / 6.0)

        return w
    if kernel == "lanczos":

        def w(t):
            pit = math.pi * t
            pita = pit / float(a)
            with np.errstate(invalid="ignore", divide="ignore"):
                sinc = np.where(t == 0.0, 1.0, np.sin(pit) / pit)
                sinca = np.where(t == 0.0, 1.0, np.sin(pita) / pita)
            return np.where(t < float(a), sinc * sinca, 0.0)

        return w
    raise ValueError(f"unknown resampling kernel {kernel!r}")


def _kernel_offsets_wfun(kernel: str, a: int = 3):
    """(neighbor offsets, weight-Column function) for a named
    convolution kernel. catmull = GDAL 'cubic' (a = -0.5 Catmull-Rom,
    4x4); bspline = GDAL 'cubicspline' (approximating cubic B-spline
    basis, 4x4); lanczos = GDAL 'lanczos' (a=3 windowed sinc, 6x6).
    The weight function takes a |offset - frac| distance Column."""
    if kernel in ("catmull", "bspline"):

        def catmull(t):
            t2, t3 = t * t, t * t * t
            return (
                F.when(t <= 1.0, F.lit(1.5) * t3 - F.lit(2.5) * t2 + F.lit(1.0))
                .otherwise(F.lit(-0.5) * t3 + F.lit(2.5) * t2 - F.lit(4.0) * t
                           + F.lit(2.0))
            )

        def bspline(t):
            t2, t3 = t * t, t * t * t
            two_t = F.lit(2.0) - t
            return (
                F.when(t <= 1.0,
                       (F.lit(4.0) - F.lit(6.0) * t2 + F.lit(3.0) * t3) / F.lit(6.0))
                .otherwise(two_t * two_t * two_t / F.lit(6.0))
            )

        return (-1, 0, 1, 2), (catmull if kernel == "catmull" else bspline)
    if kernel == "lanczos":

        def lanc(t):
            pit = F.lit(math.pi) * t
            sinc = F.when(t == 0.0, F.lit(1.0)).otherwise(F.sin(pit) / pit)
            pita = pit / F.lit(float(a))
            sinca = F.when(t == 0.0, F.lit(1.0)).otherwise(F.sin(pita) / pita)
            return F.when(t < float(a), sinc * sinca).otherwise(F.lit(0.0))

        return tuple(range(1 - a, a + 1)), lanc
    raise ValueError(f"unknown resampling kernel {kernel!r}")


def _kernel_corners(target: DataFrame, u, v, kernel: str,
                    a: int = 3) -> DataFrame:
    """Target lattice → the k×k kernel neighborhood with separable
    convolution weights: (trow, tcol, row, col, wgt), k² rows per
    target cell.  Shared by the pixel-join (`_kernel_gather`) and
    tile-cogrouped (`_kernel_gather_tiles`) plans so their
    row/col/wgt expressions are identical by construction."""
    offs, wfun = _kernel_offsets_wfun(kernel, a)
    tgt = target.select(
        "trow", "tcol",
        F.floor(u).cast("long").alias("r0"), (u - F.floor(u)).alias("du"),
        F.floor(v).cast("long").alias("c0"), (v - F.floor(v)).alias("dv"),
    )
    return tgt.select(
        "trow", "tcol", "r0", "c0", "du", "dv",
        F.explode(F.array(*[F.struct(F.lit(i).alias("a"), F.lit(j).alias("b"))
                            for i in offs for j in offs])).alias("o"),
    ).select(
        "trow", "tcol",
        (F.col("r0") + F.col("o.a")).alias("row"),
        (F.col("c0") + F.col("o.b")).alias("col"),
        (wfun(F.abs(F.col("o.a") - F.col("du")))
         * wfun(F.abs(F.col("o.b") - F.col("dv")))).alias("wgt"),
    )


def _kernel_gather_tiles(images: DataFrame, target: DataFrame, u, v,
                         kernel: str, a: int = 3,
                         n_targets: int | None = None,
                         src_shape: tuple[int, int] | None = None
                         ) -> DataFrame:
    """Tile-cogrouped cubic/lanczos gather with the signed-weight-mass
    NULL guard of ``_kernel_gather`` (|Σw over valid| < 0.05 ⇒ NULL;
    negative lobes can strip the mass).  Pytest-pinned equivalence
    with the pixel-join plan.

    r7 fused plan (the ``_bilinear_from_lonlat_tiles`` treatment
    generalized to any separable kernel): the k²-corner explode no
    longer happens BEFORE the exchange.  The un-exploded target frame
    (r0, c0, du, dv) shuffles once keyed by tile superblock; each task
    assembles its block window plus a (lead, trail)-cell halo from the
    replicated edge-neighbor tiles (tile BYTES move, not corner rows)
    and resolves all k² corners in numpy with the numpy twin of the
    kernel weight function (`_kernel_wfun_np` — bit-identical
    polynomials).  The k²·M corner shuffle, both of its Arrow
    crossings and the (trow, tcol) re-aggregation exchange disappear;
    the |Σw| >= 0.05 signed-mass guard and 6-dp rounding stay in the
    JVM on the kernel's (num, den, n) partials.  ``n_targets`` /
    ``src_shape`` size the superblocks (scaled by k²/4 so per-task
    gather work matches the bilinear plan's)."""
    import pandas as pd

    from ..sources import codec as _codec

    offs, _ = _kernel_offsets_wfun(kernel, a)
    wfun = _kernel_wfun_np(kernel, a)
    lead, trail = -min(offs), max(offs)
    k2 = len(offs) * len(offs)
    dims = images.select("w", "h").first()
    if dims is None:
        raise ValueError("kernel tiles plan: empty images table")
    t_w, t_h = int(dims["w"]), int(dims["h"])
    if lead >= min(t_h, t_w) or trail >= min(t_h, t_w):
        # the ±1-block halo replication only reaches one tile past a
        # block edge; a kernel wider than a tile would silently drop
        # contributions — refuse loudly (use the px-join plan instead)
        raise ValueError(
            f"kernel tiles plan: kernel half-width ({lead}/{trail}) must "
            f"be smaller than the tile side ({t_h}x{t_w}); pass px= "
            "instead of images= for kernels this wide")
    block = _superblock(
        None if n_targets is None else n_targets * k2 // 4,
        src_shape, t_h, t_w)
    b_h, b_w = block * t_h, block * t_w
    frac = target.select(
        "trow", "tcol",
        F.floor(u).cast("long").alias("r0"), (u - F.floor(u)).alias("du"),
        F.floor(v).cast("long").alias("c0"), (v - F.floor(v)).alias("dv"),
    ).select(
        "*",
        F.floor(F.col("r0") / F.lit(b_h)).cast("long").alias("_tr"),
        F.floor(F.col("c0") / F.lit(b_w)).cast("long").alias("_tc"),
    )
    # a stored tile feeds its own block, the NEXT block (whose lead
    # halo it supplies when it sits on its block's bottom/right edge)
    # and the PREVIOUS block (whose trail halo it supplies from the
    # top/left edge); lead/trail < tile side, so ±1 block suffices.
    # No _tr/_tc >= 0 filter — out-of-range targets key to block -1
    # and must still see the row-0/col-0 tiles as halo (the bilinear
    # upsampling review finding applies here identically).
    def _edge(axis_col, d):
        return ((d == 0)
                | ((d == -1) & (F.col(axis_col) % block == 0))
                | ((d == 1) & (F.col(axis_col) % block == block - 1)))

    rep = (images
           .select(F.col("tile_row").cast("long").alias("tile_row"),
                   F.col("tile_col").cast("long").alias("tile_col"),
                   "bytes", "fmt", "w", "h", "ndv")
           .withColumn("_da", F.explode(F.array(
               F.lit(0), F.lit(-1), F.lit(1))))
           .withColumn("_db", F.explode(F.array(
               F.lit(0), F.lit(-1), F.lit(1))))
           .filter(_edge("tile_row", F.col("_da"))
                   & _edge("tile_col", F.col("_db")))
           .select((F.floor(F.col("tile_row") / block).cast("long")
                    + F.col("_da")).alias("_tr"),
                   (F.floor(F.col("tile_col") / block).cast("long")
                    + F.col("_db")).alias("_tc"),
                   "tile_row", "tile_col", "bytes", "fmt", "w", "h", "ndv"))

    H, Wn = b_h + lead + trail, b_w + lead + trail

    def kernel_fn(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        cols = ["trow", "tcol", "num", "den", "n"]
        if not len(left):
            return pd.DataFrame({c: [] for c in cols})
        if len(right) and right.duplicated(["tile_row", "tile_col"]).any():
            raise ValueError(
                "kernel tiles plan: duplicate image rows share tile keys; "
                "resolve duplicates (e.g. union_mosaic) first")
        base_r = int(key[0]) * b_h - lead
        base_c = int(key[1]) * b_w - lead
        win = np.full((H, Wn), np.nan)
        for t in right.itertuples(index=False):
            t_ndv = float(t.ndv)
            arr = _codec.decode_tile(bytes(t.bytes), t.fmt,
                                     int(t.w), int(t.h), t_ndv)
            h, w = arr.shape
            gr0 = int(t.tile_row) * h
            gc0 = int(t.tile_col) * w
            r_lo, r_hi = max(gr0, base_r), min(gr0 + h, base_r + H)
            c_lo, c_hi = max(gc0, base_c), min(gc0 + w, base_c + Wn)
            if r_lo < r_hi and c_lo < c_hi:
                sub = arr[r_lo - gr0:r_hi - gr0,
                          c_lo - gc0:c_hi - gc0].astype(np.float64)
                sub = np.where(sub == t_ndv, np.nan, sub)
                win[r_lo - base_r:r_hi - base_r,
                    c_lo - base_c:c_hi - base_c] = sub
        r0l = left["r0"].to_numpy(np.int64) - base_r
        c0l = left["c0"].to_numpy(np.int64) - base_c
        du = left["du"].to_numpy(np.float64)
        dv = left["dv"].to_numpy(np.float64)
        wb_by_off = {ob: wfun(np.abs(ob - dv)) for ob in offs}
        num = np.zeros(len(left))
        den = np.zeros(len(left))
        n = np.zeros(len(left), np.int64)
        for oa in offs:
            wa = wfun(np.abs(oa - du))
            for ob in offs:
                vv = win[r0l + oa, c0l + ob]
                ok = ~np.isnan(vv)
                wgt = wa * wb_by_off[ob]
                num[ok] += wgt[ok] * vv[ok]
                den[ok] += wgt[ok]
                n[ok] += 1
        return pd.DataFrame({
            "trow": left["trow"].to_numpy(np.int64),
            "tcol": left["tcol"].to_numpy(np.int64),
            "num": num, "den": den, "n": n,
        })

    g = (frac.groupBy("_tr", "_tc")
         .cogroup(rep.groupBy("_tr", "_tc"))
         .applyInPandas(kernel_fn, schema="trow long, tcol long, num double, "
                                          "den double, n long"))
    return g.select(
        "trow", "tcol",
        F.when(F.abs(F.col("den")) >= 0.05,
               F.round(F.col("num") / F.col("den"), 6)).alias("value"),
        F.when(F.col("n") > 0, F.col("n")).cast("long").alias("n_contrib"),
    )


def _kernel_gather(px: DataFrame, target: DataFrame, u, v,
                   kernel: str, a: int = 3) -> DataFrame:
    """Shared nodata-aware convolution gather, target-CRS-AGNOSTIC
    (the cubic/lanczos analog of _bilinear_from_lonlat): the caller
    supplies the target lattice (trow, tcol) plus fractional source
    index Columns u (row) and v (col); the kernel's neighborhood
    explodes out, equi-joins the pixel table, and the (signed) weight
    mass renormalizes over valid neighbors. Catmull-Rom and Lanczos
    have NEGATIVE lobes: when nodata strips the positive mass, the
    renormalized value blows up — cells with |Σw| < 0.05 emit NULL
    (no reliable estimate), mirrored in the numpy oracles. Pure
    DataFrame ops: explode(k²) + equi-join + groupBy — no UDF."""
    corners = _kernel_corners(target, u, v, kernel, a)
    j = corners.join(px.select("row", "col", "value"), ["row", "col"])
    out = j.groupBy("trow", "tcol").agg(
        F.when(
            F.abs(F.sum("wgt")) >= 0.05,
            F.round(F.sum(F.col("wgt") * F.col("value")) / F.sum("wgt"), 6),
        ).alias("value"),
        F.count(F.lit(1)).cast("long").alias("n_contrib"),
    )
    return target.select("trow", "tcol").join(out, ["trow", "tcol"], "left")


_SPLINE_POLE = math.sqrt(3.0) - 2.0  # Unser's cubic B-spline pole


def spline_filter1d_mirror(a: np.ndarray) -> np.ndarray:
    """EXACT cubic B-spline prefilter along a 1-D line, mirror
    (whole-sample symmetric, period 2n-2) boundary — Unser's recursive
    filter (pole z = sqrt(3)-2, gain 6) with the exact geometric-sum
    causal init, not the truncated one.  After this, evaluating the
    B-spline basis at integer points reproduces the input samples:
    (c[i-1] + 4 c[i] + c[i+1]) / 6 == a[i].  This is the prefilter
    skimage.transform.resize(order=3) applies (the reference's resize
    delegate, georasters.py:1095-1139)."""
    a = np.asarray(a, dtype=np.float64)
    n = a.shape[0]
    if n == 1:
        return a.copy()
    z = _SPLINE_POLE
    c = a * 6.0
    # causal init: c+[0] = sum_{k>=0} z^k a_ext[-k] over the mirrored
    # period, summed in closed form
    p = 2 * n - 2
    zk = z ** np.arange(1, n - 1, dtype=np.float64)
    zk2 = z ** np.arange(p - 1, n - 1, -1, dtype=np.float64)
    c0 = (c[0] + (z ** (n - 1)) * c[n - 1] + ((zk + zk2) * c[1 : n - 1]).sum()) \
        / (1.0 - z ** p)
    cp = np.empty(n, dtype=np.float64)
    cp[0] = c0
    for k in range(1, n):
        cp[k] = c[k] + z * cp[k - 1]
    out = np.empty(n, dtype=np.float64)
    out[n - 1] = (z / (z * z - 1.0)) * (z * cp[n - 2] + cp[n - 1])
    for k in range(n - 2, -1, -1):
        out[k] = z * (out[k + 1] - cp[k])
    return out


def spline_filter_matrix(n: int) -> np.ndarray:
    """(n, n) dense matrix M with M @ a == spline_filter1d_mirror(a)
    (up to float-linearity reassociation): each column is the filter
    run on a basis vector.  Used by the SQL oracle to re-derive the
    prefilter as literal weights — the IIR recursion itself is not
    SQL-expressible."""
    m = np.empty((n, n), dtype=np.float64)
    for k in range(n):
        e = np.zeros(n, dtype=np.float64)
        e[k] = 1.0
        m[:, k] = spline_filter1d_mirror(e)
    return m


def spline_prefilter_px(px: DataFrame, src_shape: tuple[int, int]) -> DataFrame:
    """Distributed 2-D cubic B-spline prefilter over a DENSE pixel
    grid: two grouped-map stages — filter along columns within each
    row, then along rows within each column.  Lines are independent,
    so parallelism is min(h, w) per stage no matter the grid size; the
    only shuffles are the two groupBy exchanges (row, then col).  The
    IIR recursion has no nodata semantics (neither does skimage's
    order-3); a row/column with missing cells raises."""
    import pandas as pd

    h, w = src_shape

    def _line(key_col: str, sort_col: str, n: int):
        def f(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values(sort_col)
            if len(pdf) != n or pdf[sort_col].iloc[0] != 0 \
                    or pdf[sort_col].iloc[-1] != n - 1:
                raise ValueError(
                    f"spline_prefilter_px: non-dense {key_col} line "
                    f"(got {len(pdf)} of {n} cells)")
            pdf = pdf.copy()
            pdf["value"] = spline_filter1d_mirror(pdf["value"].to_numpy())
            return pdf
        return f

    cols = px.select("row", "col", F.col("value").cast("double").alias("value"))
    schema = "row long, col long, value double"
    pass1 = cols.groupBy("row").applyInPandas(_line("row", "col", w), schema)
    return pass1.groupBy("col").applyInPandas(_line("col", "row", h), schema)


def _mirror_idx(idx, n: int):
    """Mirror an integer index Column into [0, n) with period 2n-2
    (whole-sample symmetric — skimage/scipy mode 'mirror')."""
    if n == 1:
        return F.lit(0).cast("long")
    p = 2 * n - 2
    m = F.pmod(idx, F.lit(p))
    return F.when(m < n, m).otherwise(F.lit(p) - m).cast("long")


def _kernel_gather_spline(px: DataFrame, target: DataFrame, u, v,
                          h: int, w: int) -> DataFrame:
    """B-spline evaluation gather with MIRROR edge indexing and no
    weight renormalization: the 16 basis weights always sum to 1 and
    the coefficients already encode interpolation, so value =
    Σ w·c exactly (matching skimage's reflecting warp, unlike the
    nodata-renormalizing _kernel_gather)."""
    # the shared corner lattice, with row/col wrapped into [0, n) by the
    # mirror rule (only the indexing differs from the renormalizing plans)
    corners = _kernel_corners(target, u, v, "bspline").select(
        "trow", "tcol",
        _mirror_idx(F.col("row"), h).alias("row"),
        _mirror_idx(F.col("col"), w).alias("col"),
        "wgt",
    )
    j = corners.join(px.select("row", "col", "value"), ["row", "col"])
    return j.groupBy("trow", "tcol").agg(
        F.round(F.sum(F.col("wgt") * F.col("value")), 6).alias("value"),
        F.count(F.lit(1)).cast("long").alias("n_contrib"),
    )


def resize_grid(px: DataFrame, src_shape: tuple[int, int],
                out_shape: tuple[int, int], order: int = 0,
                prefilter: bool = True) -> DataFrame:
    """Reference resize(shape, order=) (georasters.py:1095-1139 passes
    order through to skimage.transform.resize). order=0: center-rule
    nearest gather (the reference default). order=1: bilinear on the
    identity grid — skimage's (t+0.5)·scale−0.5 coordinate map with
    GDAL-style nodata-aware weight renormalization at masked cells and
    edges (skimage instead reflects at edges; divergence documented).
    order=3 (prefilter=True, the default): skimage-parity
    interpolating cubic spline — the distributed Unser IIR prefilter
    (spline_prefilter_px) then B-spline basis evaluation with mirror
    edges; requires a dense grid, like skimage.  order=3 with
    prefilter=False: the GDAL 'cubic' Catmull-Rom kernel with
    nodata-aware renormalization (the pre-r6 behavior, kept for
    nodata-bearing grids).  Other orders refuse loudly."""
    spark = px.sparkSession
    h, w = src_shape
    th, tw = out_shape
    target = (
        spark.range(th)
        .select(F.col("id").alias("trow"))
        .crossJoin(spark.range(tw).select(F.col("id").alias("tcol")))
    )
    if order == 0:
        tgt = target.select(
            "trow", "tcol",
            F.expr(f"((2 * trow + 1) * {h}) DIV (2 * {th})").alias("row"),
            F.expr(f"((2 * tcol + 1) * {w}) DIV (2 * {tw})").alias("col"),
        )
        return tgt.join(px.select("row", "col", "value"),
                        ["row", "col"], "left").select("trow", "tcol", "value")
    lat = (F.col("trow") + F.lit(0.5)) * F.lit(h / th)
    lon = (F.col("tcol") + F.lit(0.5)) * F.lit(w / tw)
    if order == 1:
        return _bilinear_from_lonlat(px, target, lon, lat, (0.0, 0.0), (1.0, 1.0))
    if order == 3:
        u = F.round((lat - F.lit(0.0)) / F.lit(1.0) - F.lit(0.5), _Q)
        v = F.round((lon - F.lit(0.0)) / F.lit(1.0) - F.lit(0.5), _Q)
        if prefilter:
            coef = spline_prefilter_px(px, src_shape)
            out = _kernel_gather_spline(coef, target, u, v, h, w)
            return target.select("trow", "tcol").join(
                out, ["trow", "tcol"], "left")
        return _kernel_gather(px, target, u, v, "catmull")
    raise NotImplementedError(
        "resize order must be 0 (nearest), 1 (bilinear) or 3 (cubic)")


def kernel_weight_sql(kernel: str, t: str, a: int = 3) -> str:
    """DuckDB SQL for the _kernel_offsets_wfun weight of distance
    expression `t`, emitted with the SAME multiply pairing as the
    Column expressions (t3 = (t*t)*t etc.) so both engines compute the
    identical float sequence."""
    if kernel == "catmull":
        t2 = f"({t} * {t})"
        t3 = f"(({t} * {t}) * {t})"
        return (f"CASE WHEN {t} <= 1.0 THEN 1.5 * {t3} - 2.5 * {t2} + 1.0 "
                f"ELSE -0.5 * {t3} + 2.5 * {t2} - 4.0 * {t} + 2.0 END")
    if kernel == "bspline":
        t2 = f"({t} * {t})"
        t3 = f"(({t} * {t}) * {t})"
        tt = f"(2.0 - {t})"
        return (f"CASE WHEN {t} <= 1.0 "
                f"THEN (4.0 - 6.0 * {t2} + 3.0 * {t3}) / 6.0 "
                f"ELSE {tt} * {tt} * {tt} / 6.0 END")
    if kernel == "lanczos":
        pi_l = dlit(math.pi)
        pit = f"({pi_l} * {t})"
        pita = f"({pit} / {dlit(float(a))})"
        sinc = f"CASE WHEN {t} = 0.0 THEN 1.0 ELSE sin({pit}) / {pit} END"
        sinca = f"CASE WHEN {t} = 0.0 THEN 1.0 ELSE sin({pita}) / {pita} END"
        return (f"CASE WHEN {t} < {dlit(float(a))} "
                f"THEN ({sinc}) * ({sinca}) ELSE 0.0 END")
    raise ValueError(f"unknown resampling kernel {kernel!r}")


def kernel_offsets(kernel: str, a: int = 3) -> tuple:
    """Neighbor offsets for a kernel name (shared by the SQL gates)."""
    return _kernel_offsets_wfun(kernel, a)[0]


def _bucket_agg(binned: DataFrame, how: str, in_grid: str | None = None) -> DataFrame:
    """Shared per-target-cell aggregate for the GDAL average-family
    warp (average/sum/min/max/count/mode/rms/med/q1/q3 — the complete
    gdalwarp -r aggregate family): `binned` holds
    (trow, tcol, value) rows of forward-projected source centers.
    One grouped aggregate; map-side partials make it shuffle-light.
    mode uses a two-level count + max_by with a smallest-value
    tie-break (deterministic, unlike F.mode). Only non-empty target
    cells are emitted (GDAL leaves the rest nodata). `in_grid` names
    a boolean column of binned: groups where it never holds are
    dropped after the (first) aggregate, where no filter can be pushed
    back down into the projections that computed it."""
    flag = [F.max(in_grid).alias(in_grid)] if in_grid else []

    def in_grid_only(df: DataFrame) -> DataFrame:
        return df.filter(F.col(in_grid)).drop(in_grid) if in_grid else df

    if how == "mode":
        per_val = in_grid_only(binned.groupBy("trow", "tcol", "value").agg(
            F.count(F.lit(1)).alias("cnt"), *flag
        ))
        return per_val.groupBy("trow", "tcol").agg(
            F.expr("max_by(value, struct(cnt, -value))").alias("value"),
            F.sum("cnt").cast("long").alias("n_contrib"),
        )
    aggs = {
        "mean": F.round(F.sum("value") / F.count("value"), 6),
        "sum": F.sum("value"),
        "min": F.min("value"),
        "max": F.max("value"),
        "count": F.count("value").cast("long"),
        # GDAL's quartile family (gdalwarp -r rms/med/q1/q3): rms from
        # the exact integer sum of squares; med/q1/q3 by the standard
        # linear-interpolated quantile (Spark percentile == DuckDB
        # quantile_cont on integer inputs)
        "rms": F.round(F.sqrt(F.sum(F.col("value") * F.col("value"))
                              / F.count("value")), 6),
        "med": F.round(F.median("value"), 6),
        "q1": F.round(F.percentile("value", F.lit(0.25)), 6),
        "q3": F.round(F.percentile("value", F.lit(0.75)), 6),
    }
    if how not in aggs:
        raise ValueError(f"unknown resampling aggregate {how!r}")
    return in_grid_only(binned.groupBy("trow", "tcol").agg(
        aggs[how].alias("value"),
        F.count("value").cast("long").alias("n_contrib"),
        *flag,
    ))


def wgs84_to_cea_grid_cubic(
    px: DataFrame,
    src_origin: tuple[float, float],
    src_cellsize: tuple[float, float],
    src_shape: tuple[int, int],
    out_shape: tuple[int, int],
    phi_s: float = 0.0,
    kernel: str = "catmull",
    images: DataFrame | None = None,
) -> DataFrame:
    """CEA warp with CUBIC resampling: 4×4 neighbor gather with
    piecewise-cubic weights, masked neighbors dropped and the weight
    mass renormalized. explode(16) + equi-join + groupBy, no UDF.
    kernel='catmull' (a = -0.5 — the GDAL 'cubic' kernel) or
    'bspline' (the cubic B-spline basis — GDAL's 'cubicspline'
    APPROXIMATING kernel: all-positive partition-of-unity weights,
    smoothing rather than interpolating, hence LOCAL — no global
    prefilter is involved in GDAL's mode either).

    ``images`` switches to the tile-cogrouped gather
    (``_kernel_gather_tiles``); ``px`` may then be None."""
    spark = (px if px is not None else images).sparkSession
    h, w = src_shape
    th, tw = out_shape
    x0g, y0g = src_origin
    cx, cy = src_cellsize
    X0, Y1, X1, Y0 = cea_bounds(x0g, y0g + h * cy, x0g + w * cx, y0g, phi_s)
    tcx = (X1 - X0) / tw
    tcy = (Y1 - Y0) / th
    k = math.cos(math.radians(phi_s))

    target = (
        spark.range(th)
        .select(F.col("id").alias("trow"))
        .crossJoin(spark.range(tw).select(F.col("id").alias("tcol")))
    )
    xm = F.lit(X0) + (F.col("tcol") + F.lit(0.5)) * F.lit(tcx)
    ym = F.lit(Y0) + (F.col("trow") + F.lit(0.5)) * F.lit(tcy)
    lon = xm / F.lit(R * k) * F.lit(180.0) / F.lit(math.pi)
    lat = F.asin(ym * F.lit(k / R)) * F.lit(180.0) / F.lit(math.pi)
    u = F.round((lat - F.lit(y0g)) / F.lit(cy) - F.lit(0.5), _Q)
    v = F.round((lon - F.lit(x0g)) / F.lit(cx) - F.lit(0.5), _Q)
    if images is not None:
        return _kernel_gather_tiles(images, target, u, v, kernel,
                                    n_targets=th * tw, src_shape=src_shape)
    return _kernel_gather(px, target, u, v, kernel)


def cea_cubic_numpy_oracle(
    full: np.ndarray,
    ndv: float,
    src_origin: tuple[float, float],
    src_cellsize: tuple[float, float],
    out_shape: tuple[int, int],
    phi_s: float = 0.0,
    kernel: str = "catmull",
):
    """Independent numpy cubic warp (same quantized index, same
    valid-weight renormalization); kernel='catmull' | 'bspline'.
    Returns (value, n_contrib)."""
    h, w = full.shape
    th, tw = out_shape
    x0g, y0g = src_origin
    cx, cy = src_cellsize
    X0, Y1, X1, Y0 = cea_bounds(x0g, y0g + h * cy, x0g + w * cx, y0g, phi_s)
    tcx = (X1 - X0) / tw
    tcy = (Y1 - Y0) / th
    k = math.cos(math.radians(phi_s))
    tr, tc = np.meshgrid(np.arange(th), np.arange(tw), indexing="ij")
    xm = X0 + (tc + 0.5) * tcx
    ym = Y0 + (tr + 0.5) * tcy
    lon = xm / (R * k) * 180.0 / np.pi
    lat = np.arcsin(ym * (k / R)) * 180.0 / np.pi
    u = np.round((lat - y0g) / cy - 0.5, _Q)
    v = np.round((lon - x0g) / cx - 0.5, _Q)
    r0 = np.floor(u).astype(np.int64)
    c0 = np.floor(v).astype(np.int64)
    du, dv = u - r0, v - c0

    def cm_catmull(t):
        return np.where(t <= 1.0, 1.5 * t**3 - 2.5 * t**2 + 1.0,
                        -0.5 * t**3 + 2.5 * t**2 - 4.0 * t + 2.0)

    def cm_bspline(t):
        return np.where(t <= 1.0, (4.0 - 6.0 * t**2 + 3.0 * t**3) / 6.0,
                        (2.0 - t) ** 3 / 6.0)

    cm = cm_catmull if kernel == "catmull" else cm_bspline

    valid = full != ndv
    num = np.zeros(out_shape)
    den = np.zeros(out_shape)
    cnt = np.zeros(out_shape, dtype=np.int64)
    for a in (-1, 0, 1, 2):
        for b in (-1, 0, 1, 2):
            rr, cc = r0 + a, c0 + b
            ok = (rr >= 0) & (rr < h) & (cc >= 0) & (cc < w)
            ok &= valid[np.clip(rr, 0, h - 1), np.clip(cc, 0, w - 1)]
            wgt = cm(np.abs(a - du)) * cm(np.abs(b - dv))
            num[ok] += wgt[ok] * full[rr[ok], cc[ok]]
            den[ok] += wgt[ok]
            cnt[ok] += 1
    out = np.full(out_shape, np.nan)
    nz = np.abs(den) >= 0.05  # same weight-mass guard as the Spark path
    out[nz] = num[nz] / den[nz]
    return out, cnt


def wgs84_to_cea_grid_lanczos(
    px: DataFrame,
    src_origin: tuple[float, float],
    src_cellsize: tuple[float, float],
    src_shape: tuple[int, int],
    out_shape: tuple[int, int],
    phi_s: float = 0.0,
    a: int = 3,
    images: DataFrame | None = None,
) -> DataFrame:
    """CEA warp with LANCZOS resampling (GDAL 'lanczos', a=3): 6×6
    neighbor gather with L(t) = sinc(t)·sinc(t/a) weights, masked
    neighbors dropped and the (signed) weight mass renormalized with
    the same |Σw| >= 0.05 guard as cubic. explode(36) + equi-join +
    groupBy, no UDF.

    ``images`` switches to the tile-cogrouped gather
    (``_kernel_gather_tiles``); ``px`` may then be None."""
    spark = (px if px is not None else images).sparkSession
    h, w = src_shape
    th, tw = out_shape
    x0g, y0g = src_origin
    cx, cy = src_cellsize
    X0, Y1, X1, Y0 = cea_bounds(x0g, y0g + h * cy, x0g + w * cx, y0g, phi_s)
    tcx = (X1 - X0) / tw
    tcy = (Y1 - Y0) / th
    k = math.cos(math.radians(phi_s))

    target = (
        spark.range(th)
        .select(F.col("id").alias("trow"))
        .crossJoin(spark.range(tw).select(F.col("id").alias("tcol")))
    )
    xm = F.lit(X0) + (F.col("tcol") + F.lit(0.5)) * F.lit(tcx)
    ym = F.lit(Y0) + (F.col("trow") + F.lit(0.5)) * F.lit(tcy)
    lon = xm / F.lit(R * k) * F.lit(180.0) / F.lit(math.pi)
    lat = F.asin(ym * F.lit(k / R)) * F.lit(180.0) / F.lit(math.pi)
    u = F.round((lat - F.lit(y0g)) / F.lit(cy) - F.lit(0.5), _Q)
    v = F.round((lon - F.lit(x0g)) / F.lit(cx) - F.lit(0.5), _Q)
    if images is not None:
        return _kernel_gather_tiles(images, target, u, v, "lanczos", a,
                                    n_targets=th * tw, src_shape=src_shape)
    return _kernel_gather(px, target, u, v, "lanczos", a)


def cea_lanczos_numpy_oracle(
    full: np.ndarray,
    ndv: float,
    src_origin: tuple[float, float],
    src_cellsize: tuple[float, float],
    out_shape: tuple[int, int],
    phi_s: float = 0.0,
    a: int = 3,
):
    """Independent numpy Lanczos warp (same quantized index, same
    weight-mass guard)."""
    h, w = full.shape
    th, tw = out_shape
    x0g, y0g = src_origin
    cx, cy = src_cellsize
    X0, Y1, X1, Y0 = cea_bounds(x0g, y0g + h * cy, x0g + w * cx, y0g, phi_s)
    tcx = (X1 - X0) / tw
    tcy = (Y1 - Y0) / th
    k = math.cos(math.radians(phi_s))
    tr, tc = np.meshgrid(np.arange(th), np.arange(tw), indexing="ij")
    xm = X0 + (tc + 0.5) * tcx
    ym = Y0 + (tr + 0.5) * tcy
    lon = xm / (R * k) * 180.0 / np.pi
    lat = np.arcsin(ym * (k / R)) * 180.0 / np.pi
    u = np.round((lat - y0g) / cy - 0.5, _Q)
    v = np.round((lon - x0g) / cx - 0.5, _Q)
    r0 = np.floor(u).astype(np.int64)
    c0 = np.floor(v).astype(np.int64)
    du, dv = u - r0, v - c0

    def lanc(t):
        with np.errstate(invalid="ignore", divide="ignore"):
            s = np.where(t == 0.0, 1.0, np.sin(np.pi * t) / (np.pi * t))
            sa = np.where(t == 0.0, 1.0, np.sin(np.pi * t / a) / (np.pi * t / a))
        return np.where(t < a, s * sa, 0.0)

    valid = full != ndv
    num = np.zeros(out_shape)
    den = np.zeros(out_shape)
    cnt = np.zeros(out_shape, dtype=np.int64)
    for i in range(1 - a, a + 1):
        for j in range(1 - a, a + 1):
            rr, cc = r0 + i, c0 + j
            ok = (rr >= 0) & (rr < h) & (cc >= 0) & (cc < w)
            ok &= valid[np.clip(rr, 0, h - 1), np.clip(cc, 0, w - 1)]
            wgt = lanc(np.abs(i - du)) * lanc(np.abs(j - dv))
            num[ok] += wgt[ok] * full[rr[ok], cc[ok]]
            den[ok] += wgt[ok]
            cnt[ok] += 1
    out = np.full(out_shape, np.nan)
    nz = np.abs(den) >= 0.05
    out[nz] = num[nz] / den[nz]
    return out, cnt


# ---------------------------------------------------------------------------
# UTM / transverse Mercator (EPSG:326xx / 327xx, +proj=utm) — the
# ellipsoidal Krüger series (4th order in the third flattening n; the
# standard public formulation, e.g. Karney 2011 "Transverse Mercator
# with an accuracy of a few nanometers" §3 / the classic Krüger 1912
# series). Truncation error at 4th order is sub-millimeter inside a UTM
# zone. The reference reaches these CRSs through GDAL
# (georasters.py:559-667); here both directions are closed-form series:
# forward in numpy (driver-side target-bounds + test oracles), inverse
# as pure JVM Column trig (sin/cos/sinh/cosh/asin/atan2 — whole-stage
# codegen, no UDF), so the warp stays an inverse-projection gather.
# ---------------------------------------------------------------------------

_WGS84_A = 6378137.0
_WGS84_F = 1.0 / 298.257223563
_UTM_K0 = 0.9996
_UTM_FE = 500000.0


def _tm_series(f: float = _WGS84_F, a: float = _WGS84_A):
    """Krüger-series constants for an ellipsoid with flattening f and
    semi-major axis a: rectifying radius A and the alpha (forward),
    beta (inverse series), delta (conformal->geographic latitude)
    coefficient triples."""
    n = f / (2.0 - f)
    n2, n3, n4 = n * n, n ** 3, n ** 4
    A = a / (1 + n) * (1 + n2 / 4 + n4 / 64)
    alpha = (
        n / 2 - 2 * n2 / 3 + 5 * n3 / 16 + 41 * n4 / 180,
        13 * n2 / 48 - 3 * n3 / 5 + 557 * n4 / 1440,
        61 * n3 / 240 - 103 * n4 / 140,
        49561 * n4 / 161280,
    )
    beta = (
        n / 2 - 2 * n2 / 3 + 37 * n3 / 96 - n4 / 360,
        n2 / 48 + n3 / 15 - 437 * n4 / 1440,
        17 * n3 / 480 - 37 * n4 / 840,
        4397 * n4 / 161280,
    )
    delta = (
        2 * n - 2 * n2 / 3 - 2 * n3 + 116 * n4 / 45,
        7 * n2 / 3 - 8 * n3 / 5 - 227 * n4 / 45,
        56 * n3 / 15 - 136 * n4 / 35,
        4279 * n4 / 630,
    )
    return n, A, alpha, beta, delta


def utm_lon0(zone: int) -> float:
    return zone * 6.0 - 183.0


def tm_forward_np(lon, lat, lon0: float, k0: float = _UTM_K0,
                  fe: float = _UTM_FE, fn: float = 0.0, f: float = _WGS84_F,
                  a: float = _WGS84_A):
    """Ellipsoidal transverse-Mercator forward (numpy): (lon, lat)
    degrees -> (E, N) meters."""
    n, A, alpha, _, _ = _tm_series(f, a)
    lam = np.radians(np.asarray(lon, dtype=np.float64) - lon0)
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    es = 2.0 * math.sqrt(n) / (1.0 + n)
    sphi = np.sin(phi)
    t = np.sinh(np.arctanh(sphi) - es * np.arctanh(es * sphi))
    xip = np.arctan2(t, np.cos(lam))
    etap = np.arctanh(np.sin(lam) / np.sqrt(1.0 + t * t))
    xi = xip.copy()
    eta = etap.copy()
    for j, a in enumerate(alpha, 1):
        xi = xi + a * np.sin(2 * j * xip) * np.cosh(2 * j * etap)
        eta = eta + a * np.cos(2 * j * xip) * np.sinh(2 * j * etap)
    return fe + k0 * A * eta, fn + k0 * A * xi


def tm_inverse_np(E, N, lon0: float, k0: float = _UTM_K0,
                  fe: float = _UTM_FE, fn: float = 0.0, f: float = _WGS84_F,
                  a: float = _WGS84_A):
    """Ellipsoidal transverse-Mercator inverse (numpy test oracle):
    (E, N) meters -> (lon, lat) degrees."""
    n, A, _, beta, delta = _tm_series(f, a)
    xi = (np.asarray(N, dtype=np.float64) - fn) / (k0 * A)
    eta = (np.asarray(E, dtype=np.float64) - fe) / (k0 * A)
    xip = xi.copy()
    etap = eta.copy()
    for j, b in enumerate(beta, 1):
        xip = xip - b * np.sin(2 * j * xi) * np.cosh(2 * j * eta)
        etap = etap - b * np.cos(2 * j * xi) * np.sinh(2 * j * eta)
    chi = np.arcsin(np.sin(xip) / np.cosh(etap))
    phi = chi.copy()
    for j, d in enumerate(delta, 1):
        phi = phi + d * np.sin(2 * j * chi)
    lam = np.arctan2(np.sinh(etap), np.cos(xip))
    return np.degrees(lam) + lon0, np.degrees(phi)


def tm_inverse_cols(E, N, lon0: float, k0: float = _UTM_K0,
                    fe: float = _UTM_FE, fn: float = 0.0, f: float = _WGS84_F,
                    a: float = _WGS84_A):
    """The same inverse as pyspark Column expressions: (E, N) Columns ->
    (lon, lat) Columns in degrees. Every term is built in the SAME
    order as tm_inverse_np / tm_inverse_sql so all three agree to
    engine-trig ulps (the gather quantization absorbs those)."""
    n, A, _, beta, delta = _tm_series(f, a)
    xi = (N - F.lit(fn)) / F.lit(k0 * A)
    eta = (E - F.lit(fe)) / F.lit(k0 * A)
    xip = xi
    etap = eta
    for j, b in enumerate(beta, 1):
        xip = xip - F.lit(b) * F.sin(F.lit(float(2 * j)) * xi) * F.cosh(F.lit(float(2 * j)) * eta)
        etap = etap - F.lit(b) * F.cos(F.lit(float(2 * j)) * xi) * F.sinh(F.lit(float(2 * j)) * eta)
    chi = F.asin(F.sin(xip) / F.cosh(etap))
    phi = chi
    for j, d in enumerate(delta, 1):
        phi = phi + F.lit(d) * F.sin(F.lit(float(2 * j)) * chi)
    lam = F.atan2(F.sinh(etap), F.cos(xip))
    lon = lam * F.lit(180.0) / F.lit(math.pi) + F.lit(lon0)
    lat = phi * F.lit(180.0) / F.lit(math.pi)
    return lon, lat


def tm_inverse_sql(e_expr: str, n_expr: str, lon0: float, k0: float = _UTM_K0,
                   fe: float = _UTM_FE, fn: float = 0.0,
                   f: float = _WGS84_F,
                   a: float = _WGS84_A) -> tuple[str, str, str]:
    """DuckDB SQL for the same inverse, emitted term-for-term in the
    tm_inverse_cols order. Returns (cte_sql, lon_col, lat_col): a CTE
    chain computing lon/lat from columns e_expr/n_expr of table `tgt`
    (intermediate CTEs carry trow/tcol through)."""
    n, A, _, beta, delta = _tm_series(f, a)

    # DuckDB has no sinh/cosh — spell them with exp. The downstream
    # gather quantizes u before floor, so the ulp-level difference vs
    # JVM Math.sinh/cosh is absorbed like every other trig difference.
    def cosh_s(y: str) -> str:
        return f"((exp({y}) + exp(-({y}))) / 2.0)"

    def sinh_s(y: str) -> str:
        return f"((exp({y}) - exp(-({y}))) / 2.0)"

    xi = f"(({n_expr}) - {dlit(fn)}) / {dlit(k0 * A)}"
    eta = f"(({e_expr}) - {dlit(fe)}) / {dlit(k0 * A)}"
    xip_terms = "xi" + "".join(
        f" - {dlit(b)} * sin({dlit(float(2 * j))} * xi) * "
        + cosh_s(f"{dlit(float(2 * j))} * eta")
        for j, b in enumerate(beta, 1)
    )
    etap_terms = "eta" + "".join(
        f" - {dlit(b)} * cos({dlit(float(2 * j))} * xi) * "
        + sinh_s(f"{dlit(float(2 * j))} * eta")
        for j, b in enumerate(beta, 1)
    )
    phi_terms = "chi" + "".join(
        f" + {dlit(d)} * sin({dlit(float(2 * j))} * chi)"
        for j, d in enumerate(delta, 1)
    )
    cte = f"""t1 AS (SELECT trow, tcol, em, nm, {xi} AS xi, {eta} AS eta FROM tgt),
t2 AS (SELECT trow, tcol, em, nm, {xip_terms} AS xip, {etap_terms} AS etap FROM t1),
t3 AS (SELECT trow, tcol, em, nm, xip, etap, asin(sin(xip) / {cosh_s('etap')}) AS chi FROM t2),
loc0 AS (SELECT trow, tcol, em, nm,
                atan2({sinh_s('etap')}, cos(xip)) * 180.0 / pi() + {dlit(lon0)} AS lon,
                ({phi_terms}) * 180.0 / pi() AS lat
         FROM t3)"""
    return cte, "lon", "lat"


def _utm_target_bounds(src_origin, src_cellsize, src_shape, lon0: float,
                       fn: float = 0.0, n_samples: int = 64,
                       bbox_lonlat=None):
    """Projected bounds of the source bbox: densely sample the bbox
    BOUNDARY and forward-project (the TM image of a graticule rectangle
    is not a rectangle; corner-only bounds would clip). Driver-side
    numpy over 4·n_samples points — metadata cost. bbox_lonlat =
    (lon_min, lat_min, lon_max, lat_max) overrides the source extent —
    REQUIRED when the source grid is wider than the UTM zone (the
    Krüger series diverges past ~±40° of the central meridian; a UTM
    warp of a global raster targets one zone window, like GDAL -te)."""
    h, w = src_shape
    x0g, y0g = src_origin
    cx, cy = src_cellsize
    if bbox_lonlat is not None:
        lon_a, lat_a, lon_b, lat_b = bbox_lonlat
    else:
        lon_a, lon_b = x0g, x0g + w * cx
        lat_a, lat_b = y0g + h * cy, y0g
    if max(abs(lon_a - lon0), abs(lon_b - lon0)) > 40.0:
        raise NotImplementedError(
            "UTM target: source extent reaches beyond ±40° of the zone's "
            "central meridian, where the Krüger series diverges — pass "
            "bbox_lonlat to window the warp to the zone"
        )
    lons, lats = _boundary_samples(lon_a, lat_a, lon_b, lat_b, n_samples)
    E, N = tm_forward_np(lons, lats, lon0, fn=fn)
    return float(E.min()), float(N.min()), float(E.max()), float(N.max())


def wgs84_to_utm_grid(
    px: DataFrame,
    src_origin: tuple[float, float],
    src_cellsize: tuple[float, float],
    src_shape: tuple[int, int],
    out_shape: tuple[int, int],
    zone: int,
    south: bool = False,
    bbox_lonlat=None,
) -> DataFrame:
    """Warp onto a UTM target grid (nearest): same inverse-gather shape
    as CEA/WebMercator with the Krüger-series inverse as JVM Columns.
    bbox_lonlat windows the target to the zone (see _utm_target_bounds)."""
    spark = px.sparkSession
    th, tw = out_shape
    x0g, y0g = src_origin
    cx, cy = src_cellsize
    lon0 = utm_lon0(zone)
    fn = 10000000.0 if south else 0.0
    E0, N0b, E1, N1b = _utm_target_bounds(src_origin, src_cellsize, src_shape, lon0, fn,
                                          bbox_lonlat=bbox_lonlat)
    tcx = (E1 - E0) / tw
    tcy = (N0b - N1b) / th  # negative: row 0 = max northing (north-up)

    target = (
        spark.range(th)
        .select(F.col("id").alias("trow"))
        .crossJoin(spark.range(tw).select(F.col("id").alias("tcol")))
    )
    em = F.lit(E0) + (F.col("tcol") + F.lit(0.5)) * F.lit(tcx)
    # N1b = MAX northing; tcy < 0, so row 0 sits at the top (north-up)
    nm = F.lit(N1b) + (F.col("trow") + F.lit(0.5)) * F.lit(tcy)
    lon, lat = tm_inverse_cols(em, nm, lon0, fn=fn)
    srow = F.floor(F.round((lat - F.lit(y0g)) / F.lit(cy), _Q)).cast("long")
    scol = F.floor(F.round((lon - F.lit(x0g)) / F.lit(cx), _Q)).cast("long")
    tgt = target.select(
        "trow", "tcol", em.alias("em"), nm.alias("nm"),
        srow.alias("row"), scol.alias("col"),
    )
    return tgt.join(px.select("row", "col", "value"), ["row", "col"], "left").select(
        "trow", "tcol", "em", "nm", "value"
    )


def wgs84_to_utm_grid_bilinear(
    px: DataFrame,
    src_origin: tuple[float, float],
    src_cellsize: tuple[float, float],
    src_shape: tuple[int, int],
    out_shape: tuple[int, int],
    zone: int,
    south: bool = False,
    bbox_lonlat=None,
) -> DataFrame:
    """UTM warp with bilinear resampling via the CRS-agnostic kernel."""
    spark = px.sparkSession
    th, tw = out_shape
    lon0 = utm_lon0(zone)
    fn = 10000000.0 if south else 0.0
    E0, N0b, E1, N1b = _utm_target_bounds(src_origin, src_cellsize, src_shape, lon0, fn,
                                          bbox_lonlat=bbox_lonlat)
    tcx = (E1 - E0) / tw
    tcy = (N0b - N1b) / th
    target = (
        spark.range(th)
        .select(F.col("id").alias("trow"))
        .crossJoin(spark.range(tw).select(F.col("id").alias("tcol")))
    )
    em = F.lit(E0) + (F.col("tcol") + F.lit(0.5)) * F.lit(tcx)
    nm = F.lit(N1b) + (F.col("trow") + F.lit(0.5)) * F.lit(tcy)
    lon, lat = tm_inverse_cols(em, nm, lon0, fn=fn)
    return _bilinear_from_lonlat(px, target, lon, lat, src_origin, src_cellsize)


def utm_numpy_oracle(
    full: np.ndarray,
    ndv: float,
    src_origin: tuple[float, float],
    src_cellsize: tuple[float, float],
    out_shape: tuple[int, int],
    zone: int,
    south: bool = False,
    bbox_lonlat=None,
):
    """Independent numpy nearest UTM warp (differential pytest oracle)."""
    h, w = full.shape
    th, tw = out_shape
    x0g, y0g = src_origin
    cx, cy = src_cellsize
    lon0 = utm_lon0(zone)
    fn = 10000000.0 if south else 0.0
    E0, N0b, E1, N1b = _utm_target_bounds(src_origin, src_cellsize, (h, w), lon0, fn,
                                          bbox_lonlat=bbox_lonlat)
    tcx = (E1 - E0) / tw
    tcy = (N0b - N1b) / th
    tr, tc = np.meshgrid(np.arange(th), np.arange(tw), indexing="ij")
    em = E0 + (tc + 0.5) * tcx
    nm = N1b + (tr + 0.5) * tcy
    lon, lat = tm_inverse_np(em, nm, lon0, fn=fn)
    srow = np.floor(np.round((lat - y0g) / cy, _Q)).astype(np.int64)
    scol = np.floor(np.round((lon - x0g) / cx, _Q)).astype(np.int64)
    out = np.full(out_shape, ndv)
    ok = (srow >= 0) & (srow < h) & (scol >= 0) & (scol < w)
    out[ok] = full[srow[ok], scol[ok]]
    return out


# ---------------------------------------------------------------------------
# Sinusoidal (the MODIS land-grid projection, +proj=sinu / ESRI:54008):
# spherical closed forms x = R·λ·cos(φ), y = R·φ; inverse φ = y/R,
# λ = x/(R·cos φ). Equal-area; same inverse-gather shape as CEA.
# ---------------------------------------------------------------------------

def _boundary_samples(lon_a: float, lat_a: float, lon_b: float, lat_b: float,
                      n_samples: int = 64):
    """Dense samples of a lon/lat rectangle's BOUNDARY — the shared
    scaffolding for projected-bounds estimation (a projection's image
    of a graticule rectangle is not a rectangle; corners under-cover)."""
    t = np.linspace(0.0, 1.0, n_samples)
    lons = np.concatenate([
        lon_a + (lon_b - lon_a) * t, lon_a + (lon_b - lon_a) * t,
        np.full_like(t, lon_a), np.full_like(t, lon_b),
    ])
    lats = np.concatenate([
        np.full_like(t, lat_a), np.full_like(t, lat_b),
        lat_a + (lat_b - lat_a) * t, lat_a + (lat_b - lat_a) * t,
    ])
    return lons, lats


def _sinu_bounds(src_origin, src_cellsize, src_shape, n_samples: int = 64):
    """Projected bounds by boundary sampling (|x| peaks at the lowest-
    |latitude| edge, so corners alone under-cover)."""
    h, w = src_shape
    x0g, y0g = src_origin
    cx, cy = src_cellsize
    lons, lats = _boundary_samples(x0g, y0g + h * cy, x0g + w * cx, y0g, n_samples)
    X = R * np.radians(lons) * np.cos(np.radians(lats))
    Y = R * np.radians(lats)
    return float(X.min()), float(Y.min()), float(X.max()), float(Y.max())


def wgs84_to_sinusoidal_grid(
    px: DataFrame,
    src_origin: tuple[float, float],
    src_cellsize: tuple[float, float],
    src_shape: tuple[int, int],
    out_shape: tuple[int, int],
) -> DataFrame:
    """Warp onto a sinusoidal target grid (nearest) — pure Column trig."""
    spark = px.sparkSession
    th, tw = out_shape
    x0g, y0g = src_origin
    cx, cy = src_cellsize
    X0, Y0b, X1, Y1b = _sinu_bounds(src_origin, src_cellsize, src_shape)
    tcx = (X1 - X0) / tw
    tcy = (Y0b - Y1b) / th  # negative: row 0 at max y (north-up)

    target = (
        spark.range(th)
        .select(F.col("id").alias("trow"))
        .crossJoin(spark.range(tw).select(F.col("id").alias("tcol")))
    )
    xm = F.lit(X0) + (F.col("tcol") + F.lit(0.5)) * F.lit(tcx)
    ym = F.lit(Y1b) + (F.col("trow") + F.lit(0.5)) * F.lit(tcy)
    lat = ym / F.lit(R) * F.lit(180.0) / F.lit(math.pi)
    lon = xm / (F.lit(R) * F.cos(ym / F.lit(R))) * F.lit(180.0) / F.lit(math.pi)
    srow = F.floor(F.round((lat - F.lit(y0g)) / F.lit(cy), _Q)).cast("long")
    scol = F.floor(F.round((lon - F.lit(x0g)) / F.lit(cx), _Q)).cast("long")
    tgt = target.select(
        "trow", "tcol", xm.alias("xm"), ym.alias("ym"),
        srow.alias("row"), scol.alias("col"),
    )
    return tgt.join(px.select("row", "col", "value"), ["row", "col"], "left").select(
        "trow", "tcol", "xm", "ym", "value"
    )


def wgs84_to_sinusoidal_grid_bilinear(
    px: DataFrame,
    src_origin: tuple[float, float],
    src_cellsize: tuple[float, float],
    src_shape: tuple[int, int],
    out_shape: tuple[int, int],
) -> DataFrame:
    """Sinusoidal warp, bilinear, via the CRS-agnostic kernel."""
    spark = px.sparkSession
    th, tw = out_shape
    X0, Y0b, X1, Y1b = _sinu_bounds(src_origin, src_cellsize, src_shape)
    tcx = (X1 - X0) / tw
    tcy = (Y0b - Y1b) / th
    target = (
        spark.range(th)
        .select(F.col("id").alias("trow"))
        .crossJoin(spark.range(tw).select(F.col("id").alias("tcol")))
    )
    xm = F.lit(X0) + (F.col("tcol") + F.lit(0.5)) * F.lit(tcx)
    ym = F.lit(Y1b) + (F.col("trow") + F.lit(0.5)) * F.lit(tcy)
    lat = ym / F.lit(R) * F.lit(180.0) / F.lit(math.pi)
    lon = xm / (F.lit(R) * F.cos(ym / F.lit(R))) * F.lit(180.0) / F.lit(math.pi)
    return _bilinear_from_lonlat(px, target, lon, lat, src_origin, src_cellsize)


def sinusoidal_numpy_oracle(
    full: np.ndarray,
    ndv: float,
    src_origin: tuple[float, float],
    src_cellsize: tuple[float, float],
    out_shape: tuple[int, int],
) -> np.ndarray:
    """Independent numpy sinusoidal nearest warp (pytest oracle)."""
    h, w = full.shape
    th, tw = out_shape
    x0g, y0g = src_origin
    cx, cy = src_cellsize
    X0, Y0b, X1, Y1b = _sinu_bounds(src_origin, src_cellsize, (h, w))
    tcx = (X1 - X0) / tw
    tcy = (Y0b - Y1b) / th
    tr, tc = np.meshgrid(np.arange(th), np.arange(tw), indexing="ij")
    xm = X0 + (tc + 0.5) * tcx
    ym = Y1b + (tr + 0.5) * tcy
    lat = ym / R * 180.0 / np.pi
    lon = xm / (R * np.cos(ym / R)) * 180.0 / np.pi
    srow = np.floor(np.round((lat - y0g) / cy, _Q)).astype(np.int64)
    scol = np.floor(np.round((lon - x0g) / cx, _Q)).astype(np.int64)
    out = np.full(out_shape, ndv)
    ok = (srow >= 0) & (srow < h) & (scol >= 0) & (scol < w)
    out[ok] = full[srow[ok], scol[ok]]
    return out


# ---------------------------------------------------------------------------
# Conic targets: Albers equal-area (+proj=aea, e.g. EPSG:5070 CONUS)
# and Lambert conformal conic (+proj=lcc, e.g. EPSG:2154 Lambert-93) —
# ellipsoidal closed forms from the public Snyder formulary (USGS
# Professional Paper 1395, "Map Projections: A Working Manual").
# Both inverses are NON-iterative: AEA converts authalic latitude with
# the sin(2kβ) series, LCC converts conformal latitude with the
# sin(2kχ) series — so the whole warp stays the same pure-Column
# inverse-gather as CEA/WebMercator/UTM (reference reproject role:
# georasters.py:559-667; these CRSs are what GDAL users actually name
# for regional equal-area / conformal work).
# ---------------------------------------------------------------------------

_GRS80_F = 1.0 / 298.257222101
_GRS80_E2 = _GRS80_F * (2.0 - _GRS80_F)


def _conic_m(phi: float, e2: float) -> float:
    return math.cos(phi) / math.sqrt(1.0 - e2 * math.sin(phi) ** 2)


def _conic_q(phi: float, e2: float) -> float:
    e = math.sqrt(e2)
    s = math.sin(phi)
    return (1.0 - e2) * (
        s / (1.0 - e2 * s * s) - (1.0 / (2.0 * e)) * math.log((1.0 - e * s) / (1.0 + e * s))
    )


def _conic_t(phi: float, e2: float) -> float:
    e = math.sqrt(e2)
    s = math.sin(phi)
    return math.tan(math.pi / 4.0 - phi / 2.0) / (
        (1.0 - e * s) / (1.0 + e * s)
    ) ** (e / 2.0)


def aea_setup(lat1: float, lat2: float, lat0: float = 0.0, lon0: float = 0.0,
              fe: float = 0.0, fn: float = 0.0, a: float = _WGS84_A,
              e2: float = _GRS80_E2) -> dict:
    """Fold the Albers constants (Snyder 14-3..14-7) plus the
    authalic-latitude series coefficients (Snyder 3-18)."""
    p1, p2, p0 = map(math.radians, (lat1, lat2, lat0))
    m1, m2 = _conic_m(p1, e2), _conic_m(p2, e2)
    q1, q2, q0 = _conic_q(p1, e2), _conic_q(p2, e2), _conic_q(p0, e2)
    if abs(q2 - q1) < 1e-12:  # single standard parallel limit
        n = math.sin(p1)
    else:
        n = (m1 * m1 - m2 * m2) / (q2 - q1)
    C = m1 * m1 + n * q1
    rho0 = a * math.sqrt(C - n * q0) / n
    qp = _conic_q(math.pi / 2.0, e2)
    e4, e6 = e2 * e2, e2 * e2 * e2
    return {
        "kind": "aea", "a": a, "e2": e2, "n": n, "C": C, "rho0": rho0,
        "qp": qp, "lon0": lon0, "fe": fe, "fn": fn,
        "sgn": 1.0 if n >= 0 else -1.0,
        "A2": e2 / 3.0 + 31.0 * e4 / 180.0 + 517.0 * e6 / 5040.0,
        "A4": 23.0 * e4 / 360.0 + 251.0 * e6 / 3780.0,
        "A6": 761.0 * e6 / 45360.0,
    }


def lcc_setup(lat1: float, lat2: float, lat0: float = 0.0, lon0: float = 0.0,
              fe: float = 0.0, fn: float = 0.0, a: float = _WGS84_A,
              e2: float = _GRS80_E2) -> dict:
    """Fold the LCC-2SP constants (Snyder 15-1..15-10) plus the
    conformal-latitude series coefficients (Snyder 3-5)."""
    p1, p2, p0 = map(math.radians, (lat1, lat2, lat0))
    m1, m2 = _conic_m(p1, e2), _conic_m(p2, e2)
    t1, t2, t0 = _conic_t(p1, e2), _conic_t(p2, e2), _conic_t(p0, e2)
    if abs(lat1 - lat2) < 1e-12:
        n = math.sin(p1)
    else:
        n = (math.log(m1) - math.log(m2)) / (math.log(t1) - math.log(t2))
    Fc = m1 / (n * t1**n)
    rho0 = a * Fc * t0**n
    e4, e6, e8 = e2 * e2, e2**3, e2**4
    return {
        "kind": "lcc", "a": a, "e2": e2, "n": n, "Fc": Fc, "rho0": rho0,
        "lon0": lon0, "fe": fe, "fn": fn,
        "sgn": 1.0 if n >= 0 else -1.0,
        "B2": e2 / 2.0 + 5.0 * e4 / 24.0 + e6 / 12.0 + 13.0 * e8 / 360.0,
        "B4": 7.0 * e4 / 48.0 + 29.0 * e6 / 240.0 + 811.0 * e8 / 11520.0,
        "B6": 7.0 * e6 / 120.0 + 81.0 * e8 / 1120.0,
        "B8": 4279.0 * e8 / 161280.0,
    }


def conic_forward_np(lon, lat, P: dict):
    """Forward projection (numpy), degrees -> meters, for either conic."""
    lam = np.radians(np.asarray(lon, dtype=np.float64) - P["lon0"])
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    n, a = P["n"], P["a"]
    theta = n * lam
    if P["kind"] == "aea":
        e = math.sqrt(P["e2"])
        s = np.sin(phi)
        q = (1.0 - P["e2"]) * (
            s / (1.0 - P["e2"] * s * s)
            - (1.0 / (2.0 * e)) * np.log((1.0 - e * s) / (1.0 + e * s))
        )
        rho = a * np.sqrt(np.maximum(P["C"] - n * q, 0.0)) / n
    else:
        e = math.sqrt(P["e2"])
        s = np.sin(phi)
        t = np.tan(math.pi / 4.0 - phi / 2.0) / (
            (1.0 - e * s) / (1.0 + e * s)
        ) ** (e / 2.0)
        rho = a * P["Fc"] * t**n
    x = P["fe"] + rho * np.sin(theta)
    y = P["fn"] + P["rho0"] - rho * np.cos(theta)
    return x, y


def conic_inverse_np(x, y, P: dict):
    """Inverse projection (numpy differential oracle), meters -> degrees."""
    n, a, sgn = P["n"], P["a"], P["sgn"]
    xr = np.asarray(x, dtype=np.float64) - P["fe"]
    yr = P["rho0"] - (np.asarray(y, dtype=np.float64) - P["fn"])
    rho = sgn * np.sqrt(xr * xr + yr * yr)
    theta = np.arctan2(sgn * xr, sgn * yr)
    if P["kind"] == "aea":
        q = (P["C"] - (rho * n / a) ** 2) / n
        beta = np.arcsin(np.clip(q / P["qp"], -1.0, 1.0))
        phi = (beta + P["A2"] * np.sin(2 * beta) + P["A4"] * np.sin(4 * beta)
               + P["A6"] * np.sin(6 * beta))
    else:
        t = (rho / (a * P["Fc"])) ** (1.0 / n)
        chi = math.pi / 2.0 - 2.0 * np.arctan(t)
        phi = (chi + P["B2"] * np.sin(2 * chi) + P["B4"] * np.sin(4 * chi)
               + P["B6"] * np.sin(6 * chi) + P["B8"] * np.sin(8 * chi))
    return np.degrees(theta / n) + P["lon0"], np.degrees(phi)


def conic_inverse_cols(xm, ym, P: dict):
    """The same inverse as pyspark Columns, term-for-term in the
    conic_inverse_np / conic_inverse_sql order."""
    n, a, sgn = P["n"], P["a"], P["sgn"]
    xr = xm - F.lit(P["fe"])
    yr = F.lit(P["rho0"]) - (ym - F.lit(P["fn"]))
    rho = F.lit(sgn) * F.sqrt(xr * xr + yr * yr)
    theta = F.atan2(F.lit(sgn) * xr, F.lit(sgn) * yr)
    if P["kind"] == "aea":
        q = (F.lit(P["C"]) - F.pow(rho * F.lit(n) / F.lit(a), F.lit(2.0))) / F.lit(n)
        beta = F.asin(F.least(F.greatest(q / F.lit(P["qp"]), F.lit(-1.0)), F.lit(1.0)))
        phi = (beta + F.lit(P["A2"]) * F.sin(F.lit(2.0) * beta)
               + F.lit(P["A4"]) * F.sin(F.lit(4.0) * beta)
               + F.lit(P["A6"]) * F.sin(F.lit(6.0) * beta))
    else:
        t = F.pow(rho / F.lit(a * P["Fc"]), F.lit(1.0 / n))
        chi = F.lit(math.pi / 2.0) - F.lit(2.0) * F.atan(t)
        phi = (chi + F.lit(P["B2"]) * F.sin(F.lit(2.0) * chi)
               + F.lit(P["B4"]) * F.sin(F.lit(4.0) * chi)
               + F.lit(P["B6"]) * F.sin(F.lit(6.0) * chi)
               + F.lit(P["B8"]) * F.sin(F.lit(8.0) * chi))
    lon = theta / F.lit(n) * F.lit(180.0) / F.lit(math.pi) + F.lit(P["lon0"])
    lat = phi * F.lit(180.0) / F.lit(math.pi)
    return lon, lat


def conic_inverse_sql(x_expr: str, y_expr: str, P: dict) -> tuple[str, str, str]:
    """DuckDB SQL for the same inverse (gate oracle), emitted
    term-for-term in the conic_inverse_cols order. Returns
    (cte_sql, lon_col, lat_col); the CTE chain reads columns
    x_expr/y_expr of table `tgt` and carries trow/tcol/xm/ym through."""
    n, a, sgn = P["n"], P["a"], P["sgn"]
    xr = f"(({x_expr}) - {dlit(P['fe'])})"
    yr = f"({dlit(P['rho0'])} - (({y_expr}) - {dlit(P['fn'])}))"
    rho = f"({dlit(sgn)} * sqrt({xr} * {xr} + {yr} * {yr}))"
    theta = f"atan2({dlit(sgn)} * {xr}, {dlit(sgn)} * {yr})"
    if P["kind"] == "aea":
        q = f"(({dlit(P['C'])} - pow({rho} * {dlit(n)} / {dlit(a)}, 2.0)) / {dlit(n)})"
        beta = f"asin(least(greatest({q} / {dlit(P['qp'])}, -1.0), 1.0))"
        phi = (f"(beta + {dlit(P['A2'])} * sin(2.0 * beta)"
               f" + {dlit(P['A4'])} * sin(4.0 * beta)"
               f" + {dlit(P['A6'])} * sin(6.0 * beta))")
        mid = f"c1 AS (SELECT trow, tcol, xm, ym, {theta} AS theta, {beta} AS beta FROM tgt)"
    else:
        t = f"pow({rho} / {dlit(a * P['Fc'])}, {dlit(1.0 / n)})"
        chi = f"({dlit(math.pi / 2.0)} - 2.0 * atan({t}))"
        phi = (f"(chi + {dlit(P['B2'])} * sin(2.0 * chi)"
               f" + {dlit(P['B4'])} * sin(4.0 * chi)"
               f" + {dlit(P['B6'])} * sin(6.0 * chi)"
               f" + {dlit(P['B8'])} * sin(8.0 * chi))")
        mid = f"c1 AS (SELECT trow, tcol, xm, ym, {theta} AS theta, {chi} AS chi FROM tgt)"
    cte = f"""{mid},
loc0 AS (SELECT trow, tcol, xm, ym,
                theta / {dlit(n)} * 180.0 / pi() + {dlit(P['lon0'])} AS lon,
                {phi} * 180.0 / pi() AS lat
         FROM c1)"""
    return cte, "lon", "lat"


def _conic_bounds(src_origin, src_cellsize, src_shape, P: dict,
                  bbox_lonlat=None, n_samples: int = 64):
    """Projected bounds by dense boundary sampling (a conic image of a
    graticule rectangle bulges on the edge nearest the cone apex, so
    corners alone under-cover — same scaffolding as UTM/sinusoidal)."""
    h, w = src_shape
    x0g, y0g = src_origin
    cx, cy = src_cellsize
    if bbox_lonlat is not None:
        lon_a, lat_a, lon_b, lat_b = bbox_lonlat
    else:
        lon_a, lon_b = x0g, x0g + w * cx
        lat_a, lat_b = y0g + h * cy, y0g
    if max(abs(lon_a - P["lon0"]), abs(lon_b - P["lon0"])) >= 180.0:
        raise NotImplementedError(
            "conic target: source spans the antimeridian of the projection "
            "center — pass bbox_lonlat to window the warp"
        )
    lons, lats = _boundary_samples(lon_a, lat_a, lon_b, lat_b, n_samples)
    X, Y = conic_forward_np(lons, lats, P)
    return float(X.min()), float(Y.min()), float(X.max()), float(Y.max())


def wgs84_to_conic_grid(
    px: DataFrame,
    src_origin: tuple[float, float],
    src_cellsize: tuple[float, float],
    src_shape: tuple[int, int],
    out_shape: tuple[int, int],
    P: dict,
    bbox_lonlat=None,
    resampling: str = "nearest",
) -> DataFrame:
    """Warp onto an Albers/LCC target grid — identical inverse-gather
    plan to CEA/UTM: target cells are a range×range cross join, the
    inverse is pure Column trig, the gather is one equi-join against
    the pixel table (broadcast when small, hash otherwise — Catalyst's
    call). nearest or bilinear."""
    spark = px.sparkSession
    th, tw = out_shape
    x0g, y0g = src_origin
    cx, cy = src_cellsize
    X0, Y0b, X1, Y1b = _conic_bounds(src_origin, src_cellsize, src_shape, P,
                                     bbox_lonlat=bbox_lonlat)
    tcx = (X1 - X0) / tw
    tcy = (Y0b - Y1b) / th  # negative: row 0 = max northing
    target = (
        spark.range(th)
        .select(F.col("id").alias("trow"))
        .crossJoin(spark.range(tw).select(F.col("id").alias("tcol")))
    )
    xm = F.lit(X0) + (F.col("tcol") + F.lit(0.5)) * F.lit(tcx)
    ym = F.lit(Y1b) + (F.col("trow") + F.lit(0.5)) * F.lit(tcy)
    lon, lat = conic_inverse_cols(xm, ym, P)
    if resampling == "bilinear":
        tgt = target.select("trow", "tcol", xm.alias("xm"), ym.alias("ym"))
        lon2, lat2 = conic_inverse_cols(F.col("xm"), F.col("ym"), P)
        return _bilinear_from_lonlat(px, tgt, lon2, lat2, src_origin, src_cellsize)
    if resampling != "nearest":
        raise NotImplementedError("conic targets support nearest/bilinear")
    srow = F.floor(F.round((lat - F.lit(y0g)) / F.lit(cy), _Q)).cast("long")
    scol = F.floor(F.round((lon - F.lit(x0g)) / F.lit(cx), _Q)).cast("long")
    tgt = target.select(
        "trow", "tcol", xm.alias("xm"), ym.alias("ym"),
        srow.alias("row"), scol.alias("col"),
    )
    return tgt.join(px.select("row", "col", "value"), ["row", "col"], "left").select(
        "trow", "tcol", "xm", "ym", "value"
    )


def conic_numpy_oracle(full: np.ndarray, ndv: float, src_origin, src_cellsize,
                       out_shape, P: dict, bbox_lonlat=None):
    """Independent numpy nearest conic warp (differential pytest oracle)."""
    h, w = full.shape
    th, tw = out_shape
    x0g, y0g = src_origin
    cx, cy = src_cellsize
    X0, Y0b, X1, Y1b = _conic_bounds(src_origin, src_cellsize, (h, w), P,
                                     bbox_lonlat=bbox_lonlat)
    tcx = (X1 - X0) / tw
    tcy = (Y0b - Y1b) / th
    tr, tc = np.meshgrid(np.arange(th), np.arange(tw), indexing="ij")
    xm = X0 + (tc + 0.5) * tcx
    ym = Y1b + (tr + 0.5) * tcy
    lon, lat = conic_inverse_np(xm, ym, P)
    srow = np.floor(np.round((lat - y0g) / cy, _Q)).astype(np.int64)
    scol = np.floor(np.round((lon - x0g) / cx, _Q)).astype(np.int64)
    out = np.full(out_shape, ndv)
    ok = (srow >= 0) & (srow < h) & (scol >= 0) & (scol < w)
    out[ok] = full[srow[ok], scol[ok]]
    return out


# Public EPSG parameter registry for the supported conic CRSs (all
# GRS80-ellipsoid systems: NAD83 / RGF93 — public EPSG registry values)
CONIC_EPSG = {
    5070: ("aea", dict(lat1=29.5, lat2=45.5, lat0=23.0, lon0=-96.0,
                       fe=0.0, fn=0.0)),            # NAD83 / Conus Albers
    3310: ("aea", dict(lat1=34.0, lat2=40.5, lat0=0.0, lon0=-120.0,
                       fe=0.0, fn=-4000000.0)),     # NAD83 / California Albers
    2154: ("lcc", dict(lat1=49.0, lat2=44.0, lat0=46.5, lon0=3.0,
                       fe=700000.0, fn=6600000.0)),  # RGF93 / Lambert-93
    3978: ("lcc", dict(lat1=49.0, lat2=77.0, lat0=49.0, lon0=-95.0,
                       fe=0.0, fn=0.0)),            # NAD83 / Canada Atlas LCC
}


def conic_params_of(token: str) -> dict:
    """Resolve a parse_crs conic token ('aea:5070' or
    'aea:custom:lat1:lat2:lat0:lon0:fe:fn') to folded parameters."""
    parts = token.split(":")
    kind = parts[0]
    if parts[1] == "custom":
        lat1, lat2, lat0, lon0, fe, fn = map(float, parts[2:8])
        args = dict(lat1=lat1, lat2=lat2, lat0=lat0, lon0=lon0, fe=fe, fn=fn)
    else:
        k, args = CONIC_EPSG[int(parts[1])]
        assert k == kind
    return (aea_setup if kind == "aea" else lcc_setup)(**args)


# ---------------------------------------------------------------------------
# Any-CRS-to-any-CRS warps. The reference accepts arbitrary source AND
# target CRSs (GDAL WarpedVRT, georasters.py:559-667); every family
# this engine supports has closed-form forward AND inverse transforms,
# so a general warp is the composition
#     target cell center --inverse(dst)--> lon/lat --forward(src)--> x,y
# evaluated as pure JVM Columns, followed by the same quantized affine
# gather as everywhere else. No new machinery — just a registry of
# (forward, inverse) pairs in all three dialects (numpy / Column).
# ---------------------------------------------------------------------------

_D2R = math.pi / 180.0


def crs_funcs(token: str) -> dict:
    """(fwd_np, inv_np, fwd_cols, inv_cols) for a parse_crs token.
    fwd: (lon, lat) degrees -> (x, y) CRS units; inv: the reverse.
    wgs84 is the identity (x=lon, y=lat)."""
    if token == "wgs84":
        ident = lambda a, b: (a, b)  # noqa: E731
        return {"fwd_np": ident, "inv_np": ident,
                "fwd_cols": ident, "inv_cols": ident}
    if token == "cea":
        k = 1.0  # standard parallel 0 (EPSG:6933-style lat_ts=0 form)

        def fwd_np(lon, lat):
            return (R * np.radians(np.asarray(lon, np.float64)) * k,
                    R * np.sin(np.radians(np.asarray(lat, np.float64))) / k)

        def inv_np(x, y):
            return (np.asarray(x, np.float64) / (R * k) / _D2R,
                    np.arcsin(np.clip(np.asarray(y, np.float64) * k / R, -1, 1)) / _D2R)

        def fwd_cols(lon, lat):
            return (F.lit(R * k) * lon * F.lit(_D2R),
                    F.lit(R / k) * F.sin(lat * F.lit(_D2R)))

        def inv_cols(x, y):
            return (x / F.lit(R * k) / F.lit(_D2R),
                    F.asin(F.least(F.greatest(y * F.lit(k / R), F.lit(-1.0)),
                                   F.lit(1.0))) / F.lit(_D2R))

        return {"fwd_np": fwd_np, "inv_np": inv_np,
                "fwd_cols": fwd_cols, "inv_cols": inv_cols}
    if token == "webmerc":

        def fwd_np(lon, lat):
            phi = np.radians(np.asarray(lat, np.float64))
            return (R * np.radians(np.asarray(lon, np.float64)),
                    R * np.arctanh(np.sin(phi)))

        def inv_np(x, y):
            return (np.asarray(x, np.float64) / R / _D2R,
                    np.arctan(np.sinh(np.asarray(y, np.float64) / R)) / _D2R)

        def fwd_cols(lon, lat):
            s = F.sin(lat * F.lit(_D2R))
            # atanh spelled via log for engine parity
            return (F.lit(R) * lon * F.lit(_D2R),
                    F.lit(R) * F.lit(0.5) * F.log((F.lit(1.0) + s) / (F.lit(1.0) - s)))

        def inv_cols(x, y):
            return (x / F.lit(R) / F.lit(_D2R),
                    F.atan(F.sinh(y / F.lit(R))) / F.lit(_D2R))

        return {"fwd_np": fwd_np, "inv_np": inv_np,
                "fwd_cols": fwd_cols, "inv_cols": inv_cols}
    if token == "sinu":

        def fwd_np(lon, lat):
            phi = np.radians(np.asarray(lat, np.float64))
            return (R * np.radians(np.asarray(lon, np.float64)) * np.cos(phi), R * phi)

        def inv_np(x, y):
            phi = np.asarray(y, np.float64) / R
            return (np.asarray(x, np.float64) / (R * np.cos(phi)) / _D2R, phi / _D2R)

        def fwd_cols(lon, lat):
            phi = lat * F.lit(_D2R)
            return (F.lit(R) * lon * F.lit(_D2R) * F.cos(phi), F.lit(R) * phi)

        def inv_cols(x, y):
            phi = y / F.lit(R)
            return (x / (F.lit(R) * F.cos(phi)) / F.lit(_D2R), phi / F.lit(_D2R))

        return {"fwd_np": fwd_np, "inv_np": inv_np,
                "fwd_cols": fwd_cols, "inv_cols": inv_cols}
    if token.startswith("utm:"):
        zone = int(token[4:-1])
        south = token.endswith("s")
        lon0 = utm_lon0(zone)
        fn = 10000000.0 if south else 0.0

        def fwd_np(lon, lat):
            return tm_forward_np(lon, lat, lon0, fn=fn)

        def inv_np(x, y):
            return tm_inverse_np(x, y, lon0, fn=fn)

        def fwd_cols(lon, lat):
            return tm_forward_cols(lon, lat, lon0, fn=fn)

        def inv_cols(x, y):
            return tm_inverse_cols(x, y, lon0, fn=fn)

        return {"fwd_np": fwd_np, "inv_np": inv_np,
                "fwd_cols": fwd_cols, "inv_cols": inv_cols}
    if token.startswith(("aea:", "lcc:")):
        P = conic_params_of(token)

        def fwd_np(lon, lat):
            return conic_forward_np(lon, lat, P)

        def inv_np(x, y):
            return conic_inverse_np(x, y, P)

        def fwd_cols(lon, lat):
            return conic_forward_cols(lon, lat, P)

        def inv_cols(x, y):
            return conic_inverse_cols(x, y, P)

        return {"fwd_np": fwd_np, "inv_np": inv_np,
                "fwd_cols": fwd_cols, "inv_cols": inv_cols}
    if token == "merc3395":
        return {"fwd_np": merc3395_forward_np, "inv_np": merc3395_inverse_np,
                "fwd_cols": merc3395_forward_cols,
                "inv_cols": merc3395_inverse_cols}
    if token.startswith("tmd:"):
        # transverse Mercator with a natural origin on a custom
        # ellipsoid + datum (EPSG:27700-class): Helmert shift composed
        # with the Krüger series on that ellipsoid
        T = tmd_params(token)
        P, lon0, k0, fe = T["P"], T["lon0"], T["k0"], T["fe"]
        fn_eff, f_, a_ = T["fn_eff"], T["f"], T["a"]

        def fwd_np(lon, lat):
            lo, la = wgs84_to_datum_np(lon, lat, P)
            return tm_forward_np(lo, la, lon0, k0, fe, fn_eff, f_, a_)

        def inv_np(E, N):
            lo, la = tm_inverse_np(E, N, lon0, k0, fe, fn_eff, f_, a_)
            return datum_to_wgs84_np(lo, la, P)

        def fwd_cols(lon, lat):
            lo, la = wgs84_to_datum_cols(lon, lat, P)
            return tm_forward_cols(lo, la, lon0, k0, fe, fn_eff, f_, a_)

        def inv_cols(E, N):
            lo, la = tm_inverse_cols(E, N, lon0, k0, fe, fn_eff, f_, a_)
            return datum_to_wgs84_cols(lo, la, P)

        return {"fwd_np": fwd_np, "inv_np": inv_np,
                "fwd_cols": fwd_cols, "inv_cols": inv_cols}
    if token.startswith("geog:"):
        # geographic CRS on another datum: the CRS's (x, y) ARE datum
        # lon/lat degrees; fwd/inv are the Helmert datum shifts
        P = datum_params(token)

        def fwd_np(lon, lat):
            return wgs84_to_datum_np(lon, lat, P)

        def inv_np(x, y):
            return datum_to_wgs84_np(x, y, P)

        def fwd_cols(lon, lat):
            return wgs84_to_datum_cols(lon, lat, P)

        def inv_cols(x, y):
            return datum_to_wgs84_cols(x, y, P)

        return {"fwd_np": fwd_np, "inv_np": inv_np,
                "fwd_cols": fwd_cols, "inv_cols": inv_cols}
    raise NotImplementedError(f"no transform functions for CRS token {token!r}")


def tm_forward_cols(lon, lat, lon0: float, k0: float = _UTM_K0,
                    fe: float = _UTM_FE, fn: float = 0.0, f: float = _WGS84_F,
                    a: float = _WGS84_A):
    """Krüger-series transverse-Mercator FORWARD as pyspark Columns —
    term-for-term the tm_forward_np order (atanh spelled via log)."""
    n, A, alpha, _, _ = _tm_series(f, a)
    es = 2.0 * math.sqrt(n) / (1.0 + n)
    lam = (lon - F.lit(lon0)) * F.lit(_D2R)
    sphi = F.sin(lat * F.lit(_D2R))

    def atanh_c(x):
        return F.lit(0.5) * F.log((F.lit(1.0) + x) / (F.lit(1.0) - x))

    t = F.sinh(atanh_c(sphi) - F.lit(es) * atanh_c(F.lit(es) * sphi))
    xip = F.atan2(t, F.cos(lam))
    etap = atanh_c(F.sin(lam) / F.sqrt(F.lit(1.0) + t * t))
    xi = xip
    eta = etap
    for j, a in enumerate(alpha, 1):
        xi = xi + F.lit(a) * F.sin(F.lit(float(2 * j)) * xip) * F.cosh(F.lit(float(2 * j)) * etap)
        eta = eta + F.lit(a) * F.cos(F.lit(float(2 * j)) * xip) * F.sinh(F.lit(float(2 * j)) * etap)
    return F.lit(fe) + F.lit(k0 * A) * eta, F.lit(fn) + F.lit(k0 * A) * xi


def conic_forward_cols(lon, lat, P: dict):
    """Albers / LCC FORWARD as pyspark Columns — term-for-term the
    conic_forward_np order."""
    n, a = P["n"], P["a"]
    e = math.sqrt(P["e2"])
    lam = (lon - F.lit(P["lon0"])) * F.lit(_D2R)
    phi = lat * F.lit(_D2R)
    theta = F.lit(n) * lam
    s = F.sin(phi)
    if P["kind"] == "aea":
        q = F.lit(1.0 - P["e2"]) * (
            s / (F.lit(1.0) - F.lit(P["e2"]) * s * s)
            - F.lit(1.0 / (2.0 * e))
            * F.log((F.lit(1.0) - F.lit(e) * s) / (F.lit(1.0) + F.lit(e) * s))
        )
        rho = F.lit(a) * F.sqrt(F.greatest(F.lit(P["C"]) - F.lit(n) * q, F.lit(0.0))) / F.lit(n)
    else:
        t = F.tan(F.lit(math.pi / 4.0) - phi / F.lit(2.0)) / F.pow(
            (F.lit(1.0) - F.lit(e) * s) / (F.lit(1.0) + F.lit(e) * s), F.lit(e / 2.0)
        )
        rho = F.lit(a * P["Fc"]) * F.pow(t, F.lit(n))
    x = F.lit(P["fe"]) + rho * F.sin(theta)
    y = F.lit(P["fn"]) + F.lit(P["rho0"]) - rho * F.cos(theta)
    return x, y


def any_bounds(src_crs, dst_crs, src_origin, src_cellsize, src_shape,
               bbox_lonlat=None, n_samples: int = 64):
    """Target bounds in dst units: source boundary -> inv(src) ->
    lon/lat extent (or the bbox window) -> dense boundary -> fwd(dst).
    Shared by the plan, the numpy oracle and the gate SQL so all three
    lattices are literal-identical."""
    sfn = crs_funcs(parse_crs(src_crs))
    dst_tok = parse_crs(dst_crs)
    dfn = crs_funcs(dst_tok)
    h, w = src_shape
    x0g, y0g = src_origin
    cx, cy = src_cellsize
    if bbox_lonlat is not None:
        lon_a, lat_a, lon_b, lat_b = bbox_lonlat
    else:
        xs, ys = _boundary_samples(x0g, y0g + h * cy, x0g + w * cx, y0g, n_samples)
        lons, lats = sfn["inv_np"](xs, ys)
        lon_a, lon_b = float(np.min(lons)), float(np.max(lons))
        lat_a, lat_b = float(np.min(lats)), float(np.max(lats))
    if dst_tok == "webmerc":
        # same ±85.05112878 clip as the specialized webmerc plans, so a
        # pole-reaching source gives the Mercator square — not
        # arctanh(±1)=inf bounds — and reproject()'s extent for a
        # webmerc target is resampling-mode-invariant (ADVICE r5)
        lat_a = max(lat_a, -85.05112878)
        lat_b = min(lat_b, 85.05112878)
    lons, lats = _boundary_samples(lon_a, lat_a, lon_b, lat_b, n_samples)
    X, Y = dfn["fwd_np"](lons, lats)
    out = (float(np.min(X)), float(np.min(Y)), float(np.max(X)), float(np.max(Y)))
    if not all(math.isfinite(v) for v in out):
        raise ValueError(
            f"reproject_any: non-finite target bounds {out} for dst "
            f"{dst_tok!r} over lon[{lon_a},{lon_b}] lat[{lat_a},{lat_b}] — "
            "the source extent leaves the target CRS's domain; pass "
            "bbox_lonlat to window the warp")
    return out


def reproject_any(
    px: DataFrame,
    src_crs,
    dst_crs,
    src_origin: tuple[float, float],
    src_cellsize: tuple[float, float],
    src_shape: tuple[int, int],
    out_shape: tuple[int, int],
    resampling: str = "nearest",
    bbox_lonlat=None,
    n_samples: int = 64,
) -> DataFrame:
    """General warp between ANY two supported CRSs (wgs84, cea,
    webmerc, sinu, utm:*, aea:*, lcc:*, merc3395, geog:*, tmd:*): the
    target lattice is built in dst coordinates, inverse-projected to
    lon/lat, forward-projected to src coordinates, and gathered with
    the standard quantized affine join. src_origin/src_cellsize are in
    SRC CRS units. bbox_lonlat windows the extent (required when
    either transform's domain is narrower than the source, e.g. UTM).

    resampling covers the COMPLETE GDAL mode dict for every CRS pair
    (reference georasters.py:592-606): nearest | bilinear | cubic
    (Catmull-Rom) | cubicspline (B-spline) | lanczos (a=3) via the
    shared inverse-warp kernel gather, plus the forward-bucket
    aggregates average | sum | min | max | count | mode (source
    centers forward-project into target cells; one grouped
    aggregate — only non-empty cells are emitted, like GDAL)."""
    spark = px.sparkSession
    src = parse_crs(src_crs)
    dst = parse_crs(dst_crs)
    sfn = crs_funcs(src)
    dfn = crs_funcs(dst)
    th, tw = out_shape
    x0g, y0g = src_origin
    cx, cy = src_cellsize
    X0, Y0b, X1, Y1b = any_bounds(src_crs, dst_crs, src_origin, src_cellsize,
                                  src_shape, bbox_lonlat, n_samples)
    tcx = (X1 - X0) / tw
    tcy = (Y0b - Y1b) / th  # negative: row 0 at max y

    target = (
        spark.range(th)
        .select(F.col("id").alias("trow"))
        .crossJoin(spark.range(tw).select(F.col("id").alias("tcol")))
    )
    xm = F.lit(X0) + (F.col("tcol") + F.lit(0.5)) * F.lit(tcx)
    ym = F.lit(Y1b) + (F.col("trow") + F.lit(0.5)) * F.lit(tcy)
    lon, lat = dfn["inv_cols"](xm, ym)
    sx, sy = sfn["fwd_cols"](lon, lat)
    if resampling == "bilinear":
        tgt = target.select("trow", "tcol", xm.alias("xm"), ym.alias("ym"))
        xm2 = F.col("xm")
        ym2 = F.col("ym")
        lon2, lat2 = dfn["inv_cols"](xm2, ym2)
        sx2, sy2 = sfn["fwd_cols"](lon2, lat2)
        return _bilinear_from_lonlat(px, tgt, sx2, sy2, src_origin, src_cellsize)
    kern = {"cubic": "catmull", "cubicspline": "bspline",
            "lanczos": "lanczos"}.get(resampling)
    if kern is not None:
        # stage each transform into materialized columns: the series
        # projections (Krüger/conic/Helmert) reference lon/lat dozens
        # of times, and inlining the composed expression tree blows up
        # multiplicatively (janino 64KB codegen failure + slow
        # interpreted eval). Projecting per stage keeps each codegen
        # unit linear; CollapseProject keeps non-cheap multiply-
        # referenced exprs staged.
        tgt0 = target.select("trow", "tcol", xm.alias("xm"), ym.alias("ym"))
        lon2, lat2 = dfn["inv_cols"](F.col("xm"), F.col("ym"))
        tgt1 = tgt0.select("trow", "tcol",
                           lon2.alias("_lon"), lat2.alias("_lat"))
        sx2, sy2 = sfn["fwd_cols"](F.col("_lon"), F.col("_lat"))
        tgt2 = tgt1.select("trow", "tcol",
                           sx2.alias("_sx"), sy2.alias("_sy"))
        u = F.round((F.col("_sy") - F.lit(y0g)) / F.lit(cy) - F.lit(0.5), _Q)
        v = F.round((F.col("_sx") - F.lit(x0g)) / F.lit(cx) - F.lit(0.5), _Q)
        tgt3 = tgt2.select("trow", "tcol", u.alias("_u"), v.alias("_v"))
        return _kernel_gather(px, tgt3, F.col("_u"), F.col("_v"), kern)
    agg = {"average": "mean", "sum": "sum", "min": "min", "max": "max",
           "count": "count", "mode": "mode", "rms": "rms", "med": "med",
           "q1": "q1", "q3": "q3"}.get(resampling)
    if agg is not None:
        # forward-bucket path: every valid SOURCE cell center maps
        # src units -> lon/lat -> dst units and bins into its target
        # cell; scan + one grouped aggregate, map-side partials.
        # Same staged projections as above to bound codegen size.
        xc = F.lit(x0g) + (F.col("col") + F.lit(0.5)) * F.lit(cx)
        yc = F.lit(y0g) + (F.col("row") + F.lit(0.5)) * F.lit(cy)
        b0 = px.select("value", xc.alias("_xc"), yc.alias("_yc"))
        lon_s, lat_s = sfn["inv_cols"](F.col("_xc"), F.col("_yc"))
        b1 = b0.select("value", lon_s.alias("_lon"), lat_s.alias("_lat"))
        Xs, Ys = dfn["fwd_cols"](F.col("_lon"), F.col("_lat"))
        b2 = b1.select("value", Xs.alias("_X"), Ys.alias("_Y"))
        trow_b = F.floor(
            F.round((F.col("_Y") - F.lit(Y1b)) / F.lit(tcy), _Q)).cast("long")
        tcol_b = F.floor(
            F.round((F.col("_X") - F.lit(X0)) / F.lit(tcx), _Q)).cast("long")
        b3 = b2.select(trow_b.alias("trow"), tcol_b.alias("tcol"), "value")
        in_grid = ((F.col("trow") >= 0) & (F.col("trow") < th)
                   & (F.col("tcol") >= 0) & (F.col("tcol") < tw))
        # out-of-grid rows share one (-1, -1) group that _bucket_agg
        # drops on its aggregated flag. A row filter here would be pushed
        # below the staged projections with the composed transform
        # inlined into it once per reference (15 MB of plan text for a
        # datum'd TM target, which exhausted an 8 GB driver heap)
        binned = b3.select(
            F.when(in_grid, F.col("trow")).otherwise(F.lit(-1)).alias("trow"),
            F.when(in_grid, F.col("tcol")).otherwise(F.lit(-1)).alias("tcol"),
            "value", in_grid.alias("_in_grid"))
        return _bucket_agg(binned, agg, in_grid="_in_grid")
    if resampling != "nearest":
        raise NotImplementedError(
            f"resampling {resampling!r} not supported (have nearest/bilinear/"
            "cubic/cubicspline/lanczos/average/sum/min/max/count/mode/"
            "rms/med/q1/q3 — the FULL gdalwarp -r enum, "
            "georasters.py:592-606)")
    srow = F.floor(F.round((sy - F.lit(y0g)) / F.lit(cy), _Q)).cast("long")
    scol = F.floor(F.round((sx - F.lit(x0g)) / F.lit(cx), _Q)).cast("long")
    tgt = target.select(
        "trow", "tcol", xm.alias("xm"), ym.alias("ym"),
        srow.alias("row"), scol.alias("col"),
    )
    return tgt.join(px.select("row", "col", "value"), ["row", "col"], "left").select(
        "trow", "tcol", "xm", "ym", "value"
    )


def reproject_any_numpy_oracle(full: np.ndarray, ndv: float, src_crs, dst_crs,
                               src_origin, src_cellsize, out_shape,
                               bbox_lonlat=None, n_samples: int = 64):
    """Independent numpy oracle for reproject_any (nearest)."""
    src = parse_crs(src_crs)
    dst = parse_crs(dst_crs)
    sfn = crs_funcs(src)
    dfn = crs_funcs(dst)
    h, w = full.shape
    th, tw = out_shape
    x0g, y0g = src_origin
    cx, cy = src_cellsize
    X0, Y0b, X1, Y1b = any_bounds(src_crs, dst_crs, src_origin, src_cellsize,
                                  (h, w), bbox_lonlat, n_samples)
    tcx = (X1 - X0) / tw
    tcy = (Y0b - Y1b) / th
    tr, tc = np.meshgrid(np.arange(th), np.arange(tw), indexing="ij")
    xm = X0 + (tc + 0.5) * tcx
    ym = Y1b + (tr + 0.5) * tcy
    lon, lat = dfn["inv_np"](xm, ym)
    sx, sy = sfn["fwd_np"](lon, lat)
    srow = np.floor(np.round((sy - y0g) / cy, _Q)).astype(np.int64)
    scol = np.floor(np.round((sx - x0g) / cx, _Q)).astype(np.int64)
    out = np.full(out_shape, ndv)
    ok = (srow >= 0) & (srow < h) & (scol >= 0) & (scol < w)
    out[ok] = full[srow[ok], scol[ok]]
    return out


def _np_kernel_wfun(kernel: str, a: int = 3):
    """numpy twin of _kernel_offsets_wfun (independent oracle).
    DELIBERATELY separate from the production `_kernel_wfun_np`:
    this is the check side — merging them would be tautological."""
    if kernel == "catmull":
        return (-1, 0, 1, 2), lambda t: np.where(
            t <= 1.0, 1.5 * t**3 - 2.5 * t**2 + 1.0,
            -0.5 * t**3 + 2.5 * t**2 - 4.0 * t + 2.0)
    if kernel == "bspline":
        return (-1, 0, 1, 2), lambda t: np.where(
            t <= 1.0, (4.0 - 6.0 * t**2 + 3.0 * t**3) / 6.0,
            (2.0 - t) ** 3 / 6.0)
    if kernel == "lanczos":

        def lanc(t):
            t = np.asarray(t, np.float64)
            pit = np.pi * t
            sinc = np.where(t == 0.0, 1.0, np.sin(pit) / np.where(pit == 0, 1, pit))
            pita = pit / a
            sinca = np.where(t == 0.0, 1.0,
                             np.sin(pita) / np.where(pita == 0, 1, pita))
            return np.where(t < a, sinc * sinca, 0.0)

        return tuple(range(1 - a, a + 1)), lanc
    raise ValueError(f"unknown resampling kernel {kernel!r}")


def reproject_any_kernel_numpy_oracle(full: np.ndarray, ndv: float, src_crs,
                                      dst_crs, src_origin, src_cellsize,
                                      out_shape, kernel: str,
                                      bbox_lonlat=None, n_samples: int = 64,
                                      a: int = 3):
    """Independent numpy oracle for reproject_any with a convolution
    kernel (cubic/cubicspline/lanczos): same quantized fractional
    index, same valid-weight renormalization with the |Σw| >= 0.05
    guard. Returns (value, n_contrib); value nan where no estimate."""
    sfn = crs_funcs(parse_crs(src_crs))
    dfn = crs_funcs(parse_crs(dst_crs))
    h, w = full.shape
    th, tw = out_shape
    x0g, y0g = src_origin
    cx, cy = src_cellsize
    X0, Y0b, X1, Y1b = any_bounds(src_crs, dst_crs, src_origin, src_cellsize,
                                  (h, w), bbox_lonlat, n_samples)
    tcx = (X1 - X0) / tw
    tcy = (Y0b - Y1b) / th
    tr, tc = np.meshgrid(np.arange(th), np.arange(tw), indexing="ij")
    xm = X0 + (tc + 0.5) * tcx
    ym = Y1b + (tr + 0.5) * tcy
    lon, lat = dfn["inv_np"](xm, ym)
    sx, sy = sfn["fwd_np"](lon, lat)
    u = np.round((sy - y0g) / cy - 0.5, _Q)
    v = np.round((sx - x0g) / cx - 0.5, _Q)
    r0 = np.floor(u).astype(np.int64)
    c0 = np.floor(v).astype(np.int64)
    du, dv = u - r0, v - c0
    offs, wf = _np_kernel_wfun(kernel, a)
    valid = full != ndv
    num = np.zeros(out_shape)
    den = np.zeros(out_shape)
    cnt = np.zeros(out_shape, dtype=np.int64)
    for i in offs:
        for j in offs:
            rr, cc = r0 + i, c0 + j
            ok = (rr >= 0) & (rr < h) & (cc >= 0) & (cc < w)
            ok &= valid[np.clip(rr, 0, h - 1), np.clip(cc, 0, w - 1)]
            wgt = wf(np.abs(i - du)) * wf(np.abs(j - dv))
            num[ok] += wgt[ok] * full[rr[ok], cc[ok]]
            den[ok] += wgt[ok]
            cnt[ok] += 1
    out = np.full(out_shape, np.nan)
    nz = np.abs(den) >= 0.05
    out[nz] = num[nz] / den[nz]
    return out, cnt


def reproject_any_average_numpy_oracle(full: np.ndarray, ndv: float, src_crs,
                                       dst_crs, src_origin, src_cellsize,
                                       out_shape, how: str = "mean",
                                       bbox_lonlat=None, n_samples: int = 64):
    """Independent numpy oracle for reproject_any's forward-bucket
    aggregates. Returns (value, n_contrib); value nan (and count 0)
    for empty target cells — the engine emits no row for those."""
    sfn = crs_funcs(parse_crs(src_crs))
    dfn = crs_funcs(parse_crs(dst_crs))
    h, w = full.shape
    th, tw = out_shape
    x0g, y0g = src_origin
    cx, cy = src_cellsize
    X0, Y0b, X1, Y1b = any_bounds(src_crs, dst_crs, src_origin, src_cellsize,
                                  (h, w), bbox_lonlat, n_samples)
    tcx = (X1 - X0) / tw
    tcy = (Y0b - Y1b) / th
    rr, cc = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
    xc = x0g + (cc + 0.5) * cx
    yc = y0g + (rr + 0.5) * cy
    lon, lat = sfn["inv_np"](xc, yc)
    X, Y = dfn["fwd_np"](lon, lat)
    trow = np.floor(np.round((Y - Y1b) / tcy, _Q)).astype(np.int64)
    tcol = np.floor(np.round((X - X0) / tcx, _Q)).astype(np.int64)
    ok = (full != ndv) & (trow >= 0) & (trow < th) & (tcol >= 0) & (tcol < tw)
    val = np.full(out_shape, np.nan)
    cnt = np.zeros(out_shape, dtype=np.int64)
    buckets: dict = {}
    for t_r, t_c, v in zip(trow[ok], tcol[ok], full[ok]):
        buckets.setdefault((int(t_r), int(t_c)), []).append(float(v))
    for (t_r, t_c), vs in buckets.items():
        cnt[t_r, t_c] = len(vs)
        if how == "mean":
            val[t_r, t_c] = sum(vs) / len(vs)
        elif how == "sum":
            val[t_r, t_c] = sum(vs)
        elif how == "min":
            val[t_r, t_c] = min(vs)
        elif how == "max":
            val[t_r, t_c] = max(vs)
        elif how == "count":
            val[t_r, t_c] = len(vs)
        elif how == "mode":
            counts: dict = {}
            for v in vs:
                counts[v] = counts.get(v, 0) + 1
            best = max(counts.items(), key=lambda kv: (kv[1], -kv[0]))
            val[t_r, t_c] = best[0]
        else:
            raise ValueError(f"unknown resampling aggregate {how!r}")
    return val, cnt


# ---------------------------------------------------------------------------
# Datum shifts: non-WGS84 geographic CRSs via geocentric Helmert
# transforms (reference: georasters.py:559-667 accepts ANY osr CRS —
# GDAL applies +towgs84 the same way).  A datum'd geographic CRS is
# the token "geog:a:f:dx:dy:dz:rx:ry:rz:ds" (ellipsoid semi-major a,
# flattening f, 7-param position-vector Helmert to WGS84: meters,
# arcseconds, ppm).  Pipeline, closed form end to end (no iteration —
# Bowring's one-step inverse — so Spark Columns and DuckDB SQL compute
# the identical operation sequence):
#
#   datum lon/lat --(geodetic->XYZ on datum ellipsoid)-->
#   --(Helmert to WGS84)--> --(Bowring XYZ->geodetic on WGS84)--> lon/lat
#
# The reverse direction negates the Helmert parameters (the standard
# approximation, exact to << the quantized-gather tolerance).
# ---------------------------------------------------------------------------

_ARCSEC = math.pi / 648000.0

#: proj4 ellipsoid registry (a, 1/f supplied as f directly)
ELLIPSOIDS = {
    "wgs84": (6378137.0, 1.0 / 298.257223563),
    "grs80": (6378137.0, 1.0 / 298.257222101),
    "airy": (6377563.396, 1.0 / 299.3249646),
    "clrk66": (6378206.4, 1.0 / 294.9786982),
    "intl": (6378388.0, 1.0 / 297.0),
    "krass": (6378245.0, 1.0 / 298.3),
    "bessel": (6377397.155, 1.0 / 299.1528128),
    "sphere": (6370997.0, 0.0),
}

#: geographic EPSG codes on non-WGS84 datums: (ellipsoid, towgs84)
DATUM_EPSG = {
    4267: ("clrk66", (-8.0, 160.0, 176.0, 0.0, 0.0, 0.0, 0.0)),      # NAD27
    4277: ("airy", (446.448, -125.157, 542.06,
                    0.15, 0.247, 0.842, -20.489)),                    # OSGB36
    4269: ("grs80", (0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)),             # NAD83
    4258: ("grs80", (0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)),             # ETRS89
    4230: ("intl", (-87.0, -98.0, -121.0, 0.0, 0.0, 0.0, 0.0)),       # ED50
}


def geog_token(a: float, f: float, towgs84) -> str:
    t = tuple(float(v) for v in towgs84)
    if len(t) == 3:
        t = t + (0.0, 0.0, 0.0, 0.0)
    if len(t) != 7:
        raise NotImplementedError("+towgs84 must have 3 or 7 parameters")
    return "geog:" + ":".join(repr(float(v)) for v in (a, f) + t)


def datum_params(token: str) -> dict:
    vals = [float(v) for v in token.split(":")[1:]]
    a, f = vals[0], vals[1]
    b = a * (1.0 - f)
    e2 = f * (2.0 - f)
    ep2 = (a * a - b * b) / (b * b) if b else 0.0
    return {
        "a": a, "f": f, "b": b, "e2": e2, "ep2": ep2,
        "dx": vals[2], "dy": vals[3], "dz": vals[4],
        "rx": vals[5] * _ARCSEC, "ry": vals[6] * _ARCSEC,
        "rz": vals[7] * _ARCSEC, "m": 1.0 + vals[8] * 1e-6,
    }


_WGS84_ELL = {
    "a": _WGS84_A, "b": _WGS84_A * (1.0 - _WGS84_F),
    "e2": _WGS84_F * (2.0 - _WGS84_F),
    "ep2": (_WGS84_A ** 2 - (_WGS84_A * (1.0 - _WGS84_F)) ** 2)
    / (_WGS84_A * (1.0 - _WGS84_F)) ** 2,
}


def _geodetic_to_xyz_np(lon, lat, a, e2):
    phi = np.radians(np.asarray(lat, np.float64))
    lam = np.radians(np.asarray(lon, np.float64))
    sp, cp = np.sin(phi), np.cos(phi)
    n = a / np.sqrt(1.0 - e2 * sp * sp)
    return n * cp * np.cos(lam), n * cp * np.sin(lam), n * (1.0 - e2) * sp


def _xyz_to_geodetic_np(X, Y, Z, a, b, e2, ep2):
    p = np.sqrt(X * X + Y * Y)
    th = np.arctan2(Z * a, p * b)
    st, ct = np.sin(th), np.cos(th)
    phi = np.arctan2(Z + ep2 * b * st * st * st, p - e2 * a * ct * ct * ct)
    lam = np.arctan2(Y, X)
    return lam / _D2R, phi / _D2R


def _helmert_np(X, Y, Z, P, inverse: bool):
    s = -1.0 if inverse else 1.0
    m = 1.0 + s * (P["m"] - 1.0)
    rx, ry, rz = s * P["rx"], s * P["ry"], s * P["rz"]
    dx, dy, dz = s * P["dx"], s * P["dy"], s * P["dz"]
    return (
        dx + m * (X - rz * Y + ry * Z),
        dy + m * (rz * X + Y - rx * Z),
        dz + m * (-ry * X + rx * Y + Z),
    )


def datum_to_wgs84_np(lon, lat, P):
    X, Y, Z = _geodetic_to_xyz_np(lon, lat, P["a"], P["e2"])
    X, Y, Z = _helmert_np(X, Y, Z, P, inverse=False)
    W = _WGS84_ELL
    return _xyz_to_geodetic_np(X, Y, Z, W["a"], W["b"], W["e2"], W["ep2"])


def wgs84_to_datum_np(lon, lat, P):
    W = _WGS84_ELL
    X, Y, Z = _geodetic_to_xyz_np(lon, lat, W["a"], W["e2"])
    X, Y, Z = _helmert_np(X, Y, Z, P, inverse=True)
    return _xyz_to_geodetic_np(X, Y, Z, P["a"], P["b"], P["e2"], P["ep2"])


def _geodetic_to_xyz_cols(lon, lat, a, e2):
    phi = lat * F.lit(_D2R)
    lam = lon * F.lit(_D2R)
    sp, cp = F.sin(phi), F.cos(phi)
    n = F.lit(a) / F.sqrt(F.lit(1.0) - F.lit(e2) * sp * sp)
    return n * cp * F.cos(lam), n * cp * F.sin(lam), n * F.lit(1.0 - e2) * sp


def _xyz_to_geodetic_cols(X, Y, Z, a, b, e2, ep2):
    p = F.sqrt(X * X + Y * Y)
    th = F.atan2(Z * F.lit(a), p * F.lit(b))
    st, ct = F.sin(th), F.cos(th)
    phi = F.atan2(Z + F.lit(ep2 * b) * st * st * st,
                  p - F.lit(e2 * a) * ct * ct * ct)
    lam = F.atan2(Y, X)
    return lam / F.lit(_D2R), phi / F.lit(_D2R)


def _helmert_cols(X, Y, Z, P, inverse: bool):
    s = -1.0 if inverse else 1.0
    m = 1.0 + s * (P["m"] - 1.0)
    rx, ry, rz = s * P["rx"], s * P["ry"], s * P["rz"]
    dx, dy, dz = s * P["dx"], s * P["dy"], s * P["dz"]
    return (
        F.lit(dx) + F.lit(m) * (X - F.lit(rz) * Y + F.lit(ry) * Z),
        F.lit(dy) + F.lit(m) * (F.lit(rz) * X + Y - F.lit(rx) * Z),
        F.lit(dz) + F.lit(m) * (F.lit(-ry) * X + F.lit(rx) * Y + Z),
    )


def datum_to_wgs84_cols(lon, lat, P):
    X, Y, Z = _geodetic_to_xyz_cols(lon, lat, P["a"], P["e2"])
    X, Y, Z = _helmert_cols(X, Y, Z, P, inverse=False)
    W = _WGS84_ELL
    return _xyz_to_geodetic_cols(X, Y, Z, W["a"], W["b"], W["e2"], W["ep2"])


def wgs84_to_datum_cols(lon, lat, P):
    W = _WGS84_ELL
    X, Y, Z = _geodetic_to_xyz_cols(lon, lat, W["a"], W["e2"])
    X, Y, Z = _helmert_cols(X, Y, Z, P, inverse=True)
    return _xyz_to_geodetic_cols(X, Y, Z, P["a"], P["b"], P["e2"], P["ep2"])


def datum_to_wgs84_sql(lon: str, lat: str, P) -> tuple[str, str]:
    """(lon_sql, lat_sql) — mirrors datum_to_wgs84_cols operation for
    operation (same literals via dlit, same multiply pairing) so DuckDB
    reproduces the Column pipeline to the gather quantization."""
    d2r = dlit(_D2R)
    phi = f"({lat} * {d2r})"
    lam = f"({lon} * {d2r})"
    sp, cp = f"sin({phi})", f"cos({phi})"
    n = f"({dlit(P['a'])} / sqrt(1.0 - {dlit(P['e2'])} * {sp} * {sp}))"
    X = f"({n} * {cp} * cos({lam}))"
    Y = f"({n} * {cp} * sin({lam}))"
    Z = f"({n} * {dlit(1.0 - P['e2'])} * {sp})"
    m, rx, ry, rz = P["m"], P["rx"], P["ry"], P["rz"]
    Xh = f"({dlit(P['dx'])} + {dlit(m)} * ({X} - {dlit(rz)} * {Y} + {dlit(ry)} * {Z}))"
    Yh = f"({dlit(P['dy'])} + {dlit(m)} * ({dlit(rz)} * {X} + {Y} - {dlit(rx)} * {Z}))"
    Zh = f"({dlit(P['dz'])} + {dlit(m)} * ({dlit(-ry)} * {X} + {dlit(rx)} * {Y} + {Z}))"
    W = _WGS84_ELL
    p = f"sqrt({Xh} * {Xh} + {Yh} * {Yh})"
    th = f"atan2({Zh} * {dlit(W['a'])}, {p} * {dlit(W['b'])})"
    st, ct = f"sin({th})", f"cos({th})"
    phi2 = (f"atan2({Zh} + {dlit(W['ep2'] * W['b'])} * {st} * {st} * {st}, "
            f"{p} - {dlit(W['e2'] * W['a'])} * {ct} * {ct} * {ct})")
    lam2 = f"atan2({Yh}, {Xh})"
    return f"({lam2} / {d2r})", f"({phi2} / {d2r})"


#: +datum=NAME shorthand -> (ellipsoid, towgs84) — the proj4 names for
#: the datums this engine's Helmert registry covers
_PROJ4_DATUMS = {
    "wgs84": ("wgs84", (0.0,) * 7),
    "nad27": ("clrk66", (-8.0, 160.0, 176.0, 0.0, 0.0, 0.0, 0.0)),
    "nad83": ("grs80", (0.0,) * 7),
    "osgb36": ("airy", (446.448, -125.157, 542.06,
                        0.15, 0.247, 0.842, -20.489)),
    "ed50": ("intl", (-87.0, -98.0, -121.0, 0.0, 0.0, 0.0, 0.0)),
}


def _utm_token_if_standard(lat0, lon0, k0, fe, fn):
    """Return 'utm:<zone><n|s>' when the TM parameters are exactly a
    standard UTM zone, else None (shared by the WKT and proj4 paths)."""
    zone = (lon0 + 183.0) / 6.0
    if (lat0 == 0.0 and abs(k0 - 0.9996) < 1e-12 and fe == 500000.0
            and fn in (0.0, 10000000.0) and abs(zone - round(zone)) < 1e-9
            and 1 <= round(zone) <= 60):
        return f"utm:{round(zone)}{'s' if fn else 'n'}"
    return None


def _parse_longlat_proj4(key: str) -> str:
    """'+proj=longlat ...' -> 'wgs84' (WGS84/GRS80-no-shift/default) or
    a geog datum token when +datum/+ellps/+a/+b/+towgs84 define another
    datum. An unknown +datum NAME refuses — it must never silently
    drop a 10-200 m shift."""
    p: dict[str, str] = {}
    for tokn in key.split():
        k2, _, v = tokn.partition("=")
        p[k2] = v
    a = f = None
    if "+datum" in p:
        name = p["+datum"].lower()
        if name not in _PROJ4_DATUMS:
            raise NotImplementedError(
                f"+datum={p['+datum']} not in registry "
                f"({sorted(_PROJ4_DATUMS)}); spell it out with "
                "+ellps/+a/+b and +towgs84")
        ell, tow = _PROJ4_DATUMS[name]
        a, f = ELLIPSOIDS[ell]
        if (a, f) == ELLIPSOIDS["wgs84"] and not any(tow):
            return "wgs84"
        return geog_token(a, f, tow)
    if "+ellps" in p:
        ell = p["+ellps"].lower()
        if ell not in ELLIPSOIDS:
            raise NotImplementedError(f"+ellps={p['+ellps']} not in registry "
                                      f"({sorted(ELLIPSOIDS)})")
        a, f = ELLIPSOIDS[ell]
    if "+a" in p:
        a = float(p["+a"])
        if "+b" in p:
            b = float(p["+b"])
            f = (a - b) / a
        elif "+f" in p:
            f = float(p["+f"])
        elif "+rf" in p:
            f = 1.0 / float(p["+rf"])
        else:
            f = 0.0  # sphere
    tow = (0.0,) * 7
    if "+towgs84" in p:
        tow = tuple(float(v) for v in p["+towgs84"].split(","))
    if a is None:
        a, f = ELLIPSOIDS["wgs84"]
    if (a, f) == ELLIPSOIDS["wgs84"] and not any(tow):
        return "wgs84"
    return geog_token(a, f, tow)


# ---------------------------------------------------------------------------
# WKT1 CRS input (the reference accepts WKT/osr objects,
# georasters.py:559-667): a small recursive parser for
# GEOGCS[...DATUM[...SPHEROID, TOWGS84]...] and PROJCS[... PROJECTION,
# PARAMETER*...], mapped onto the existing token families.
# ---------------------------------------------------------------------------


def _wkt_parse_node(s: str, i: int):
    """Parse NAME[arg, arg, ...] at position i -> ((name, args), next_i);
    args are floats, quoted strings, or nested nodes."""
    j = i
    while j < len(s) and s[j] not in "[":
        j += 1
    name = s[i:j].strip().upper()
    if j >= len(s):
        raise ValueError(f"WKT: expected '[' after {name!r}")
    args = []
    j += 1
    while True:
        while j < len(s) and s[j] in ", \t\r\n":
            j += 1
        if j >= len(s):
            raise ValueError("WKT: unterminated node")
        if s[j] == "]":
            return (name, args), j + 1
        if s[j] == '"':
            k = s.index('"', j + 1)
            args.append(s[j + 1 : k])
            j = k + 1
        elif s[j].isalpha():
            # Bare enum keywords (NORTH/EAST in AXIS[...], etc.) are atoms,
            # not nested nodes: only recurse when a '[' opens before the
            # next ',' or ']' delimiter.
            k = j
            while k < len(s) and s[k] not in "[,]":
                k += 1
            if k < len(s) and s[k] == "[":
                node, j = _wkt_parse_node(s, j)
                args.append(node)
            else:
                args.append(s[j:k].strip())
                j = k
        else:
            k = j
            while k < len(s) and s[k] not in ",]":
                k += 1
            args.append(float(s[j:k]))
            j = k
    # unreachable


def _wkt_find(node, name):
    for a in node[1]:
        if isinstance(a, tuple) and a[0] == name:
            return a
    return None


def _wkt_params(node) -> dict:
    out = {}
    for a in node[1]:
        if isinstance(a, tuple) and a[0] == "PARAMETER":
            out[str(a[1][0]).lower()] = float(a[1][1])
    return out


def _wkt_authority_code(node):
    auth = _wkt_find(node, "AUTHORITY")
    if auth and len(auth[1]) == 2 and str(auth[1][0]).upper() == "EPSG":
        try:
            return int(str(auth[1][1]))
        except ValueError:
            return None
    return None


def _wkt_geogcs_token(g) -> str:
    datum = _wkt_find(g, "DATUM")
    if datum is None:
        raise ValueError("WKT GEOGCS without DATUM")
    sph = _wkt_find(datum, "SPHEROID")
    if sph is None:
        raise ValueError("WKT DATUM without SPHEROID")
    a = float(sph[1][1])
    invf = float(sph[1][2])
    f = 1.0 / invf if invf else 0.0
    tw = _wkt_find(datum, "TOWGS84")
    tow = tuple(float(v) for v in tw[1]) if tw else (0.0,) * 7
    if abs(a - ELLIPSOIDS["wgs84"][0]) < 1e-6 and \
            abs(f - ELLIPSOIDS["wgs84"][1]) < 1e-12 and not any(tow):
        return "wgs84"
    return geog_token(a, f, tow)


def parse_wkt(wkt: str) -> str:
    """WKT1 GEOGCS/PROJCS -> parse_crs token. An EPSG AUTHORITY on the
    top node short-circuits to the numeric path; otherwise the
    structure is mapped: GEOGCS -> wgs84 or a geog datum token, PROJCS
    -> the matching projection family (WGS84 datum only — the
    projection kernels are WGS84/sphere-specific)."""
    node, _ = _wkt_parse_node(wkt.strip(), 0)
    code = _wkt_authority_code(node)
    if code is not None:
        return parse_crs(code)
    if node[0] == "GEOGCS":
        return _wkt_geogcs_token(node)
    if node[0] != "PROJCS":
        raise NotImplementedError(f"WKT node {node[0]} not supported")
    g = _wkt_find(node, "GEOGCS")
    if g is None:
        raise ValueError("WKT PROJCS without GEOGCS")
    geog = _wkt_geogcs_token(g)
    proj = _wkt_find(node, "PROJECTION")
    if proj is None:
        raise ValueError("WKT PROJCS without PROJECTION")
    pname = str(proj[1][0]).lower()
    p = _wkt_params(node)
    lat0 = p.get("latitude_of_origin", 0.0)
    lon0 = p.get("central_meridian", p.get("longitude_of_center", 0.0))
    k0 = p.get("scale_factor", 1.0)
    fe = p.get("false_easting", 0.0)
    fn = p.get("false_northing", 0.0)
    if geog != "wgs84" and pname != "transverse_mercator":
        raise NotImplementedError(
            "projected WKT on a non-WGS84 datum is only supported for "
            "Transverse_Mercator (Helmert + Krüger on that ellipsoid); "
            "reproject other projections via the datum'd geographic form")
    if pname == "transverse_mercator":
        if geog != "wgs84":
            gp = datum_params(geog)
            return tmd_token(gp["a"], gp["f"], lat0, lon0, k0, fe, fn,
                             tuple(float(x) for x in geog.split(":")[3:]))
        utm = _utm_token_if_standard(lat0, lon0, k0, fe, fn)
        if utm:
            return utm
        a, f = ELLIPSOIDS["wgs84"]
        return tmd_token(a, f, lat0, lon0, k0, fe, fn, (0.0,) * 7)
    if pname in ("popular_visualisation_pseudo_mercator",
                 "mercator_auxiliary_sphere"):
        return "webmerc"
    if pname == "mercator_1sp":
        # TRUE (ellipsoidal) Mercator — EPSG:3395 form only
        if k0 == 1.0 and lat0 == 0.0 and lon0 == 0.0 and fe == 0.0 and fn == 0.0:
            return "merc3395"
        raise NotImplementedError(
            "WKT Mercator_1SP only as EPSG:3395 World Mercator "
            "(k0=1, natural origin at 0/0, no false origin)")
    if pname == "cylindrical_equal_area":
        if p.get("standard_parallel_1", 0.0) != 0.0 or lon0 != 0.0:
            raise NotImplementedError("WKT CEA only with lat_ts=0, lon0=0")
        return "cea"
    if pname == "sinusoidal":
        if lon0 != 0.0:
            raise NotImplementedError("WKT Sinusoidal only with lon0=0")
        return "sinu"
    if pname == "albers_conic_equal_area":
        return (f"aea:custom:{p['standard_parallel_1']}"
                f":{p.get('standard_parallel_2', p['standard_parallel_1'])}"
                f":{lat0}:{lon0}:{fe}:{fn}")
    if pname == "lambert_conformal_conic_2sp":
        return (f"lcc:custom:{p['standard_parallel_1']}"
                f":{p.get('standard_parallel_2', p['standard_parallel_1'])}"
                f":{lat0}:{lon0}:{fe}:{fn}")
    raise NotImplementedError(f"WKT PROJECTION {pname!r} not supported")


# ---------------------------------------------------------------------------
# Projected CRSs on non-WGS84 datums: transverse Mercator with a
# natural origin on a custom ellipsoid (EPSG:27700 British National
# Grid class).  Token "tmd:a:f:lat0:lon0:k0:fe:fn:dx:dy:dz:rx:ry:rz:ds"
# composes the Helmert shift with the Krüger series on that ellipsoid.
# The natural-origin latitude folds into an effective false northing
# (fn_eff = fn - k0·A·ξ(lat0): the meridian arc from the equator to
# lat0 in Krüger rectifying coordinates), so the zone kernels run
# unchanged.
# ---------------------------------------------------------------------------


def tmd_token(a: float, f: float, lat0: float, lon0: float, k0: float,
              fe: float, fn: float, towgs84) -> str:
    t = tuple(float(v) for v in towgs84)
    if len(t) == 3:
        t = t + (0.0, 0.0, 0.0, 0.0)
    if len(t) != 7:
        raise NotImplementedError("+towgs84 must have 3 or 7 parameters")
    return "tmd:" + ":".join(
        repr(float(v)) for v in (a, f, lat0, lon0, k0, fe, fn) + t)


def tm_xi0(lat0: float, f: float, a: float) -> float:
    """Krüger rectifying coordinate ξ of latitude lat0 on the central
    meridian (λ = 0) — the meridian arc is A·ξ."""
    n, A, alpha, _, _ = _tm_series(f, a)
    es = 2.0 * math.sqrt(n) / (1.0 + n)
    sphi = math.sin(math.radians(lat0))
    t = math.sinh(math.atanh(sphi) - es * math.atanh(es * sphi))
    xip = math.atan2(t, 1.0)
    return xip + sum(aj * math.sin(2 * j * xip)
                     for j, aj in enumerate(alpha, 1))


def tmd_params(token: str) -> dict:
    v = [float(x) for x in token.split(":")[1:]]
    a, f, lat0, lon0, k0, fe, fn = v[:7]
    _, A, _, _, _ = _tm_series(f, a)
    return {
        "a": a, "f": f, "lat0": lat0, "lon0": lon0, "k0": k0, "fe": fe,
        "fn": fn, "fn_eff": fn - k0 * A * tm_xi0(lat0, f, a),
        "P": datum_params(geog_token(a, f, v[7:])),
    }


#: projected EPSG codes on non-WGS84 datums
TMD_EPSG = {
    # British National Grid: TM on Airy 1830, OSGB36 7-param Helmert
    27700: tmd_token(*ELLIPSOIDS["airy"], 49.0, -2.0, 0.9996012717,
                     400000.0, -100000.0, DATUM_EPSG[4277][1]),
}


def _parse_tmerc_proj4(key: str) -> str:
    """'+proj=tmerc +lat_0 +lon_0 +k +x_0 +y_0 [+ellps/+a/+b]
    [+towgs84]' -> utm-style token on WGS84, tmd token otherwise."""
    p: dict[str, str] = {}
    for tokn in key.split():
        k2, _, val = tokn.partition("=")
        p[k2] = val
    lat0 = float(p.get("+lat_0", 0.0))
    lon0 = float(p.get("+lon_0", 0.0))
    k0 = float(p.get("+k", p.get("+k_0", 1.0)))
    fe = float(p.get("+x_0", 0.0))
    fn = float(p.get("+y_0", 0.0))
    geog = _parse_longlat_proj4(
        "+proj=longlat " + " ".join(
            t for t in key.split()
            if t.split("=")[0] in ("+ellps", "+a", "+b", "+f", "+rf",
                                   "+towgs84", "+datum")))
    if geog == "wgs84":
        utm = _utm_token_if_standard(lat0, lon0, k0, fe, fn)
        if utm:
            return utm
        a, f = ELLIPSOIDS["wgs84"]
        return tmd_token(a, f, lat0, lon0, k0, fe, fn, (0.0,) * 7)
    P = datum_params(geog)
    return tmd_token(P["a"], P["f"], lat0, lon0, k0, fe, fn,
                     tuple(float(x) for x in geog.split(":")[3:]))


# ---------------------------------------------------------------------------
# Ellipsoidal Mercator (EPSG:3395 World Mercator): the TRUE Mercator on
# the WGS84 ellipsoid — x = a·λ, y = a·q with q the isometric latitude
# q = atanh(sin φ) − e·atanh(e·sin φ); the inverse recovers the
# conformal latitude χ = atan(sinh(y/a)) and rectifies it with the SAME
# delta series the Krüger transverse-Mercator inverse uses
# (_tm_series), so both engines share a closed form with no iteration.
# ---------------------------------------------------------------------------

_E_WGS84 = math.sqrt(_WGS84_F * (2.0 - _WGS84_F))


def merc3395_forward_np(lon, lat):
    lam = np.radians(np.asarray(lon, np.float64))
    sphi = np.sin(np.radians(np.asarray(lat, np.float64)))
    q = np.arctanh(sphi) - _E_WGS84 * np.arctanh(_E_WGS84 * sphi)
    return _WGS84_A * lam, _WGS84_A * q


def merc3395_inverse_np(x, y):
    _n, _A, _a, _b, delta = _tm_series()
    lam = np.asarray(x, np.float64) / _WGS84_A
    chi = np.arctan(np.sinh(np.asarray(y, np.float64) / _WGS84_A))
    phi = chi.copy()
    for j, d in enumerate(delta, 1):
        phi = phi + d * np.sin(2 * j * chi)
    return lam / _D2R, phi / _D2R


def merc3395_forward_cols(lon, lat):
    lam = lon * F.lit(_D2R)
    sphi = F.sin(lat * F.lit(_D2R))
    atanh = lambda v: F.lit(0.5) * F.log((F.lit(1.0) + v) / (F.lit(1.0) - v))  # noqa: E731
    q = atanh(sphi) - F.lit(_E_WGS84) * atanh(F.lit(_E_WGS84) * sphi)
    return F.lit(_WGS84_A) * lam, F.lit(_WGS84_A) * q


def merc3395_inverse_cols(x, y):
    _n, _A, _a, _b, delta = _tm_series()
    lam = x / F.lit(_WGS84_A)
    chi = F.atan(F.sinh(y / F.lit(_WGS84_A)))
    phi = chi
    for j, d in enumerate(delta, 1):
        phi = phi + F.lit(d) * F.sin(F.lit(float(2 * j)) * chi)
    return lam / F.lit(_D2R), phi / F.lit(_D2R)


def merc3395_inverse_sql(x_expr: str, y_expr: str) -> tuple[str, str]:
    """(lon_sql, lat_sql) mirroring merc3395_inverse_cols term for term
    (sinh spelled with exp for DuckDB, like tm_inverse_sql)."""
    _n, _A, _a, _b, delta = _tm_series()
    Al = dlit(_WGS84_A)
    d2r = dlit(_D2R)
    sinh_s = f"((exp(({y_expr}) / {Al}) - exp(-(({y_expr}) / {Al}))) / 2.0)"
    chi = f"atan({sinh_s})"
    phi = "chi" + "".join(
        f" + {dlit(d)} * sin({dlit(float(2 * j))} * chi)"
        for j, d in enumerate(delta, 1))
    lon = f"(({x_expr}) / {Al} / {d2r})"
    return lon, f"(({phi.replace('chi', chi)}) / {d2r})"


def warp_cutline(px: DataFrame | None,
                 src_origin: tuple[float, float],
                 src_cellsize: tuple[float, float],
                 src_shape: tuple[int, int],
                 out_shape: tuple[int, int],
                 zones,
                 phi_s: float = 0.0,
                 images: DataFrame | None = None) -> DataFrame:
    """gdalwarp -cutline role: warp onto the CEA target grid and keep
    only target cells whose CENTER falls inside a cutline polygon
    (cutline given in the source CRS lon/lat, GDAL's default; concave
    rings and holes via the even-odd kernel).  Returns (trow, tcol,
    zone_id, xm, ym, value) — cells outside every cutline are dropped,
    a cell inside k cutlines appears k times (one per zone_id, the
    multi-cutline analog of running gdalwarp per cutline).

    Plan: the standard warp (pixel join or tile cogroup) + the target
    centers' closed-form inverse back to lon/lat as pure Columns + the
    SAME broadcast even-odd-PIP kernel as clip/zonal/rasterize — the
    cutline never shuffles pixels, it rides the already-warped rows."""
    from .spatial_join import pip_join

    warped = wgs84_to_cea_grid(px, src_origin, src_cellsize, src_shape,
                               out_shape, phi_s=phi_s, images=images)
    k = math.cos(math.radians(phi_s))
    lon = F.col("xm") / F.lit(R * k) * F.lit(180.0) / F.lit(math.pi)
    lat = F.asin(F.col("ym") * F.lit(k / R)) * F.lit(180.0) / F.lit(math.pi)
    withc = warped.select("trow", "tcol", "xm", "ym", "value",
                          lon.alias("xc"), lat.alias("yc"))
    hits = pip_join(withc, zones, mode="center")
    return hits.select("trow", "tcol", F.col("zone_id").cast("long").alias("zone_id"),
                       "xm", "ym", "value")


def warp_cutline_sql(px_cte: str,
                     src_origin: tuple[float, float],
                     src_cellsize: tuple[float, float],
                     src_shape: tuple[int, int],
                     out_shape: tuple[int, int],
                     zones,
                     phi_s: float = 0.0) -> str:
    """DuckDB oracle for warp_cutline: the wgs84_to_cea_sql lattice +
    the even-odd crossing-number predicate per zone over the SAME
    inverse lon/lat expressions."""
    from ..sources.synth import zone_sql_predicate_evenodd

    k = math.cos(math.radians(phi_s))
    lon = f"(xm / {dlit(R * k)} * 180.0 / pi())"
    lat = f"(asin(ym * {dlit(k / R)}) * 180.0 / pi())"
    preds = " UNION ALL ".join(
        f"SELECT trow, tcol, CAST({z.zone_id} AS BIGINT) AS zone_id, xm, ym, "
        f"row, col FROM loc WHERE "
        + zone_sql_predicate_evenodd(z, lon, lat)
        for z in zones)
    ctes = _cea_tgt_loc_ctes(src_origin, src_cellsize, src_shape,
                             out_shape, phi_s)
    return f"""WITH {px_cte},
{ctes},
hits AS ({preds})
SELECT hits.trow, hits.tcol, hits.zone_id, hits.xm AS xm, hits.ym AS ym,
       px.value
FROM hits LEFT JOIN px ON px.row = hits.row AND px.col = hits.col"""
