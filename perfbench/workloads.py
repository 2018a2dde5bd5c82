"""The benchmark's workloads: seeded tables, the closed-loop request
streams run against them, and the numpy oracles every response is
checked against.

Each workload builds and commits its tables in ``setup`` (timed as
set-up), computes its oracles in ``prepare`` (untimed), then yields
``Request`` objects forever; the runner sends them one at a time from
one client thread (a closed loop) and times ``run`` only.

The seed reaches the engine only as generated inputs: grid seeds, query
boxes, points and windows are drawn from it.
"""

from __future__ import annotations

import glob
import math
import os
from dataclasses import dataclass
from typing import Callable, Iterator

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from georasters_spark.operators import algebra as AL
from georasters_spark.operators import knn as KN
from georasters_spark.operators import pixels as PX
from georasters_spark.operators import reproject as RP
from georasters_spark.operators import spatial_join as SJ
from georasters_spark.sources import catalog as CAT
from georasters_spark.sources import synth

import stats

TILE = 64
ZONES = synth.ZONES_T1 + synth.ZONES_EXTRA


@dataclass(frozen=True)
class Scale:
    """Grid geometry and per-request sizes of one workload instance."""

    width: int  # source grid pixels
    height: int
    cell_res: int
    grids: int = 1  # batch_scan: snapshots of the grid in one table
    warp_out: tuple[int, int] = (256, 512)  # batch_scan warp target shape
    poly_px: int = 256  # batch_scan polygonize window side
    box_deg: tuple[float, float] = (20.0, 15.0)  # serve_mixed box size
    range_files: int = 16


# the measured instances (README: why these sizes)
FULL = {
    "batch_scan": Scale(2160, 1080, 5, grids=2),
    "serve_mixed": Scale(2160, 1080, 5),
}
# layer probes of a traced run: the same request kinds on the 540x270
# T1 geometry, for layers the workload under test does not call
PROBE = Scale(540, 270, 3, warp_out=(128, 256), poly_px=192, box_deg=(40.0, 30.0), range_files=8)


@dataclass
class Request:
    kind: str
    run: Callable[[], object]  # the timed call into the engine
    check: Callable[[object], bool]  # untimed output check


def grid_spec(name: str, sc: Scale, seed: int) -> synth.GridSpec:
    return synth.GridSpec(grid_id=name, width=sc.width, height=sc.height,
                          seed=seed, tile=TILE, cell_res=sc.cell_res)


def dir_bytes(root: str) -> int:
    """On-disk bytes of every file under root, checksum files included."""
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs)


def build_and_persist(spark, tr, spec):
    """Generate (and encode) the tiles of a grid as a persisted
    DataFrame, so the table commit that follows times only the write."""
    with tr.span("synth.build_images"):
        imgs = synth.build_images(spark, spec).persist()
        imgs.count()
    return imgs


# ---------------------------------------------------------------------------
# oracles (numpy, single process)
# ---------------------------------------------------------------------------

def even_odd(px, py, rings) -> np.ndarray:
    """Crossing-number point-in-polygon over all rings (holes by parity)."""
    inside = np.zeros(np.shape(px), dtype=bool)
    for ring in rings:
        n = len(ring)
        for i in range(n):
            (x1, y1), (x2, y2) = ring[i], ring[(i + 1) % n]
            if y1 == y2:
                continue
            crosses = (y1 > py) != (y2 > py)
            with np.errstate(divide="ignore", invalid="ignore"):
                xint = (x2 - x1) * (py - y1) / (y2 - y1) + x1
            inside ^= crosses & (px < xint)
    return inside


def zone_partials(spec: synth.GridSpec, full: np.ndarray, rings) -> tuple[int, int, int, int, int]:
    """(count, sum, sum of squares, min, max) of the valid pixels whose
    centers fall inside the rings; all zero when there are none."""
    xs = [x for r in rings for x, _ in r]
    ys = [y for r in rings for _, y in r]
    c0 = max(0, int(math.floor((min(xs) - spec.x0) / spec.cellx)) - 1)
    c1 = min(spec.width, int(math.ceil((max(xs) - spec.x0) / spec.cellx)) + 1)
    r0 = max(0, int(math.floor((max(ys) - spec.y0) / spec.celly)) - 1)
    r1 = min(spec.height, int(math.ceil((min(ys) - spec.y0) / spec.celly)) + 1)
    cc, rr = np.meshgrid(np.arange(c0, c1), np.arange(r0, r1))
    xc = spec.x0 + (cc + 0.5) * spec.cellx
    yc = spec.y0 + (rr + 0.5) * spec.celly
    win = full[r0:r1, c0:c1]
    v = win[even_odd(xc, yc, rings) & (win != int(spec.ndv))].astype(np.int64)
    if v.size == 0:
        return 0, 0, 0, 0, 0
    return int(v.size), int(v.sum()), int((v * v).sum()), int(v.min()), int(v.max())


def zonal_rows(partials: dict[int, list[tuple]]) -> dict[int, tuple]:
    """Combine per-grid partials into the zonal_stats_fused row shape
    (zcount, zsum, zmin, zmax, zmean, zstd)."""
    out = {}
    for zid, parts in partials.items():
        parts = [p for p in parts if p[0]]
        if not parts:
            continue
        c = sum(p[0] for p in parts)
        s = sum(p[1] for p in parts)
        s2 = sum(p[2] for p in parts)
        mean = s / c
        out[zid] = (c, s, min(p[3] for p in parts), max(p[4] for p in parts),
                    mean, math.sqrt(max(s2 / c - mean * mean, 0.0)))
    return out


def zonal_matches(rows, expected: dict[int, tuple]) -> bool:
    got = {int(r["zone_id"]): r for r in rows}
    if set(got) != set(expected):
        return False
    for zid, (c, s, mn, mx, mean, std) in expected.items():
        r = got[zid]
        if (r["zcount"], r["zsum"], r["zmin"], r["zmax"]) != (c, s, mn, mx):
            return False
        if abs(r["zmean"] - mean) > 2e-6 or abs(r["zstd"] - std) > 2e-6:
            return False
    return True


def label_stats(q: np.ndarray, valid: np.ndarray) -> tuple[int, int, int]:
    """(regions, cells, sum of squared region sizes) of 4-connected
    equal-value regions over valid cells: min-label propagation with
    pointer jumping, independent of the engine's tile-and-merge path."""
    h, w = q.shape
    big = h * w
    lab = np.where(valid, np.arange(big).reshape(h, w), big)
    same_r = valid[:, 1:] & valid[:, :-1] & (q[:, 1:] == q[:, :-1])
    same_d = valid[1:, :] & valid[:-1, :] & (q[1:, :] == q[:-1, :])
    while True:
        prev = lab
        nxt = lab.copy()
        m = np.minimum(lab[:, 1:], lab[:, :-1])
        nxt[:, 1:] = np.where(same_r, np.minimum(nxt[:, 1:], m), nxt[:, 1:])
        nxt[:, :-1] = np.where(same_r, np.minimum(nxt[:, :-1], m), nxt[:, :-1])
        m = np.minimum(nxt[1:, :], nxt[:-1, :])
        nxt[1:, :] = np.where(same_d, np.minimum(nxt[1:, :], m), nxt[1:, :])
        nxt[:-1, :] = np.where(same_d, np.minimum(nxt[:-1, :], m), nxt[:-1, :])
        flat = np.append(nxt.ravel(), big)
        lab = flat[flat[:-1]].reshape(h, w)  # pointer jumping
        if np.array_equal(lab, prev):
            break
    _, sizes = np.unique(lab[valid], return_counts=True)
    return int(sizes.size), int(sizes.sum()), int((sizes.astype(np.int64) ** 2).sum())


def tile_centers(spec: synth.GridSpec) -> tuple[np.ndarray, np.ndarray]:
    """Tile centers computed the way the tiles table derives them."""
    ty, tx = np.meshgrid(np.arange(spec.tiles_y), np.arange(spec.tiles_x), indexing="ij")
    xmin = spec.x0 + tx * spec.tile * spec.cellx
    ymax = spec.y0 + ty * spec.tile * spec.celly
    return (xmin + (spec.tile * spec.cellx) / 2).ravel(), (ymax + (spec.tile * spec.celly) / 2).ravel()


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

class Workload:
    """``table`` (set by ``setup``) is the committed tile table."""

    name = ""
    KIND_SPANS: dict[str, tuple[str, ...]] = {}  # request kind -> spans it opens
    MIX: dict[str, int] = {}  # measured loop: kind -> weight
    # untimed requests sent before the loop: the first requests of each
    # kind in a fresh session run markedly slower (Python workers import
    # the operator modules, the JVM compiles the hot paths)
    WARMUP: tuple[str, ...] = ()

    def __init__(self, sc: Scale, seed: int, tracer):
        self.sc = sc
        self.seed = seed
        self.tracer = tracer
        self.data_rng = np.random.default_rng([seed, 0])

    @property
    def layer_spans(self) -> set[str]:
        """Spans the measured loop opens."""
        return {s for k in self.MIX for s in self.KIND_SPANS[k]}

    def origin_cellsize(self, spec):
        return dict(origin=(spec.x0, spec.y0), cellsize=(spec.cellx, spec.celly))

    def setup(self, spark, tr, root: str) -> None:
        raise NotImplementedError

    def prepare(self) -> None:
        """Untimed: compute the oracles the checks compare against."""

    def requests(self, rng, kinds=None) -> Iterator[Request]:
        """The measured loop's requests in the fixed MIX interleave, or
        exactly `kinds` (layer probes). Parameters come from rng."""
        for kind in (kinds if kinds is not None else swrr(self.MIX)):
            yield getattr(self, "_" + kind)(rng)

    def stored(self) -> tuple[int, int]:
        """(on-disk bytes, pixels stored) of the committed tile table."""
        raise NotImplementedError

    def source_px(self) -> int:
        """Source pixels one request reads (for px/s)."""
        raise NotImplementedError

    def ratios(self, spark) -> dict[str, dict]:
        return {}


class BatchScan(Workload):
    """Batch analytics jobs over a committed SnapshotTable holding
    several snapshots of one grid: zonal statistics over every snapshot,
    a nearest CEA warp of the first snapshot, and a polygonize of a
    quantized window of it, one job per request."""

    name = "batch_scan"
    KIND_SPANS = {"zonal": ("spatial_join.zonal_fused",),
                  "warp": ("reproject.warp",),
                  "polygonize": ("algebra.polygonize",)}
    MIX = {"zonal": 1, "warp": 1, "polygonize": 1}
    WARMUP = ("zonal", "warp", "polygonize")

    def setup(self, spark, tr, root):
        # one seeded grid committed as `grids` snapshots: every snapshot
        # is a full re-ingest of the scene, and the table reads them all
        self.spec = grid_spec("b0", self.sc, int(self.data_rng.integers(0, 1_000_000)))
        imgs = build_and_persist(spark, tr, self.spec)
        self.root = os.path.join(root, "batch")
        with tr.span("catalog.setup_write"):
            tbl = CAT.SnapshotTable(self.root)
            for _ in range(self.sc.grids):
                tbl.append(imgs)
        imgs.unpersist()
        self.table = tbl.scan(spark)
        self.first = tbl.scan(spark, version=1)
        # the polygonize window: tile-aligned, placed by the seed
        n = self.sc.poly_px // TILE
        self.win_tiles = (int(self.data_rng.integers(0, self.spec.tiles_y - n + 1)),
                          int(self.data_rng.integers(0, self.spec.tiles_x - n + 1)))

    def prepare(self):
        spec = self.spec
        full = synth.stitched_array(spec)
        self.zonal_expected = zonal_rows(
            {z.zone_id: [zone_partials(spec, full, z.rings)] * self.sc.grids for z in ZONES})
        out = RP.warp_numpy_oracle(full, spec.ndv, (spec.x0, spec.y0), (spec.cellx, spec.celly),
                                   self.sc.warp_out)
        ok = out != spec.ndv
        tr, tc = np.nonzero(ok)
        v = out[ok].astype(np.int64)
        self.warp_expected = (int(v.size), int(v.sum()), int((v * ((tr * 7 + tc * 13) % 1009)).sum()))
        r0, c0 = (t * TILE for t in self.win_tiles)
        p = self.sc.poly_px
        win = full[r0:r0 + p, c0:c0 + p]
        self.poly_expected = label_stats(win.astype(np.int64) // 250, win != int(spec.ndv))

    def _zonal(self, rng):
        def run():
            with self.tracer.span("spatial_join.zonal_fused"):
                return SJ.zonal_stats_fused(self.table, ZONES,
                                            **self.origin_cellsize(self.spec)).collect()

        return Request("zonal", run, lambda rows: zonal_matches(rows, self.zonal_expected))

    def _warp(self, rng):
        """(count, sum, position-weighted sum) of the warped values."""
        spec, sc = self.spec, self.sc

        def run():
            with self.tracer.span("reproject.warp"):
                warped = RP.wgs84_to_cea_grid(
                    None, (spec.x0, spec.y0), (spec.cellx, spec.celly),
                    (spec.height, spec.width), sc.warp_out, images=self.first)
                a = warped.agg(F.count("value"), F.sum("value"),
                               F.sum(F.col("value") * ((F.col("trow") * 7 + F.col("tcol") * 13) % 1009))
                               ).collect()[0]
            return tuple(int(x or 0) for x in a)

        return Request("warp", run, lambda res: res == self.warp_expected)

    def _polygonize(self, rng):
        """(regions, cells, sum of squared region sizes) of the window."""
        n = self.sc.poly_px // TILE
        ty, tx = self.win_tiles

        def run():
            with self.tracer.span("algebra.polygonize"):
                win = self.first.filter(F.col("tile_row").between(ty, ty + n - 1)
                                        & F.col("tile_col").between(tx, tx + n - 1))
                px = PX.pixel_table(win, valid_only=True).select(
                    "row", "col", (F.col("value").cast("long") / 250).cast("long").alias("value"))
                b = AL.polygonize(px).agg(
                    F.count(F.lit(1)), F.sum("n_cells"),
                    F.sum(F.col("n_cells") * F.col("n_cells"))).collect()[0]
            return tuple(int(x or 0) for x in b)

        return Request("polygonize", run, lambda res: res == self.poly_expected)

    def stored(self):
        return dir_bytes(self.root), self.sc.grids * self.spec.n_tiles * TILE * TILE

    def source_px(self):
        # mean over the mix: the zonal job reads every snapshot, the
        # warp one, the polygonize its window
        px = {"zonal": self.sc.grids * self.spec.width * self.spec.height,
              "warp": self.spec.width * self.spec.height,
              "polygonize": self.sc.poly_px ** 2}
        return sum(px.values()) // len(px)

    def ratios(self, spark):
        kept = SJ.prune_tiles(self.table, ZONES).count()
        return {"spatial_join.tiles_kept_ratio": stats.ratio(kept, self.table.count())}


def swrr(weights: dict[str, int]) -> Iterator[str]:
    """Smooth weighted round robin: a fixed interleave in which every
    prefix holds each kind close to its weight share."""
    cur = {k: 0 for k in weights}
    total = sum(weights.values())
    while True:
        for k, w in weights.items():
            cur[k] += w
        k = max(cur, key=lambda x: cur[x])
        cur[k] -= total
        yield k


class ServeMixed(Workload):
    """One client, closed loop, over a clustered tile table: point
    lookups, kNN, window zonal and appends to a landing table."""

    name = "serve_mixed"
    KIND_SPANS = {"lookup": ("catalog.scan_bbox", "pixels.lookup_fused"),
                  "knn": ("knn.knn_tiles",),
                  "window": ("catalog.scan_bbox", "spatial_join.zonal_fused"),
                  "append": ("catalog.append",)}
    MIX = {"lookup": 8, "knn": 5, "window": 5, "append": 2}
    WARMUP = ("lookup", "knn", "window", "append")

    def setup(self, spark, tr, root):
        self.spark = spark
        self.spec = grid_spec("s0", self.sc, int(self.data_rng.integers(0, 1_000_000)))
        imgs = build_and_persist(spark, tr, self.spec)
        self.root = os.path.join(root, "clustered")
        with tr.span("catalog.setup_write"):
            CAT.write_clustered(imgs, self.root, res=self.sc.cell_res, prefix_res=1,
                                range_files=self.sc.range_files)
            self.landing = CAT.SnapshotTable(os.path.join(root, "landing"))
        imgs.unpersist()
        self.table = spark.read.parquet(self.root)
        self.n_files = len(glob.glob(os.path.join(self.root, "cell_prefix=*", "*.parquet")))
        self.n_appends = 0

    def prepare(self):
        self.full = synth.stitched_array(self.spec)
        self.cx, self.cy = tile_centers(self.spec)

    # -- request parameters ----------------------------------------------
    def _box(self, rng) -> tuple[int, int, int, int]:
        """A random pixel box (r0, c0, r1, c1) of the configured size."""
        spec = self.spec
        nc = int(self.sc.box_deg[0] / spec.cellx)
        nr = int(self.sc.box_deg[1] / -spec.celly)
        r0 = int(rng.integers(0, spec.height - nr))
        c0 = int(rng.integers(0, spec.width - nc))
        return r0, c0, r0 + nr, c0 + nc

    def _scan(self, r0, c0, r1, c1):
        """scan_bbox over the box widened by one tile on each side:
        scan_bbox selects tiles by the cell of their center, so a tile
        reaching into the box can have its center just outside it."""
        spec = self.spec
        pad = TILE
        bbox = (spec.x0 + (c0 - pad) * spec.cellx, spec.y0 + (r1 + pad) * spec.celly,
                spec.x0 + (c1 + pad) * spec.cellx, spec.y0 + (r0 - pad) * spec.celly)
        with self.tracer.span("catalog.scan_bbox"):
            return CAT.scan_bbox(self.spark, self.root, bbox, prefix_res=1, res=self.sc.cell_res)

    def _window_zone(self, r0, c0, r1, c1):
        spec = self.spec
        # vertices 0.37 px past a pixel edge: never on a pixel center
        xa, xb = spec.x0 + (c0 + 0.37) * spec.cellx, spec.x0 + (c1 + 0.37) * spec.cellx
        ya, yb = spec.y0 + (r0 + 0.37) * spec.celly, spec.y0 + (r1 + 0.37) * spec.celly
        return synth.make_zone(100, "window", [(xa, yb), (xb, yb), (xb, ya), (xa, ya)], convex=True)

    # -- requests -----------------------------------------------------------
    def _lookup(self, rng):
        spec, spark, tr = self.spec, self.spark, self.tracer
        r0, c0, r1, c1 = self._box(rng)
        rows = rng.integers(r0, r1, size=100)
        cols = rng.integers(c0, c1, size=100)
        pts = [(i, spec.x0 + (int(c) + 0.3) * spec.cellx, spec.y0 + (int(r) + 0.3) * spec.celly)
               for i, (r, c) in enumerate(zip(rows, cols))]
        want = {i: (None if self.full[r, c] == int(spec.ndv) else float(self.full[r, c]))
                for i, (r, c) in enumerate(zip(rows, cols))}

        def run():
            sub = self._scan(r0, c0, r1, c1)
            with tr.span("pixels.lookup_fused"):
                pdf = spark.createDataFrame(pts, "point_id long, x double, y double")
                return PX.lookup_points_fused(sub, pdf, **self.origin_cellsize(spec)).select(
                    "point_id", "value").collect()

        return Request("lookup", run, lambda got: {r["point_id"]: r["value"] for r in got} == want)

    def _knn(self, rng):
        spark, tr, k = self.spark, self.tracer, 5
        qx = rng.uniform(-179.0, 179.0, size=10)
        qy = rng.uniform(-89.0, 89.0, size=10)
        pts = [(i, float(x), float(y)) for i, (x, y) in enumerate(zip(qx, qy))]
        d2 = np.round((self.cx[None, :] - qx[:, None]) ** 2 + (self.cy[None, :] - qy[:, None]) ** 2, 6)
        want = np.sort(d2, axis=1)[:, :k]

        def run():
            with tr.span("knn.knn_tiles"):
                pdf = spark.createDataFrame(pts, "point_id long, x double, y double")
                return KN.knn_tiles(self.table, pdf, res=self.sc.cell_res, k=k,
                                    count_res=self.sc.cell_res).collect()

        def check(got):
            by = {}
            for r in got:
                by.setdefault(r["point_id"], []).append((r["knn_rank"], r["dist2"]))
            if sorted(by) != list(range(len(pts))):
                return False
            for pid, lst in by.items():
                lst.sort()
                if [rk for rk, _ in lst] != list(range(1, k + 1)):
                    return False
                if not np.allclose([d for _, d in lst], want[pid], rtol=0, atol=2e-6):
                    return False
            return True

        return Request("knn", run, check)

    def _window(self, rng):
        spec, tr = self.spec, self.tracer
        box = self._box(rng)
        zone = self._window_zone(*box)
        r0, c0, r1, c1 = box
        win = self.full[r0:r1, c0:c1]
        v = win[win != int(spec.ndv)].astype(np.int64)
        expected = zonal_rows({100: [(int(v.size), int(v.sum()), int((v * v).sum()),
                                      int(v.min()), int(v.max()))]})

        def run():
            sub = self._scan(*box)
            with tr.span("spatial_join.zonal_fused"):
                return SJ.zonal_stats_fused(sub, [zone], **self.origin_cellsize(spec)).collect()

        return Request("window", run, lambda rows: zonal_matches(rows, expected))

    def _append(self, rng):
        tr = self.tracer
        self.n_appends += 1
        batch = synth.GridSpec(grid_id=f"a{self.n_appends}", width=8 * TILE, height=8 * TILE,
                               seed=int(rng.integers(0, 1_000_000)), tile=TILE,
                               cell_res=self.sc.cell_res)
        before = self.landing.current_version()

        def run():
            with tr.span("catalog.append"):
                return self.landing.append(synth.build_images(self.spark, batch))

        def check(version):
            snap = self.landing.snapshot(version)
            if version != before + 1 or self.landing.current_version() != version or snap is None:
                return False
            files = glob.glob(os.path.join(snap["dirs"][-1], "*.parquet"))
            return sum(pq.ParquetFile(p).metadata.num_rows for p in files) == batch.n_tiles

        return Request("append", run, check)

    def stored(self):
        return dir_bytes(self.root), self.spec.n_tiles * TILE * TILE

    def source_px(self):
        return self.spec.width * self.spec.height

    def ratios(self, spark):
        box = self._box(np.random.default_rng([self.seed, 2]))
        sub = self._scan(*box)
        kept = SJ.prune_tiles(sub, [self._window_zone(*box)]).count()
        return {"catalog.files_kept_ratio": stats.ratio(len(sub.inputFiles()), self.n_files),
                "spatial_join.tiles_kept_ratio": stats.ratio(kept, sub.count())}


WORKLOADS = {w.name: w for w in (BatchScan, ServeMixed)}
