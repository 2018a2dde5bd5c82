"""Single-thread rates of the layers' numpy kernels, from direct calls
in the driver on a fixed sample: stored tiles for the codec, seeded
points for geometry and cells. Runs only in a traced run."""

from __future__ import annotations

import statistics
import time

import numpy as np

from georasters_spark.functions import cells as C
from georasters_spark.functions import geometry as G
from georasters_spark.sources import codec
from georasters_spark.sources import synth

SAMPLE_TILES = 256


def _rate(fn, work: float, min_s: float = 0.2, reps: int = 3) -> float:
    """work units per second: median over reps of a loop of fn() calls
    lasting at least min_s each."""
    rates = []
    for _ in range(reps):
        n, t0 = 0, time.perf_counter()
        while True:
            fn()
            n += 1
            dt = time.perf_counter() - t0
            if dt >= min_s:
                break
        rates.append(n * work / dt)
    return statistics.median(rates)


def sample(tiles, seed: int) -> dict[str, float]:
    """tiles: rows with bytes, fmt, w, h, ndv (a fixed sample of the
    committed table)."""
    rows = [(bytes(t["bytes"]), t["fmt"], int(t["w"]), int(t["h"]), float(t["ndv"])) for t in tiles]
    px = sum(w * h for _, _, w, h, _ in rows)
    arrays = [codec.decode_tile(b, f, w, h, ndv) for b, f, w, h, ndv in rows]

    def decode():
        for b, f, w, h, ndv in rows:
            codec.decode_tile(b, f, w, h, ndv)

    def encode():
        for a, (_, f, _, _, ndv) in zip(arrays, rows):
            codec.encode_tile(a, f, ndv)

    rng = np.random.default_rng([seed, 3])
    n_pts = 200_000
    x = rng.uniform(-180.0, 180.0, n_pts)
    y = rng.uniform(-90.0, 90.0, n_pts)
    donut = next(z for z in synth.ZONES_EXTRA if z.name == "donut").rings
    concave = next(z for z in synth.ZONES_EXTRA if z.name == "concave_l").rings
    n_cells = 50_000
    cx = rng.uniform(-155.0, -85.0, n_cells)
    cy = rng.uniform(-85.0, -25.0, n_cells)
    ids = C.cell_of(x[:500], y[:500], 6)
    it = iter(range(1 << 62))

    def kring():
        C.kring(int(ids[next(it) % ids.size]), 2)

    return {
        "codec.decode_mpx_per_s": _rate(decode, px) / 1e6,
        "codec.encode_mpx_per_s": _rate(encode, px) / 1e6,
        "geometry.points_in_rings_mpts_per_s": _rate(lambda: G.points_in_rings(x, y, donut), n_pts) / 1e6,
        "geometry.cells_touched_mpts_per_s": _rate(
            lambda: G.cells_touched(cx, cy, 1 / 6, -1 / 6, concave), n_cells) / 1e6,
        "cells.cell_of_mpts_per_s": _rate(lambda: C.cell_of(x, y, 6), n_pts) / 1e6,
        "cells.kring_us": 1e6 / _rate(kring, 1),
    }
