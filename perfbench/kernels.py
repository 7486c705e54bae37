"""Spark-free micro-timing of the numpy geometry kernels.

The same kernels run inside the Arrow UDFs, so comparing a kernel's cost
here with the ``py_worker_s`` of the span that calls it separates kernel
cost from the cost of crossing into Python workers.
"""

from __future__ import annotations

import time

import numpy as np

from ecmm428_pycart_spark.geometry import core
from ecmm428_pycart_spark.plans import dorling_core

import inputs
import references as ref


def _per_call_us(fn, args, repeats: int = 5) -> float:
    """Median over ``repeats`` passes of the mean time per call."""
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        for a in args:
            fn(*a)
        times.append((time.perf_counter() - t0) / len(args))
    return float(np.median(times)) * 1e6


def kernel_timings(seed: int) -> dict:
    """kernel.<name> -> microseconds per call, on a seeded 12x12 lattice."""
    lat = inputs.make_lattice(np.random.default_rng([seed, 4]), 12, 12)
    geoms = [("Polygon", [lat.ring(k)]) for k in range(lat.n)]
    wkbs = [core.dumps(g) for g in geoms]
    c = lat.cols
    sides = [(geoms[k], geoms[k + 1]) for k in range(lat.n - 1)
             if (k + 1) % c]
    borders = ref.queen_borders(lat)
    setup = ref.dorling_setup(lat, borders)

    def sweep():
        dorling_core.dorling_sweep(
            setup.cx, setup.cy, setup.radius, setup.perimeter,
            borders.focal, borders.neighbor, borders.weight, iterations=5)

    one = [(g,) for g in geoms]
    return {
        "kernel.wkb_dumps_us": _per_call_us(core.dumps, one),
        "kernel.wkb_loads_us": _per_call_us(core.loads, [(b,) for b in wkbs]),
        "kernel.area_us": _per_call_us(core.area, one),
        "kernel.centroid_us": _per_call_us(core.centroid, one),
        "kernel.perimeter_us": _per_call_us(core.perimeter, one),
        "kernel.shared_boundary_length_us": _per_call_us(
            core.shared_boundary_length, sides),
        "kernel.scale_about_us": _per_call_us(
            core.scale_about, [(g, 0.7, 0.7, core.centroid(g)) for g in geoms]),
        "kernel.buffer_point_us": _per_call_us(
            core.buffer_point, [(float(x), float(y), 0.4)
                                for x, y in zip(setup.cx, setup.cy)]),
        "kernel.dorling_sweep_us": _per_call_us(sweep, [()], repeats=3),
    }
