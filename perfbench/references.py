"""Spark-free expected outputs, built from each seed's generated inputs.

Each reference uses numpy and the package's own Spark-free kernels
(``geometry.core``, ``plans.dorling_core``). The Dorling loops are the
one place where a job's own numbers feed a reference: they are re-run on
the radii and border weights the job produced, after those are checked
against numpy here (see ``workloads.DorlingCheck``).
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

from ecmm428_pycart_spark.datapipe.text import STOPWORDS
from ecmm428_pycart_spark.geometry import core
from ecmm428_pycart_spark.plans import dorling_core

from inputs import Lattice


@dataclass
class Borders:
    focal: np.ndarray
    neighbor: np.ndarray
    weight: np.ndarray


def queen_borders(lat: Lattice) -> Borders:
    """The directed Queen edge list of a lattice, in closed form.

    Side neighbours share two segments through an edge midpoint; corner
    neighbours share one point, weight 0. The count is
    2 * [(c-1)r + c(r-1) + 2(c-1)(r-1)].
    """
    c, r = lat.cols, lat.rows
    p, h, v = lat.corners, lat.hmid, lat.vmid

    def seg(a, b):
        return np.hypot(*(a - b).T)

    f, n, w = [], [], []
    for i in range(c):
        for j in range(r):
            k = j * c + i
            if i + 1 < c:      # right neighbour, shared left/right edge
                f.append(k)
                n.append(k + 1)
                w.append(seg(p[i + 1, j], v[i + 1, j])
                         + seg(v[i + 1, j], p[i + 1, j + 1]))
            if j + 1 < r:      # upper neighbour, shared bottom/top edge
                f.append(k)
                n.append(k + c)
                w.append(seg(p[i, j + 1], h[i, j + 1])
                         + seg(h[i, j + 1], p[i + 1, j + 1]))
            if i + 1 < c and j + 1 < r:
                f += [k, k + 1]
                n += [k + c + 1, k + c]
                w += [0.0, 0.0]
    f, n, w = np.array(f), np.array(n), np.array(w, dtype="f8")
    out = Borders(np.concatenate([f, n]), np.concatenate([n, f]),
                  np.concatenate([w, w]))
    expected = 2 * ((c - 1) * r + c * (r - 1) + 2 * (c - 1) * (r - 1))
    if len(out.focal) != expected:
        raise AssertionError(f"lattice edge list has {len(out.focal)} edges, "
                             f"closed form says {expected}")
    return out


@dataclass
class DorlingSetup:
    cx: np.ndarray
    cy: np.ndarray
    perimeter: np.ndarray
    radius: np.ndarray
    widest: float


def dorling_setup(lat: Lattice, borders: Borders) -> DorlingSetup:
    """Centroids, perimeters and calibrated radii (cartogram.py setup)."""
    geoms = [("Polygon", [lat.ring(k)]) for k in range(lat.n)]
    cent = np.array([core.centroid(g) for g in geoms])
    perim = np.array([core.perimeter(g) for g in geoms])
    unit = np.sqrt(lat.values / math.pi)
    f, n = borders.focal, borders.neighbor
    dist = np.hypot(cent[n, 0] - cent[f, 0], cent[n, 1] - cent[f, 1])
    k = math.fsum(dist) / math.fsum(unit[f] + unit[n])
    radius = unit * k
    return DorlingSetup(cent[:, 0], cent[:, 1], perim, radius,
                        float(radius.max()))


def olson_scales(lat: Lattice) -> np.ndarray:
    """Non-contiguous cartogram scale factors: sqrt(density / max density)."""
    area = np.array([core.area(("Polygon", [lat.ring(k)])) for k in range(lat.n)])
    density = lat.values / area
    return np.sqrt(density / density.max())


def dorling_reference(setup: DorlingSetup, borders: Borders,
                      iterations: int):
    """The exact sequential sweep the reference mode must reproduce."""
    return dorling_core.dorling_sweep(
        setup.cx, setup.cy, setup.radius, setup.perimeter,
        borders.focal, borders.neighbor, borders.weight,
        iterations=iterations)


def _candidate_pairs(x, y, cutoff):
    """All ordered pairs (i, j), i != j, in the same or an adjacent grid
    cell of side ``cutoff``; a superset of the pairs within ``cutoff``."""
    n = len(x)
    cx = np.floor(x / cutoff).astype(np.int64)
    cy = np.floor(y / cutoff).astype(np.int64)
    cx -= cx.min() - 1
    cy -= cy.min() - 1
    stride = int(cy.max()) + 2
    key = cx * stride + cy
    order = np.argsort(key, kind="stable")
    skey = key[order]
    fs, ns = [], []
    for dx in (-1, 0, 1):
        for dy in (-1, 0, 1):
            q = key + dx * stride + dy
            lo = np.searchsorted(skey, q, "left")
            cnt = np.searchsorted(skey, q, "right") - lo
            f = np.repeat(np.arange(n), cnt)
            pos = np.arange(cnt.sum()) - np.repeat(np.cumsum(cnt) - cnt, cnt)
            fs.append(f)
            ns.append(order[np.repeat(lo, cnt) + pos])
    f, nb = np.concatenate(fs), np.concatenate(ns)
    keep = f != nb
    return f[keep], nb[keep]


def jacobi_reference(setup: DorlingSetup, borders: Borders, iterations: int,
                     ratio: float = 0.4, friction: float = 0.5):
    """Vectorized synchronous Dorling iterations — the arithmetic of
    ``dorling_core.jacobi_step`` over grid-bucketed candidate pairs."""
    x, y = setup.cx.copy(), setup.cy.copy()
    r, perim, widest = setup.radius, setup.perimeter, setup.widest
    n = len(x)
    edge_key = borders.focal.astype(np.int64) * n + borders.neighbor
    ek_order = np.argsort(edge_key)
    ek_sorted, ew_sorted = edge_key[ek_order], borders.weight[ek_order]
    for _ in range(iterations):
        f, nb = _candidate_pairs(x, y, 2.0 * widest)
        dx, dy = x[nb] - x[f], y[nb] - y[f]
        d = np.hypot(dx, dy)
        keep = (d > 0.0) & (d < widest + r[f])
        f, nb, dx, dy, d = f[keep], nb[keep], dx[keep], dy[keep], d[keep]
        ov = (r[nb] + r[f]) - d
        pk = f * n + nb
        at = np.clip(np.searchsorted(ek_sorted, pk), 0, len(ek_sorted) - 1)
        is_edge = ek_sorted[at] == pk
        att_ov = np.where(is_edge, np.abs(ov) * ew_sorted[at] / perim[f], ov)
        rep = ov > 0.0
        xr = np.bincount(f, np.where(rep, -ov * dx / d, 0.0), n)
        yr = np.bincount(f, np.where(rep, -ov * dy / d, 0.0), n)
        xa = np.bincount(f, np.where(rep, 0.0, att_ov * dx / d), n)
        ya = np.bincount(f, np.where(rep, 0.0, att_ov * dy / d), n)
        mind = np.full(n, np.inf)
        np.minimum.at(mind, f, d)
        closest = np.where(mind > widest, widest, mind)
        rd, ad = np.hypot(xr, yr), np.hypot(xa, ya)
        clamp = rd > closest
        xr2 = np.where(clamp, closest * xr / (rd + 1.0), xr)
        yr2 = np.where(clamp, closest * yr / (rd + 1.0), yr)
        rd2 = np.where(clamp, closest, rd)
        aclamp = ad > closest
        xa_c = np.where(aclamp, closest * xa / (ad + 1.0), xa)
        ya_c = np.where(aclamp, closest * ya / (ad + 1.0), ya)
        moving = rd2 > 0
        xt = np.where(moving, (1.0 - ratio) * xr2 + ratio * (rd2 * xa / (ad + 1.0)), xa_c)
        yt = np.where(moving, (1.0 - ratio) * yr2 + ratio * (rd2 * ya / (ad + 1.0)), ya_c)
        x, y = x + friction * xt, y + friction * yt
    return x, y


def text_gate(docs, min_quality: float) -> set:
    """Ids of the documents with ``quality_score`` >= the threshold and an
    identified language (``lang_id`` != 'und')."""
    stopwords = {w for ws in STOPWORDS.values() for w in ws}
    passed = set()
    for doc_id, text in docs:
        toks = text.split(" ")
        n = len(toks)
        quality = min(n / 100.0, 1.0) * (len(set(toks)) / n)
        if quality >= min_quality and not stopwords.isdisjoint(toks):
            passed.add(doc_id)
    return passed


def jaccard(a: str, b: str) -> float:
    """Word-set Jaccard rounded as Spark's ``round`` does: half-up on the
    double's decimal string, so 17/32 = 0.53125 gives 0.5313."""
    sa, sb = set(a.split(" ")), set(b.split(" "))
    exact = Decimal(repr(len(sa & sb) / len(sa | sb)))
    return float(exact.quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP))
