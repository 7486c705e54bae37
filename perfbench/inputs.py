"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the seed: the same seed writes the
same files byte for byte. Nothing imports Spark, so these run before the
session starts and are not part of any timed region.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np

from ecmm428_pycart_spark.datapipe.text import STOPWORDS
from ecmm428_pycart_spark.geometry import core
from ecmm428_pycart_spark.operators.relational import (
    ISO3_TO_ISO2, WORLD_BANK_AGGREGATES,
)

# Decimal places of every written coordinate. The writer and the GeoJSON
# reader both go through repr-exact float text, so a vertex shared by two
# polygons is the same double in both after the round trip.
_COORD_DECIMALS = 6
YEARS = [str(y) for y in range(1960, 2022)]
DUP_SHARE = 0.05      # share of the corpus that is injected near-duplicates


@dataclass
class Lattice:
    """A cols x rows grid of irregular octagons that tile the plane.

    Corner points and edge midpoints are jittered once and shared by the
    cells on either side, so Queen contiguity is exactly the 8-neighbour
    grid and every shared border is two known segments.
    """
    cols: int
    rows: int
    corners: np.ndarray   # (cols+1, rows+1, 2)
    hmid: np.ndarray      # (cols, rows+1, 2): midpoint of bottom/top edges
    vmid: np.ndarray      # (cols+1, rows, 2): midpoint of left/right edges
    values: np.ndarray    # (cols*rows,) positive region values

    @property
    def n(self) -> int:
        return self.cols * self.rows

    def ring(self, idx: int) -> np.ndarray:
        i, j = idx % self.cols, idx // self.cols
        p, h, v = self.corners, self.hmid, self.vmid
        return np.array([p[i, j], h[i, j], p[i + 1, j], v[i + 1, j],
                         p[i + 1, j + 1], h[i, j + 1], p[i, j + 1], v[i, j],
                         p[i, j]])


def make_lattice(rng: np.random.Generator, cols: int, rows: int) -> Lattice:
    gx, gy = np.meshgrid(np.arange(cols + 1, dtype="f8"),
                         np.arange(rows + 1, dtype="f8"), indexing="ij")
    corners = np.stack([gx, gy], axis=-1) + rng.uniform(-0.2, 0.2, (cols + 1, rows + 1, 2))
    hmid = 0.5 * (corners[:-1, :, :] + corners[1:, :, :])
    hmid[..., 1] += rng.uniform(-0.15, 0.15, (cols, rows + 1))
    vmid = 0.5 * (corners[:, :-1, :] + corners[:, 1:, :])
    vmid[..., 0] += rng.uniform(-0.15, 0.15, (cols + 1, rows))
    values = np.round(np.exp(rng.normal(11.0, 1.0, cols * rows))) + 1.0
    r = _COORD_DECIMALS
    return Lattice(cols, rows, np.round(corners, r), np.round(hmid, r),
                   np.round(vmid, r), values)


def region_name(idx: int) -> str:
    return f"R{idx:05d}"


def write_lattice_geojson(lat: Lattice, path: str, props) -> None:
    """One FeatureCollection; ``props(idx)`` gives each feature's properties."""
    feats = [{"type": "Feature", "properties": props(k),
              "geometry": {"type": "Polygon",
                           "coordinates": [lat.ring(k).tolist()]}}
             for k in range(lat.n)]
    with open(path, "w") as fh:
        json.dump({"type": "FeatureCollection", "features": feats}, fh)


# ---------------------------------------------------------------------------
# cartogram-reference: the reference main.py inputs at its own scale
# ---------------------------------------------------------------------------

@dataclass
class ReferenceInputs:
    lattice: Lattice
    geojson: str
    pop_csv: str
    world_csv: str
    parent: dict          # region name -> enclosing "Region" row name
    iso2: list            # per region ISO alpha-2 code
    world_pop: dict       # ISO alpha-2 -> 2021 population in the wide CSV


def _thousands(v: float) -> str:
    return f"{int(v):,}"


def reference_inputs(seed: int, root: str, cols: int, rows: int) -> ReferenceInputs:
    rng = np.random.default_rng([seed, 1])
    lat = make_lattice(rng, cols, rows)
    n = lat.n

    # ISO codes: a few regions per country, so the argmax dedup has
    # duplicate keys to resolve (main.py:251)
    iso3_all = sorted(ISO3_TO_ISO2)
    n_countries = max(2, n // 3)
    countries = list(rng.choice(iso3_all, n_countries, replace=False))
    region_iso3 = rng.choice(countries, n)
    iso2 = [ISO3_TO_ISO2[c] for c in region_iso3]
    areas = [core.area(("Polygon", [lat.ring(k)])) for k in range(n)]

    def props(k):
        return {"name": region_name(k), "ISO": iso2[k],
                "SHAPE_Area": repr(round(areas[k], _COORD_DECIMALS))}
    geojson = os.path.join(root, "regions.geojson")
    write_lattice_geojson(lat, geojson, props)

    # population CSV in file order: a Region header row then its
    # Authority rows, populations written with thousands separators
    pop_csv = os.path.join(root, "population.csv")
    parent = {}
    group = max(2, n // 12)
    with open(pop_csv, "w") as fh:
        fh.write("name,Population,Geography\n")
        for start in range(0, n, group):
            members = range(start, min(n, start + group))
            rname = f"Region {start // group}"
            total = sum(lat.values[k] for k in members)
            fh.write(f'{rname},"{_thousands(total)}",Region\n')
            for k in members:
                parent[region_name(k)] = rname
                fh.write(f'{region_name(k)},"{_thousands(lat.values[k])}",Authority\n')

    # wide World Bank CSV: most of the chosen countries, some countries no
    # region uses, and aggregate rows that map to nothing
    world_csv = os.path.join(root, "world_population.csv")
    present = list(rng.choice(countries, max(1, int(0.8 * len(countries))),
                              replace=False))
    others = [c for c in iso3_all if c not in countries]
    extra = list(rng.choice(others, min(len(others), 20), replace=False))
    aggs = sorted(WORLD_BANK_AGGREGATES)[:10]
    world_pop = {}
    with open(world_csv, "w") as fh:
        fh.write(",".join(["Country Name", "Country Code", "Indicator Name",
                           "Indicator Code"] + YEARS) + "\n")
        for code in present + extra + aggs:
            series = np.round(np.exp(rng.normal(15.0, 1.5))
                              * np.linspace(0.5, 1.0, len(YEARS)))
            if code in ISO3_TO_ISO2:
                world_pop[ISO3_TO_ISO2[code]] = float(series[-1])
            fh.write(",".join([f"Country {code}", code, '"Population, total"',
                               "SP.POP.TOTL"] + [str(int(v)) for v in series]) + "\n")
    return ReferenceInputs(lat, geojson, pop_csv, world_csv, parent, iso2,
                           world_pop)


# ---------------------------------------------------------------------------
# dorling-scalable: a large lattice with seeded values
# ---------------------------------------------------------------------------

@dataclass
class ScalableInputs:
    lattice: Lattice
    geojson: str


def scalable_inputs(seed: int, root: str, cols: int, rows: int) -> ScalableInputs:
    rng = np.random.default_rng([seed, 2])
    lat = make_lattice(rng, cols, rows)
    geojson = os.path.join(root, "lattice.geojson")
    write_lattice_geojson(
        lat, geojson, lambda k: {"name": region_name(k),
                                 "value": repr(float(lat.values[k]))})
    return ScalableInputs(lat, geojson)


# ---------------------------------------------------------------------------
# corpus-dedup: documents with injected near-duplicates
# ---------------------------------------------------------------------------

@dataclass
class CorpusInputs:
    path: str
    docs: list            # (doc_id, text)
    injected: list        # (original doc_id, copy doc_id)


def _vocabulary(rng: np.random.Generator, size: int) -> list:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    stop = {w for ws in STOPWORDS.values() for w in ws}
    words = set()
    while len(words) < size:
        w = "".join(rng.choice(letters, rng.integers(4, 10)))
        if w not in stop:
            words.add(w)
    return sorted(words)


def corpus_inputs(seed: int, root: str, n_docs: int) -> CorpusInputs:
    """``n_docs`` documents, of which ``DUP_SHARE`` are copies of others.

    A copy keeps its original's set of words (word order shuffled and a
    few words repeated), so both have the same MinHash signature and a
    Jaccard of 1.0: LSH must pair them whatever the seed. Repeated words
    change the quality score, so a copy and its original can fall on
    different sides of the gate; only pairs that both pass are checked.
    """
    rng = np.random.default_rng([seed, 3])
    vocab = np.array(_vocabulary(rng, 6000))
    langs = sorted(STOPWORDS)
    n_base = int(round(n_docs * (1.0 - DUP_SHARE)))
    docs = []
    for d in range(n_base):
        length = int(rng.integers(12, 140))
        sw = np.array(STOPWORDS[langs[int(rng.integers(len(langs)))]])
        is_stop = rng.random(length) < rng.uniform(0.0, 0.25)
        words = np.where(is_stop, sw[rng.integers(len(sw), size=length)],
                         vocab[rng.integers(len(vocab), size=length)])
        docs.append((d, " ".join(words)))
    injected = []
    for d in range(n_base, n_docs):
        orig = int(rng.integers(n_base))
        words = docs[orig][1].split(" ")
        rng.shuffle(words)
        words += [words[int(rng.integers(len(words)))]
                  for _ in range(int(rng.integers(0, 3)))]
        docs.append((d, " ".join(words)))
        injected.append((orig, d))
    order = rng.permutation(len(docs))
    path = os.path.join(root, "corpus")
    os.makedirs(path)
    with open(os.path.join(path, "part-00000.jsonl"), "w") as fh:
        for k in order:
            doc_id, text = docs[k]
            fh.write(json.dumps({"doc_id": doc_id, "text": text, "lang": None,
                                 "source": f"src{doc_id % 7}",
                                 "n_chars": len(text)}) + "\n")
    return CorpusInputs(path, docs, injected)
