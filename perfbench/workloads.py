"""The benchmark's workloads: one job each, built only from the package's
public API, plus the check of every job's output against the Spark-free
references.

A workload object is created once per run (inputs and references, no
Spark), then ``job(spark, tracer)`` runs one closed-loop job and returns
its outputs, and ``check(outputs)`` returns a list of mismatches (empty
when the output is correct).
"""

from __future__ import annotations

import glob
import json
import os

import numpy as np
from pyspark.sql import functions as F

from ecmm428_pycart_spark import Cartogram, get_borders
from ecmm428_pycart_spark.datapipe.components import connected_components
from ecmm428_pycart_spark.datapipe.dedup import jaccard_pairs, lsh_candidate_pairs
from ecmm428_pycart_spark.datapipe.text import lang_id, quality_score
from ecmm428_pycart_spark.geometry import core
from ecmm428_pycart_spark.operators.relational import (
    anti_join, argmax_per_group, map_country_codes, running_fill,
)
from ecmm428_pycart_spark.sources import (
    DOCUMENT_SCHEMA, read_geojson, read_jsonl, read_pop_csv,
    read_world_pop_wide, write_geojson,
)

import inputs
import references as ref

REL_TOL = 1e-9
# iteration counts of the scalable Dorling probe (traced runs only)
SCALABLE_PROBE_ITERATIONS = (1, 3)


def _close(got, want, rel=REL_TOL, abs_tol=0.0) -> bool:
    got, want = np.asarray(got, "f8"), np.asarray(want, "f8")
    return got.shape == want.shape and bool(
        np.all(np.abs(got - want) <= abs_tol + rel * np.abs(want)))


def _check_borders(pdf, want: ref.Borders, errors: list) -> None:
    if len(pdf) != len(want.focal):
        errors.append(f"get_borders: {len(pdf)} edges, expected {len(want.focal)}")
        return
    got = pdf.sort_values(["focal", "neighbor"])
    order = np.lexsort((want.neighbor, want.focal))
    if not (np.array_equal(got["focal"].to_numpy(), want.focal[order])
            and np.array_equal(got["neighbor"].to_numpy(), want.neighbor[order])):
        errors.append("get_borders: edge set differs from the Queen lattice")
    elif not _close(got["weight"], want.weight[order], abs_tol=1e-9):
        errors.append("get_borders: border weights differ from numpy")


def _check_olson(pdf, lat: inputs.Lattice, scales, errors: list) -> None:
    got = pdf.assign(k=pdf["name"].str[1:].astype(int)).sort_values("k")
    if len(got) != lat.n or not _close(got["scale"], scales):
        errors.append("non_contiguous: scale factors differ from numpy")
        return
    for k in range(0, lat.n, max(1, lat.n // 16)):
        area = core.area(core.loads(bytes(got["geometry"].iloc[k])))
        want = core.area(("Polygon", [lat.ring(k)])) * scales[k] ** 2
        if not _close(area, want, rel=1e-6):
            errors.append(f"non_contiguous: region {k} scaled area {area} != {want}")
            return


class DorlingCheck:
    """Checks a Dorling output against a Spark-free run of the same loop.

    The loop is chaotic: radii that differ only in the last bit (Spark
    adds the calibration sums in another order than numpy) end 100
    reference iterations ~0.4 units apart. So the radii and border
    weights are each checked against numpy first, and the expected
    positions are then computed from the job's own radii and weights,
    once per distinct set of them.
    """

    POS_TOL = 1e-9

    def __init__(self, setup: ref.DorlingSetup, loop, what: str):
        self.setup, self.loop, self.what = setup, loop, what
        self._memo = {}

    def __call__(self, idx, cx, cy, radius, borders_pdf, errors: list) -> None:
        order = np.argsort(np.asarray(idx))
        if not np.array_equal(np.asarray(idx)[order], np.arange(len(self.setup.cx))):
            errors.append(f"{self.what}: region set differs")
            return
        radius = np.asarray(radius, "f8")[order]
        if not _close(radius, self.setup.radius):
            errors.append(f"{self.what}: radii differ from the numpy calibration")
            return
        b = borders_pdf.sort_values(["focal", "neighbor"])
        key = (radius.tobytes(), b["weight"].to_numpy().tobytes())
        if key not in self._memo:
            setup = ref.DorlingSetup(self.setup.cx, self.setup.cy,
                                     self.setup.perimeter, radius,
                                     float(radius.max()))
            self._memo[key] = self.loop(setup, ref.Borders(
                b["focal"].to_numpy(), b["neighbor"].to_numpy(),
                b["weight"].to_numpy()))
        x, y = self._memo[key]
        got_x, got_y = np.asarray(cx, "f8")[order], np.asarray(cy, "f8")[order]
        dev = max(np.abs(got_x - x).max(), np.abs(got_y - y).max())
        if not dev <= self.POS_TOL:
            errors.append(f"{self.what}: positions off by up to {dev:.3g}")


class CartogramReference:
    """The reference's main.py flow on a 140-region map."""

    name = "cartogram-reference"
    COLS, ROWS, ITERATIONS = 10, 14, 100

    def __init__(self, seed: int, root: str):
        self.inp = inputs.reference_inputs(seed, root, self.COLS, self.ROWS)
        lat = self.inp.lattice
        self.items = lat.n
        self.borders = ref.queen_borders(lat)
        self.setup = ref.dorling_setup(lat, self.borders)
        self.scales = ref.olson_scales(lat)
        self.dorling = DorlingCheck(
            self.setup, lambda st, b: ref.dorling_reference(st, b, self.ITERATIONS),
            "dorling(reference)")
        self.jacobi = DorlingCheck(
            self.setup, lambda st, b: ref.jacobi_reference(
                st, b, max(SCALABLE_PROBE_ITERATIONS)), "dorling(scalable)")
        self.world = self._expected_world()
        self.out_path = os.path.join(root, "dorling_out")

    def _expected_world(self) -> dict:
        """ISO -> (name, population): per ISO code with a World Bank row,
        the region of largest SHAPE_Area, ties to the smaller name."""
        inp, lat = self.inp, self.inp.lattice
        cands = {}
        for k in range(lat.n):
            if inp.iso2[k] in inp.world_pop:
                area = round(core.area(("Polygon", [lat.ring(k)])), 6)
                cands.setdefault(inp.iso2[k], []).append(
                    (-area, inputs.region_name(k)))
        return {iso: (min(c)[1], inp.world_pop[iso]) for iso, c in cands.items()}

    def job(self, spark, t):
        inp = self.inp
        geo = t.step("sources.read_geojson", lambda: read_geojson(
            spark, inp.geojson, property_cols=["name", "ISO", "SHAPE_Area"])
            .select("feature_index", "name", "ISO",
                    F.col("SHAPE_Area").cast("double").alias("SHAPE_Area"),
                    "geometry"), reuse=True)
        pop = t.step("sources.read_pop_csv", lambda: read_pop_csv(spark, inp.pop_csv))
        merged = t.step("operators.relational", lambda: geo.join(
            running_fill(pop, "file_order",
                         F.col("Geography").isin("Region", "Country"),
                         "name", "parent")
            .filter(F.col("Geography") == "Authority")
            .select("name", "Population", "parent"), "name"), reuse=True)

        def world_branch():
            world = map_country_codes(read_world_pop_wide(spark, inp.world_csv), "ISO")
            return argmax_per_group(
                world.join(geo.select("ISO", "name", "SHAPE_Area"), "ISO"),
                "ISO", "SHAPE_Area", tiebreak_col="name")
        merged_pdf, world_pdf = t.step("operators.relational", lambda: (
            merged.select("name", "Population", "parent").toPandas(),
            world_branch().select("ISO", "name", "Population").toPandas()))
        borders = t.step("operators.get_borders", lambda: get_borders(
            merged, "name", idx_field="feature_index")[0], reuse=True)
        borders_pdf = t.step("operators.get_borders", lambda: borders.select(
            "focal", "neighbor", "weight").toPandas())
        cart = Cartogram(merged, "Population", "name",
                         idx_field="feature_index", borders=borders)
        olson = t.step("plans.non_contiguous",
                       lambda: cart.non_contiguous().toPandas())
        circles = t.step("plans.dorling_reference", lambda: cart.dorling(
            iterations=self.ITERATIONS, mode="reference"))
        t.step("sources.write_geojson",
               lambda: write_geojson(circles, self.out_path))
        return {"merged": merged_pdf, "world": world_pdf, "olson": olson,
                "borders": borders_pdf}

    def check(self, out) -> list:
        errors = []
        lat, inp = self.inp.lattice, self.inp
        m = out["merged"]
        want_pop = {inputs.region_name(k): int(lat.values[k]) for k in range(lat.n)}
        if (len(m) != lat.n
                or dict(zip(m["name"], m["Population"])) != want_pop
                or dict(zip(m["name"], m["parent"])) != inp.parent):
            errors.append("relational: population merge / running fill differs")
        w = out["world"]
        got_world = {iso: (name, float(p)) for iso, name, p
                     in zip(w["ISO"], w["name"], w["Population"])}
        if got_world != self.world:
            errors.append("relational: world argmax per ISO differs")
        _check_olson(out["olson"], lat, self.scales, errors)
        _check_borders(out["borders"], self.borders, errors)
        feats = []
        for path in sorted(glob.glob(os.path.join(self.out_path, "part-*"))):
            with open(path) as fh:
                for line in fh:
                    feats += json.loads(line)["features"]
        props = [f["properties"] for f in feats]
        self.dorling([int(p["region_idx"]) for p in props],
                     [p["cx"] for p in props], [p["cy"] for p in props],
                     [p["radius"] for p in props], out["borders"], errors)
        return errors

    def _probe_cartogram(self, spark):
        geo = read_geojson(spark, self.inp.geojson, property_cols=["name"])
        pop = read_pop_csv(spark, self.inp.pop_csv).select("name", "Population")
        return Cartogram(geo.join(pop, "name"), "Population", "name",
                         idx_field="feature_index")

    def probes(self, spark, t) -> list:
        """Traced-run probes outside the job; returns mismatches.

        ``plans.dorling_setup`` times the radius calibration on its own.
        ``plans.dorling_scalable@k`` runs the distributed Jacobi loop at
        two iteration counts, so their difference is the cost of one
        iteration; the longer run is checked against numpy Jacobi.
        """
        cart = self._probe_cartogram(spark)
        t.step("plans.dorling_setup", lambda: cart.dorling_radii().toPandas())
        borders = get_borders(cart.df, "name", idx_field="feature_index")[0] \
            .select("focal", "neighbor", "weight").toPandas()
        errors = []
        for k in SCALABLE_PROBE_ITERATIONS:
            c = t.step(f"plans.dorling_scalable@{k}", lambda: cart.dorling(
                iterations=k, mode="scalable")
                .select("region_idx", "cx", "cy", "radius").toPandas())
        self.jacobi(c["region_idx"], c["cx"], c["cy"], c["radius"], borders,
                    errors)
        return errors


class CorpusDedup:
    """Quality/language gate, MinHash LSH, Jaccard verify, components."""

    name = "corpus-dedup"
    DOCS = 2500
    MIN_QUALITY = 0.35
    THRESHOLD = 0.5

    def __init__(self, seed: int, root: str):
        self.inp = inputs.corpus_inputs(seed, root, self.DOCS)
        self.items = self.DOCS
        self.text = dict(self.inp.docs)
        self.gated = ref.text_gate(self.inp.docs, self.MIN_QUALITY)
        self.pairs = [(a, b) for a, b in self.inp.injected
                      if a in self.gated and b in self.gated]

    def job(self, spark, t):
        docs = t.step("sources.read_jsonl",
                      lambda: read_jsonl(spark, self.inp.path, DOCUMENT_SCHEMA))
        gated = t.step("datapipe.text_gate", lambda: lang_id(
            quality_score(docs), "doc_id", "text")
            .filter((F.col("quality") >= self.MIN_QUALITY)
                    & (F.col("pred_lang") != "und"))
            .select("doc_id", "text"), reuse=True)
        cands = t.step("datapipe.lsh_candidate_pairs",
                       lambda: lsh_candidate_pairs(gated))
        verified = t.step("datapipe.jaccard_pairs", lambda: jaccard_pairs(
            gated, cands, threshold=self.THRESHOLD))
        comps = t.step("datapipe.connected_components",
                       lambda: connected_components(verified, "doc_a", "doc_b"))
        comp_pdf = t.step("datapipe.connected_components", comps.toPandas)
        survivors = t.step("operators.relational", lambda: anti_join(
            gated, comps.filter(F.col("node") != F.col("component"))
            .select(F.col("node").alias("doc_id")), "doc_id")
            .select("doc_id").toPandas())
        out = {"components": comp_pdf, "survivors": survivors}
        if t.traced:
            # materialized at their span boundaries, so reading them
            # after the job costs no recomputation
            out["candidates"], out["verified"] = cands, verified
        return out

    def check(self, out) -> list:
        errors = []
        comp = dict(zip(out["components"]["node"], out["components"]["component"]))
        if not set(comp) <= self.gated:
            errors.append("dedup: a component holds a document the gate drops")
        missed = [p for p in self.pairs
                  if p[0] not in comp or comp.get(p[0]) != comp.get(p[1])]
        if missed:
            errors.append(f"dedup: {len(missed)} injected near-duplicate pairs "
                          f"not in one component, e.g. {missed[0]}")
        dropped = {n for n, c in comp.items() if n != c}
        got = set(out["survivors"]["doc_id"])
        if got != self.gated - dropped:
            errors.append(f"dedup: {len(got)} survivors, expected "
                          f"{len(self.gated - dropped)}")
        if "verified" in out:   # traced jobs: also record the verify yield
            v = out["verified"].toPandas()
            out["verify_yield"] = len(v) / max(1, out["candidates"].count())
            for a, b, j in list(zip(v["doc_a"], v["doc_b"], v["jaccard"]))[:200]:
                if j < self.THRESHOLD or j != ref.jaccard(self.text[a], self.text[b]):
                    errors.append(f"dedup: pair ({a}, {b}) jaccard {j} is wrong")
                    break
        return errors


WORKLOADS = {w.name: w for w in (CartogramReference, CorpusDedup)}
