"""The per-layer metric list and how a traced run fills it.

Every traced run prints every metric below. A span that a workload never
enters reads 0 (for example ``datapipe.*`` on the cartogram workloads);
README.md lists which workload each span belongs to.
"""

from __future__ import annotations

import statistics

_SPAN_MEASURES = ("wall_s", "stages", "exec_cpu_s", "shuffle_write_mb",
                  "py_worker_s")
_JOB_MEASURES = ("wall_s", "unattributed_s", "driver_gap_s", "jobs", "stages",
                 "tasks", "exec_cpu_s", "shuffle_write_mb", "spill_mb",
                 "py_worker_s")
SPANS = ("sources.read_geojson", "sources.read_pop_csv", "sources.read_jsonl",
         "sources.write_geojson", "operators.relational",
         "operators.get_borders", "plans.non_contiguous",
         "plans.dorling_reference",
         "datapipe.text_gate", "datapipe.lsh_candidate_pairs",
         "datapipe.jaccard_pairs", "datapipe.connected_components")
PROBES = {"plans.dorling_setup": ("wall_s", "stages", "py_worker_s"),
          "plans.dorling_iter": ("wall_s", "stages", "shuffle_write_mb")}
KERNELS = ("wkb_dumps", "wkb_loads", "area", "centroid", "perimeter",
           "shared_boundary_length", "scale_about", "buffer_point",
           "dorling_sweep")


def _unit(measure: str) -> str:
    if measure.endswith("_s"):
        return "s"
    if measure.endswith("_mb"):
        return "MB"
    return "count"


PER_LAYER = (
    [("session.get_spark.wall_s", "s")]
    + [(f"job.{m}", _unit(m)) for m in _JOB_MEASURES]
    + [(f"{s}.{m}", _unit(m)) for s in SPANS for m in _SPAN_MEASURES]
    + [(f"{p}.{m}", _unit(m)) for p, ms in PROBES.items() for m in ms]
    + [("datapipe.dedup.verify_yield", "ratio"), ("trace.overhead_s", "s")]
    + [(f"kernel.{k}_us", "us") for k in KERNELS]
)


def median_or_zero(values: list) -> float:
    """Median, or 0.0 when there is nothing to take it of (every traced
    job failed; the run then reports ``correct: false``)."""
    return float(statistics.median(values)) if values else 0.0


def _probe(probe_spans: list, name: str) -> dict:
    vals = [s for s in probe_spans if s["name"] == name]
    return vals[-1] if vals else {}


def per_layer_values(jobs: list, probe_spans: list, kernels: dict, *,
                     session_s: float, overhead_s: float,
                     verify_yield: float) -> dict:
    """``jobs``: per traced job, span name -> measures (root as ``job``).
    Each job-span metric is the median over the traced jobs."""
    def median(name, m):
        return median_or_zero([j.get(name, {}).get(m, 0.0) for j in jobs])

    out = {"session.get_spark.wall_s": session_s}
    for m in _JOB_MEASURES:
        out[f"job.{m}"] = median("job", m)
    for s in SPANS:
        for m in _SPAN_MEASURES:
            out[f"{s}.{m}"] = median(s, m)
    setup = _probe(probe_spans, "plans.dorling_setup")
    for m in PROBES["plans.dorling_setup"]:
        out[f"plans.dorling_setup.{m}"] = float(setup.get(m, 0.0))
    # per iteration: the scalable loop at two iteration counts, differenced
    runs = sorted(((int(s["name"].rsplit("@", 1)[1]), s) for s in probe_spans
                   if s["name"].startswith("plans.dorling_scalable@")),
                  key=lambda kv: kv[0])
    for m in PROBES["plans.dorling_iter"]:
        if len(runs) >= 2:
            (k0, lo), (k1, hi) = runs[0], runs[-1]
            out[f"plans.dorling_iter.{m}"] = (hi[m] - lo[m]) / (k1 - k0)
        else:
            out[f"plans.dorling_iter.{m}"] = 0.0
    out["datapipe.dedup.verify_yield"] = verify_yield
    out["trace.overhead_s"] = overhead_s
    out.update(kernels)
    return out
