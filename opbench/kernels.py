"""Single-thread timings of the package's numpy geometry kernels, on
fixtures that do not depend on the workload seed.

Each entry times one public kernel function, called in this process (no
Spark, no Python workers), and reports ``<module.function>.us_per_item``:
the median over ``REPS`` repetitions of the call's wall time divided by
the items it processed.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

import gen

REPS = 5
FIXTURE_SEED = 20240601


def _fixtures():
    from geofileops_spark.geometry import wkb

    rng = np.random.default_rng(FIXTURE_SEED)
    layers, exp = gen.gen_parcels(rng, 400)
    blobs0 = layers["parcels_l0"].column("geom_wkb").to_pylist()
    blobs1 = layers["parcels_l1"].column("geom_wkb").to_pylist()
    g0 = [wkb.loads(b) for b in blobs0]
    g1 = [wkb.loads(b) for b in blobs1]
    pairs = exp["pairs"]
    pts = rng.uniform(0.0, exp["extent"], (20_000, 2))
    star = gen.gen_complex(rng, exp["extent"], 1, 1000)[0].column("geom_wkb")[0].as_py()
    return blobs0, g0, g1, pairs, pts, wkb.loads(star)


def run(spans=None) -> dict:
    """{metric name: µs per item}; ``spans(name, start, end)`` records
    one span per kernel."""
    from geofileops_spark.geometry import batchclip, clip, kernels, wkb
    from geofileops_spark.index import cells

    blobs0, g0, g1, pairs, pts, star = _fixtures()
    bbs = [kernels.bounds(g) for g in g0]
    s1 = [g0[i] for i, _ in pairs]
    s2 = [g1[j] for _, j in pairs]
    blades: dict[int, list] = {}
    for i, j in pairs:
        blades.setdefault(i, []).append(g1[j])
    subj = [g0[i] for i in blades]
    polys0 = [g.polygons()[0] for g in g0[:64]]
    shell = star.polygons()[0]
    cases = {
        "geometry.wkb.loads": (lambda: [wkb.loads(b) for b in blobs0], len(blobs0)),
        "index.cells.cover_bbox": (
            lambda: [cells.cover_bbox(*b, res=16) for b in bbs], len(bbs)),
        "geometry.kernels.points_in_polygon": (
            lambda: kernels.points_in_polygon(pts, shell), len(pts)),
        "geometry.batchclip.batch_intersection": (
            lambda: batchclip.batch_intersection(s1, s2), len(s1)),
        "geometry.batchclip.batch_difference_seq": (
            lambda: batchclip.batch_difference_seq(subj, list(blades.values())), len(subj)),
        "geometry.clip.union_all_polys": (lambda: clip.union_all_polys(polys0), len(polys0)),
    }
    out = {}
    for name, (fn, items) in cases.items():
        fn()  # first call: lazy imports and caches
        ts = []
        for _ in range(REPS):
            t0 = time.perf_counter()
            fn()
            ts.append(time.perf_counter() - t0)
        if spans is not None:
            end = time.time()
            spans(name, end - sum(ts), end)
        out[f"{name}.us_per_item"] = statistics.median(ts) / items * 1e6
    return out
