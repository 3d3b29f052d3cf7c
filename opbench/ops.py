"""The benchmark's workloads: which public operators each one calls, on
which generated tables, and how each output is checked.

Every workload runs three operators in a fixed order, one per role:

- ``join``: the workload's spatial join;
- ``kernel``: the operator whose time goes into a numpy geometry kernel;
- ``layer``: a whole-layer operator.

Sharing the role names keeps the end-to-end metric names the same on
every workload (``join_s``, ``kernel_s``, ``layer_s``); ``OPS`` maps each
(workload, role) to the operator it calls.

Each call's output is written to parquet (which forces it fully) and read
back with pyarrow for the check; the checks never import the package.
"""

from __future__ import annotations

import os
import shutil
import struct

import numpy as np
import pyarrow.parquet as pq

ROLES = ("join", "kernel", "layer")
# (workload, role) -> operator name, as printed in the diagnostics
OPS = {
    "parcels": {"join": "join", "kernel": "intersection", "layer": "dissolve"},
    "complex": {"join": "join_area", "kernel": "symdiff", "layer": "subdivide"},
}
# the input tables each operator reads, for rows_per_s
INPUTS = {
    "join": ("parcels_l0", "parcels_l1"), "intersection": ("parcels_l0", "parcels_l1"),
    "dissolve": ("parcels_l0",), "join_area": ("parcels_l0", "parcels_l1"),
    "symdiff": ("cx", "parcels_l1"), "subdivide": ("cx",),
}
SUBDIVIDE_COORDS = 2000
REL_TOL = 1e-6


TABLES = ("pages", "parcels_l0", "parcels_l1", "cx")


class Frames:
    """The generated tables, read through one Spark session. ``warm``
    reads only the first half of each table's files (the warm-up slice:
    still two scan tasks, so both Python workers start in set-up)."""

    def __init__(self, spark, data_dir: str, warm: bool = False):
        for name in TABLES:
            path = os.path.join(data_dir, name)
            files = sorted(os.listdir(path))
            if warm:
                files = files[: max(1, len(files) // 2)]
            setattr(self, name, spark.read.parquet(*(os.path.join(path, f) for f in files)))


def build(op: str, t: Frames):
    """The lazy output DataFrame of one operator call."""
    if op in ("join", "join_area"):
        from geofileops_spark.operators.join import join_by_location

        # the area column is a public argument that takes the cell-shuffle
        # plan instead of the broadcast grid
        area = "area_inters" if op == "join_area" else None
        return join_by_location(
            t.parcels_l0, t.parcels_l1, "intersects is True", area_inters_column_name=area
        )
    if op == "intersection":
        from geofileops_spark.operators.overlay import intersection

        return intersection(t.parcels_l0, t.parcels_l1)
    if op == "dissolve":
        from geofileops_spark.operators.dissolve import dissolve

        return dissolve(t.parcels_l0, ["grp"])
    if op == "symdiff":
        from geofileops_spark.operators.overlay import symmetric_difference

        return symmetric_difference(t.cx, t.parcels_l1, subdivide_coords=SUBDIVIDE_COORDS)
    if op == "subdivide":
        from geofileops_spark.operators.overlay import subdivide_layer

        return subdivide_layer(t.cx, SUBDIVIDE_COORDS)
    raise ValueError(f"unknown operator {op!r}")


# ----------------------------------------------------------------- checks
def check(op: str, out_path: str, exp: dict) -> str | None:
    """None when the output at ``out_path`` is right, else the reason."""
    tab = pq.read_table(out_path)
    cols = tab.to_pydict()
    n = tab.num_rows
    if op in ("join", "intersection", "join_area"):
        pairs = list(zip(cols["l1_fid"], cols["l2_fid"]))
        want = [tuple(p) for p in exp["pairs"]]
        if len(pairs) != len(set(pairs)) or set(pairs) != set(want):
            return f"{len(pairs)} pairs ({len(set(pairs) ^ set(want))} wrong), expected {len(want)}"
        if op == "join":
            return None
        area = cols["area_inters"] if op == "join_area" else [wkb_area(b) for b in cols["geom_wkb"]]
        got = dict(zip(pairs, area))
        bad = [p for p, a in zip(want, exp["pair_area"]) if not _close(got[p], a, REL_TOL)]
        return f"{len(bad)} pair areas wrong, e.g. {bad[:1]}" if bad else None
    if op == "dissolve":
        got = {str(g): wkb_area(b) for g, b in zip(cols["grp"], cols["geom_wkb"])}
        want = exp["group_area"]
        if n != len(want) or set(got) != set(want):
            return f"{n} dissolved rows for {len(want)} groups"
        bad = [g for g in want if not _close(got[g], want[g], REL_TOL)]
        return f"{len(bad)} group areas wrong, e.g. {bad[:1]}" if bad else None
    if op == "symdiff":
        # cx minus parcels and parcels minus cx lose the same area, the
        # area of cx ∩ parcels (the parcels of one layer never overlap)
        a = np.array([wkb_area(b) for b in cols["geom_wkb"]])
        from_cx = np.array([f is not None for f in cols["l1_fid"]])
        lost_cx = exp["area_cx"] - a[from_cx].sum()
        lost_p = exp["area_l1"] - a[~from_cx].sum()
        if not 0 < lost_cx < exp["area_cx"]:
            return f"symmetric difference removed {lost_cx} of {exp['area_cx']} from cx"
        ok = abs(lost_cx - lost_p) <= REL_TOL * exp["area_l1"]
        return None if ok else f"area lost from cx {lost_cx} != from parcels {lost_p}"
    if op == "subdivide":
        a = sum(wkb_area(b) for b in cols["geom_wkb"])
        most = max(wkb_vertices(b) for b in cols["geom_wkb"])
        # a cut adds a few vertices (cut points, ring closure) to a part
        if n <= exp["rows"]["cx"] or most > SUBDIVIDE_COORDS + 8:
            return f"{n} parts, the largest with {most} vertices"
        if not _close(a, exp["area_cx"], REL_TOL):
            return f"parts cover {a}, not {exp['area_cx']}"
        return None
    raise ValueError(f"unknown operator {op!r}")


def out_rows(out_path: str) -> int:
    return pq.read_table(out_path, columns=[]).num_rows


def corrupt(out_path: str) -> None:
    """Drop the last row of an operator's output (the self-test's fault)."""
    tab = pq.read_table(out_path)
    shutil.rmtree(out_path)
    os.makedirs(out_path)
    pq.write_table(tab.slice(0, max(tab.num_rows - 1, 0)), os.path.join(out_path, "part-0.parquet"))


def _close(a: float, b: float, rel: float) -> bool:
    return abs(a - b) <= rel * max(abs(a), abs(b), 1.0)


# ------------------------------------------------------------------- WKB
def _rings(buf: bytes, off: int = 0):
    """Yield (ring array, is_shell) for every polygon ring in a
    little-endian 2-D WKB, and return the end offset via StopIteration."""
    order, typ = struct.unpack_from("<BI", buf, off)
    if order != 1:
        raise ValueError("big-endian WKB")
    off += 5
    if typ == 3:
        (nr,) = struct.unpack_from("<I", buf, off)
        off += 4
        for i in range(nr):
            (npt,) = struct.unpack_from("<I", buf, off)
            off += 4
            yield np.frombuffer(buf, "<f8", 2 * npt, off).reshape(npt, 2), i == 0
            off += 16 * npt
        return off
    if typ in (4, 5, 6, 7):
        (k,) = struct.unpack_from("<I", buf, off)
        off += 4
        for _ in range(k):
            off = yield from _rings(buf, off)
        return off
    if typ == 1:
        return off + 16
    if typ == 2:
        (npt,) = struct.unpack_from("<I", buf, off)
        return off + 4 + 16 * npt
    raise ValueError(f"WKB type {typ}")


def wkb_area(buf: bytes) -> float:
    """Polygonal area of a WKB geometry: shells minus holes."""
    total = 0.0
    for r, shell in _rings(buf):
        a = abs(0.5 * float(np.dot(r[:-1, 0], r[1:, 1]) - np.dot(r[1:, 0], r[:-1, 1])))
        total += a if shell else -a
    return total


def wkb_vertices(buf: bytes) -> int:
    return sum(len(r) for r, _ in _rings(buf))
