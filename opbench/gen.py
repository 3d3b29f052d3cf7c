"""Seeded input generator and expected results for the benchmark.

Everything here is numpy + pyarrow: the package under test is never
imported, so the expected values the checks compare against cannot share
a bug with it. Each table is written as ``PARTS`` parquet files; the
warm-up calls read the first half of them, the timed calls all.

Inputs:

- ``pages``: Common-Crawl-style rows (url, warc_ts, text, lang). 90 % of
  pages carry one ``geo:<lat>,<lon>`` token; 80 % of those fall in five
  clusters. Only the traced run's ``extract_points`` probe reads them.
- ``parcels_l0`` / ``parcels_l1``: convex parcels (ellipse-inscribed, 8-32
  vertices). Layer 1 sits on the cell corners of layer 0, so each parcel
  can only meet the four parcels around its corner.
- ``cx``: dense star-shaped rings grouped into multipolygons, laid over
  the parcel extent.
"""

from __future__ import annotations

import json
import os
import struct

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

PARTS = 4
SPACING = 100.0
GROUP_CELLS = 8  # dissolve groups are GROUP_CELLS x GROUP_CELLS blocks
AXES0 = (0.42, 0.53)  # layer-0 semi-axes, in cells
# page cluster anchors (lon, lat)
ANCHORS = [(4.35, 50.85), (-74.0, 40.7), (139.7, 35.7), (2.35, 45.0), (-0.13, 55.5)]
CLUSTER_SPREAD = 0.5
_WORDS = np.array(
    "the quick brown fox jumps over lazy dog lorem ipsum dolor sit amet "
    "consectetur adipiscing elit sed do eiusmod tempor incididunt labore".split()
)
LANGS = np.array(["en", "fr", "de", "nl", "ja", "es", "pt", "it"])


# ------------------------------------------------------------------ WKB
def polygon_wkb(rings: list[np.ndarray]) -> bytes:
    """Little-endian WKB POLYGON from closed (n, 2) rings."""
    out = [struct.pack("<BII", 1, 3, len(rings))]
    for r in rings:
        out.append(struct.pack("<I", len(r)))
        out.append(np.ascontiguousarray(r, dtype="<f8").tobytes())
    return b"".join(out)


def multipolygon_wkb(polys: list[list[np.ndarray]]) -> bytes:
    return struct.pack("<BII", 1, 6, len(polys)) + b"".join(
        polygon_wkb(p) for p in polys
    )


def ring_area(r: np.ndarray) -> float:
    """Signed shoelace area of a closed ring (positive = CCW)."""
    x, y = r[:, 0], r[:, 1]
    return 0.5 * float(np.dot(x[:-1], y[1:]) - np.dot(x[1:], y[:-1]))


# ------------------------------------------------- convex pair areas
def convex_pair_areas(A: np.ndarray, B: np.ndarray, chunk: int = 1024) -> np.ndarray:
    """Exact areas of A[i] ∩ B[i] for convex CCW polygons.

    ``A``/``B`` are (P, K+1, 2) closed rings padded by repeating the
    closing vertex. By Green's theorem the intersection area is the sum
    of ``cross(p, q) / 2`` over the part of each edge of A that lies
    inside B plus the part of each edge of B inside A; each part is one
    parametric clip (Cyrus-Beck) against the other polygon's half-planes.
    """
    out = np.empty(len(A))
    for s in range(0, len(A), chunk):
        a, b = A[s : s + chunk], B[s : s + chunk]
        o = b[:, :1, :]  # local origin keeps the cross products small
        a, b = a - o, b - o
        out[s : s + chunk] = _inside_sum(a, b) + _inside_sum(b, a)
    return out


def _inside_sum(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    p0 = a[:, :-1, None, :]  # (P, Ka, 1, 2)
    d = (a[:, 1:] - a[:, :-1])[:, :, None, :]
    q0 = b[:, None, :-1, :]  # (P, 1, Kb, 2)
    e = (b[:, 1:] - b[:, :-1])[:, None, :, :]
    c0 = e[..., 0] * (p0[..., 1] - q0[..., 1]) - e[..., 1] * (p0[..., 0] - q0[..., 0])
    c1 = e[..., 0] * d[..., 1] - e[..., 1] * d[..., 0]
    with np.errstate(divide="ignore", invalid="ignore"):
        t = -c0 / c1
    lo = np.where(c1 > 0, t, -np.inf).max(axis=2)
    hi = np.where(c1 < 0, t, np.inf).min(axis=2)
    dead = ((c1 == 0) & (c0 < 0)).any(axis=2)
    t0 = np.maximum(lo, 0.0)
    t1 = np.minimum(hi, 1.0)
    keep = (t1 > t0) & ~dead
    p = p0[:, :, 0, :]
    dd = d[:, :, 0, :]
    x0 = p + t0[..., None] * dd
    x1 = p + t1[..., None] * dd
    cr = 0.5 * (x0[..., 0] * x1[..., 1] - x0[..., 1] * x1[..., 0])
    return np.where(keep, cr, 0.0).sum(axis=1)


# ---------------------------------------------------------------- pages
def gen_pages(rng: np.random.Generator, n: int) -> pa.Table:
    has_geo = rng.random(n) >= 0.10
    which = rng.choice(6, size=n, p=[0.2, 0.3, 0.2, 0.15, 0.1, 0.05])
    centres = np.array(ANCHORS) + rng.uniform(-1.0, 1.0, (5, 2))
    lon = rng.uniform(-180.0, 180.0, n)
    lat = rng.uniform(-85.0, 85.0, n)
    for k in range(5):
        m = which == k + 1
        lon[m] = centres[k, 0] + rng.uniform(-CLUSTER_SPREAD, CLUSTER_SPREAD, m.sum())
        lat[m] = centres[k, 1] + rng.uniform(-CLUSTER_SPREAD, CLUSTER_SPREAD, m.sum())
    bodies = pa.array([
        " ".join(_WORDS[rng.integers(0, len(_WORDS), rng.integers(4, 16))])
        for _ in range(64)
    ])
    body = bodies.take(pa.array(rng.integers(0, 64, n)))
    tagged = pc.binary_join_element_wise(
        body, " geo:", _micro_str(np.round(lat * 1e6).astype(np.int64)), ",",
        _micro_str(np.round(lon * 1e6).astype(np.int64)), " ", body, "",
    )
    ids = pa.array(rng.permutation(n))
    url = pc.binary_join_element_wise(
        "https://site", pc.cast(pc.bit_wise_and(ids, 1023), pa.string()),
        ".example.com/page/", pc.cast(ids, pa.string()), "",
    )
    return pa.table(
        {
            "url": url,
            "warc_ts": pa.array(
                (1_500_000_000 + rng.integers(0, 200_000_000, n)) * 1_000_000,
                pa.timestamp("us"),
            ),
            "text": pc.if_else(pa.array(has_geo), tagged, body),
            "lang": LANGS[rng.integers(0, len(LANGS), n)],
        }
    )


def _micro_str(u: np.ndarray) -> pa.Array:
    """Whole micro-degrees -> "%.6f" text, vectorized."""
    a = np.abs(u)
    frac = pc.utf8_lpad(pc.cast(pa.array(a % 1_000_000), pa.string()), 6, "0")
    return pc.binary_join_element_wise(
        pa.array(np.where(u < 0, "-", "")),
        pc.cast(pa.array(a // 1_000_000), pa.string()), ".", frac, "",
    )


# -------------------------------------------------------------- parcels
def _convex_rings(rng, cx, cy, axes: tuple[float, float], k_max: int = 32):
    """Convex CCW rings on random ellipses whose semi-axes lie in
    ``axes`` (in cells), padded to (n, k_max+1, 2); also returns the
    vertex counts."""
    n = len(cx)
    k = rng.integers(8, k_max + 1, n)
    a = rng.uniform(*axes, n) * SPACING
    b = rng.uniform(*axes, n) * SPACING
    rot = rng.uniform(0.0, np.pi, n)
    j = np.arange(k_max)
    step = 2.0 * np.pi / k
    ang = (j[None, :] + rng.uniform(-0.35, 0.35, (n, k_max))) * step[:, None]
    ang = np.where(j[None, :] < k[:, None], ang, ang[np.arange(n), k - 1][:, None])
    ex, ey = a[:, None] * np.cos(ang), b[:, None] * np.sin(ang)
    cr, sr = np.cos(rot)[:, None], np.sin(rot)[:, None]
    ring = np.empty((n, k_max + 1, 2))
    ring[:, :k_max, 0] = cx[:, None] + ex * cr - ey * sr
    ring[:, :k_max, 1] = cy[:, None] + ex * sr + ey * cr
    # close: the slot after the last real vertex (and every pad) repeats
    # vertex 0
    idx = np.arange(k_max + 1)[None, :]
    first = ring[:, :1, :]
    ring = np.where((idx >= k[:, None])[..., None], first, ring)
    return ring, k


def gen_parcels(rng: np.random.Generator, n: int) -> tuple[dict, dict]:
    """Layer 0 parcels reach up to 0.56 cells from their centre, so edge
    neighbours may overlap (dissolve has real work) but diagonal ones
    never do: no point lies in three layer-0 parcels. Layer 1 parcels
    reach at most 0.43 cells and never touch each other."""
    w = int(np.ceil(np.sqrt(n)))
    ids = np.arange(n, dtype=np.int64)
    gx, gy = ids % w, ids // w
    c0x = (gx + 0.5) * SPACING + rng.uniform(-3.0, 3.0, n)
    c0y = (gy + 0.5) * SPACING + rng.uniform(-3.0, 3.0, n)
    c1x = (gx + 1.0) * SPACING + rng.uniform(-4.0, 4.0, n)
    c1y = (gy + 1.0) * SPACING + rng.uniform(-4.0, 4.0, n)
    r0, k0 = _convex_rings(rng, c0x, c0y, AXES0)
    r1, k1 = _convex_rings(rng, c1x, c1y, (0.34, 0.43))
    grp = (gx // GROUP_CELLS) * 4096 + gy // GROUP_CELLS

    # layer-1 parcel (i, j) can only reach the layer-0 parcels of cells
    # (i..i+1, j..j+1); every other pair is at least 1.4 cells apart
    cand0, cand1 = _neighbours(gx, gy, w, n, ((0, 0), (0, 1), (1, 0), (1, 1)))
    area = convex_pair_areas(r0[cand0], r1[cand1])
    hit = area > 0
    pairs = np.column_stack([cand0[hit], cand1[hit]])

    a0 = np.array([ring_area(r[: k + 1]) for r, k in zip(r0, k0)])
    a1 = np.array([ring_area(r[: k + 1]) for r, k in zip(r1, k1)])
    # dissolved area per group by inclusion-exclusion over the
    # east/north layer-0 neighbours, the only overlaps there are
    e0, e1 = _neighbours(gx, gy, w, n, ((1, 0), (0, 1)))
    same = grp[e0] == grp[e1]
    overlap = convex_pair_areas(r0[e0[same]], r0[e1[same]])
    group_area = np.bincount(np.unique(grp, return_inverse=True)[1], a0)
    groups = dict(zip(np.unique(grp).tolist(), group_area.tolist()))
    for g, a in zip(grp[e0[same]].tolist(), overlap.tolist()):
        groups[g] -= a

    def layer(rings, ks):
        return pa.table(
            {
                "fid": pa.array(ids),
                "grp": pa.array(grp),
                "geom_wkb": [polygon_wkb([r[: k + 1]]) for r, k in zip(rings, ks)],
            }
        )

    exp = {
        "pairs": pairs.tolist(),
        "pair_area": area[hit].tolist(),
        "group_area": {str(g): a for g, a in groups.items()},
        "area_l1": float(a1.sum()),
        "extent": float(w * SPACING),
    }
    return {"parcels_l0": layer(r0, k0), "parcels_l1": layer(r1, k1)}, exp


def _neighbours(gx, gy, w, n, offsets):
    """(id of the cell at each offset, id) for every offset in range."""
    src, dst = [], []
    for dx, dy in offsets:
        j = (gy + dy) * w + gx + dx
        ok = (gx + dx < w) & (j < n)
        src.append(np.nonzero(ok)[0])
        dst.append(j[ok])
    return np.concatenate(dst), np.concatenate(src)


# -------------------------------------------------------------- complex
def gen_complex(rng: np.random.Generator, extent: float, n_rings: int, coords: int):
    """Dense star rings (``coords`` vertices each), two per multipolygon,
    on a coarse grid over the parcel extent so no two rings overlap."""
    cols = int(np.ceil(np.sqrt(n_rings)))
    rows = int(np.ceil(n_rings / cols))
    pitch = 0.9 * extent / max(cols, rows)
    theta = 2.0 * np.pi * np.arange(coords) / coords
    rings, total = [], 0.0
    for i in range(n_rings):
        # the shape is the same for every seed (one ring dominates the
        # workload's cost); the seed moves it by up to half a cell
        cx = extent * 0.05 + pitch * (i % cols + 0.5) + rng.uniform(-0.5, 0.5) * SPACING
        cy = extent * 0.05 + pitch * (i // cols + 0.5) + rng.uniform(-0.5, 0.5) * SPACING
        ph = np.random.default_rng(i).uniform(0.0, 2.0 * np.pi, 3)
        rad = 0.45 * pitch * (
            0.80 + 0.12 * np.sin(5 * theta + ph[0]) + 0.05 * np.sin(11 * theta + ph[1])
            + 0.03 * np.sin(23 * theta + ph[2])
        )
        r = np.empty((coords + 1, 2))
        r[:coords, 0] = cx + rad * np.cos(theta)
        r[:coords, 1] = cy + rad * np.sin(theta)
        r[coords] = r[0]
        rings.append(r)
        total += ring_area(r)
    multis = [rings[i : i + 2] for i in range(0, n_rings, 2)]
    table = pa.table(
        {
            "fid": pa.array(range(len(multis)), pa.int64()),
            "grp": pa.array([0] * len(multis), pa.int64()),
            "geom_wkb": [multipolygon_wkb([[r] for r in m]) for m in multis],
        }
    )
    return table, {"area_cx": total}


# --------------------------------------------------------------- driver
def write_table(table: pa.Table, path: str, parts: int = PARTS) -> None:
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i}.parquet"))


def generate(out_dir: str, seed: int, sizes: dict) -> dict:
    """Write every table under ``out_dir`` and return the expected
    results. ``sizes``: pages, parcels, cx_rings, cx_coords."""
    rng = np.random.default_rng(seed)
    pages = gen_pages(rng, sizes["pages"])
    layers, exp = gen_parcels(rng, sizes["parcels"])
    cx, exp_cx = gen_complex(rng, exp["extent"], sizes["cx_rings"], sizes["cx_coords"])
    tables = {"pages": pages, **layers, "cx": cx}
    for name, t in tables.items():
        write_table(t, os.path.join(out_dir, name), PARTS if t.num_rows >= PARTS * 16 else 1)
    exp = {**exp, **exp_cx, "rows": {k: t.num_rows for k, t in tables.items()}}
    with open(os.path.join(out_dir, "expected.json"), "w") as f:
        json.dump(exp, f)
    return exp
