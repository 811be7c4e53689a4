"""Shared crossing and corner logic of the batched H3 and S2 cover
classifiers (ops/h3tiles + ops/s2tiles): the touching-counts-as-crossing
edge test and the grouped corner-in-ring split that relies on it. One
implementation so a fix to either cannot silently diverge between the
two covers. Their ring geometry (RingBatch) lives in index/cover.py,
next to the quadkey cover that shares it.
"""

from __future__ import annotations

import numpy as np

from ..index.pip import RingSet, points_in_ring


def _orient(px, py, qx, qy, rx, ry):
    return (qx - px) * (ry - py) - (qy - py) * (rx - px)


def proper_crossings(hx1, hy1, hx2, hy2, crow, seg, rs: RingSet,
                     n_cells: int) -> np.ndarray:
    """(n_cells,) bool: does any of the cell's edges cross OR TOUCH any
    of the gathered (crow, seg) ring segments (d1*d2 <= 0 AND
    d3*d4 <= 0 — the non-strict test, ADVICE r4).

    Counting touching/collinear contact as a crossing is what makes the
    cheap corner-0 decision in corner_split safe: the only way a cell
    with mixed-in/out corners can lack a STRICT crossing is a ring
    vertex V lying exactly on a cell edge with the boundary entering
    the interior through V. But then the ring segment (V, W) with W
    off the edge line has d1 = orient(edge, V) = 0 (so d1*d2 <= 0) and,
    since V lies on the edge between its endpoints (or on a corner,
    where d3 = 0), the segment's line separates — or contains — an
    endpoint, giving d3*d4 <= 0. Every such contact is therefore
    flagged here and the cell classifies PARTIAL, never OUTSIDE/FULL.
    The flip side is benign: a ring merely grazing a cell from outside
    now also classifies PARTIAL (a conservative superset; FULL->PARTIAL
    only means the exact PIP test runs where it could have been
    skipped, and such contacts are measure-zero for float data).

    Touch detection is the exact segment-intersection rule (strict
    straddle OR an endpoint collinear AND inside the other segment's
    bbox) — NOT the naive d1*d2<=0 & d3*d4<=0 product test, which
    false-positives on DISJOINT collinear segments (all four
    orientations zero; synthetic DP rectangles share lat/lon lines with
    far-away cell edges, so that overcount would bloat covers)."""
    crossing = np.zeros(n_cells, dtype=bool)
    if len(crow) == 0:
        return crossing
    ax1, ay1 = hx1[crow], hy1[crow]                 # (P, V)
    ax2, ay2 = hx2[crow], hy2[crow]
    bx1, by1 = rs.x1[seg][:, None], rs.y1[seg][:, None]
    bx2, by2 = rs.x2[seg][:, None], rs.y2[seg][:, None]
    d1 = _orient(ax1, ay1, ax2, ay2, bx1, by1)
    d2 = _orient(ax1, ay1, ax2, ay2, bx2, by2)
    d3 = _orient(bx1, by1, bx2, by2, ax1, ay1)
    d4 = _orient(bx1, by1, bx2, by2, ax2, ay2)

    def _on_seg(px1, py1, px2, py2, qx, qy):
        # given q collinear with segment p, is q within p's bbox?
        return ((qx >= np.minimum(px1, px2)) & (qx <= np.maximum(px1, px2))
                & (qy >= np.minimum(py1, py2)) & (qy <= np.maximum(py1, py2)))

    hit = (d1 * d2 < 0) & (d3 * d4 < 0)
    hit |= (d1 == 0) & _on_seg(ax1, ay1, ax2, ay2, bx1, by1)
    hit |= (d2 == 0) & _on_seg(ax1, ay1, ax2, ay2, bx2, by2)
    hit |= (d3 == 0) & _on_seg(bx1, by1, bx2, by2, ax1, ay1)
    hit |= (d4 == 0) & _on_seg(bx1, by1, bx2, by2, ax2, ay2)
    hit = hit.any(axis=1)
    crossing[crow[hit]] = True
    return crossing


def corner_split(hx1, hy1, partial: np.ndarray, owner: np.ndarray,
                 rings: list, nv: int):
    """(all_in, any_in) for cells not already PARTIAL. Corner 0 alone
    decides: proper_crossings counts touching contact, so a non-partial
    cell's boundary has NO contact with the ring boundary and no ring
    vertex sits inside the cell — a connected ring path cannot reach
    the cell interior without crossing (or touching) a cell edge, hence
    the whole cell lies on one side of the ring and every corner shares
    corner 0's parity (see the proper_crossings docstring for why
    vertex-through-edge contact is flagged too; ADVICE r4). The former
    remaining-corner verification was therefore pure redundancy — it
    re-ray-cast (nv-1) corners per inside cell for a bit that corner 0
    already determined (round-6 kernel profile: ~10% of the whole cover
    leg) — and is removed; equality of the resulting covers over the
    full bench corpus is asserted by tests/test_properties.py.
    Grouped per-owner 2D ray casts — ~2x the CSR RingSet path at cover
    batch sizes."""
    m = len(partial)
    rows = np.nonzero(~partial)[0]
    all_in = np.zeros(m, dtype=bool)
    any_in = np.zeros(m, dtype=bool)
    if len(rows):
        c0 = np.zeros(len(rows), dtype=bool)
        orow = owner[rows]
        for ov in np.unique(orow):
            mg = orow == ov
            c0[mg] = points_in_ring(hx1[rows[mg], 0], hy1[rows[mg], 0],
                                    rings[ov])
        in_rows = rows[c0]
        all_in[in_rows] = True
        any_in[in_rows] = True
    return all_in, any_in
