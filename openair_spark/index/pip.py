"""Vectorized point-in-polygon (ray cast), the exact-join kernel behind
the broadcast PIP probe (north rule).

Even-odd rule with the standard half-open edge convention
(y1 <= y < y2), numpy-vectorized over points x edges. Boundary points
follow the half-open convention deterministically (same convention is
encoded in the DuckDB oracle where PIP joins are oracle-checked on
rectangles, where the convention reduces to closed-left/open-right
range predicates).
"""

from __future__ import annotations

import numpy as np


def points_in_ring(px, py, ring) -> np.ndarray:
    """Boolean mask: which (px, py) points fall inside the closed ring.

    px, py: (N,) float arrays (lon, lat); ring: (M, 2) closed ring.
    Vectorized as an (N, M-1) crossing matrix — fine for the per-task
    candidate sets the cell join produces (cells bound M and N).
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    ring = np.asarray(ring, dtype=np.float64)
    x1, y1 = ring[:-1, 0], ring[:-1, 1]
    x2, y2 = ring[1:, 0], ring[1:, 1]
    yp = py[:, None]
    xp = px[:, None]
    crosses = ((y1 <= yp) & (yp < y2)) | ((y2 <= yp) & (yp < y1))
    with np.errstate(divide="ignore", invalid="ignore"):
        x_at_y = x1 + (yp - y1) * (x2 - x1) / (y2 - y1)
    hits = crosses & (xp < x_at_y)
    return (hits.sum(axis=1) % 2).astype(bool)


class RingSet:
    """CSR-packed edge arrays for a set of rings, for bulk PIP over
    (point, ring) candidate pairs in ONE numpy pass.

    A per-ring groupby kernel degrades to ~2 rows/group on broadcast
    PIP candidate batches (thousands of polygons), so per-call numpy
    overhead dominates; packing all edges once per worker and expanding
    candidates with repeat/reduceat keeps the work purely vectorized.
    """

    def __init__(self, rings: dict):
        self.ids = list(rings.keys())
        self.idx_of = {pid: i for i, pid in enumerate(self.ids)}
        x1l, y1l, x2l, y2l, lens = [], [], [], [], []
        for pid in self.ids:
            r = np.asarray(rings[pid], dtype=np.float64)
            x1l.append(r[:-1, 0]); y1l.append(r[:-1, 1])
            x2l.append(r[1:, 0]); y2l.append(r[1:, 1])
            lens.append(len(r) - 1)
        self.x1 = np.concatenate(x1l) if x1l else np.empty(0)
        self.y1 = np.concatenate(y1l) if y1l else np.empty(0)
        self.x2 = np.concatenate(x2l) if x2l else np.empty(0)
        self.y2 = np.concatenate(y2l) if y2l else np.empty(0)
        self.lens = np.asarray(lens, dtype=np.int64)
        self.starts = np.concatenate([[0], np.cumsum(self.lens)[:-1]]) \
            if lens else np.empty(0, dtype=np.int64)

    @classmethod
    def from_edges(cls, ids, x1, y1, x2, y2) -> "RingSet":
        """RingSet from flat edge arrays sorted by ring: ids[i] is the
        ring id of edge i, and each run of equal ids is one ring's
        edges in order. Same layout as the dict constructor."""
        ids = np.asarray(ids)
        rs = cls({})
        if len(ids) == 0:
            return rs
        starts = np.flatnonzero(np.concatenate([[True], ids[1:] != ids[:-1]]))
        rs.ids = ids[starts].tolist()
        rs.idx_of = {pid: i for i, pid in enumerate(rs.ids)}
        rs.x1, rs.y1, rs.x2, rs.y2 = (np.asarray(a, dtype=np.float64)
                                      for a in (x1, y1, x2, y2))
        rs.lens = np.diff(np.append(starts, len(ids))).astype(np.int64)
        rs.starts = starts.astype(np.int64)
        return rs

    def contains(self, px, py, ring_idx) -> np.ndarray:
        """Even-odd PIP for each (px[i], py[i]) against ring ring_idx[i].

        Same half-open crossing convention as points_in_ring, one flat
        pass over sum(ring_size) expanded pairs."""
        px = np.asarray(px, dtype=np.float64)
        py = np.asarray(py, dtype=np.float64)
        ring_idx = np.asarray(ring_idx, dtype=np.int64)
        n = len(px)
        if n == 0:
            return np.zeros(0, dtype=bool)
        lens = self.lens[ring_idx]
        # flat edge index per expanded (row, edge) pair: row i expands to
        # starts[ring_idx[i]] + (0 .. lens[i]-1)
        row = np.repeat(np.arange(n), lens)
        cum = np.cumsum(lens)
        within = np.arange(int(cum[-1])) - np.repeat(cum - lens, lens)
        eidx = np.repeat(self.starts[ring_idx], lens) + within
        x1, y1, x2, y2 = self.x1[eidx], self.y1[eidx], self.x2[eidx], self.y2[eidx]
        yp = py[row]
        xp = px[row]
        crosses = ((y1 <= yp) & (yp < y2)) | ((y2 <= yp) & (yp < y1))
        with np.errstate(divide="ignore", invalid="ignore"):
            x_at_y = x1 + (yp - y1) * (x2 - x1) / (y2 - y1)
        hits = (crosses & (xp < x_at_y)).astype(np.int64)
        counts = np.bincount(row, weights=hits, minlength=n)
        return (counts.astype(np.int64) % 2).astype(bool)
