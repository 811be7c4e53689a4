"""Cell indexes (from scratch — no geo libraries in this environment).

  s2.py       S2 cell ids per the published spec (cube faces, quadratic
              ST projection, Hilbert curve) — vectorized point->cell.
  h3.py       bit-compatible H3 (icosahedral gnomonic aperture-7) from
              scratch: tables derived from the published face geometry,
              validated against the documented example cells
              (latLngToCell/parent/gridDisk anchors, pentagon list).
  quadkey.py  lat/lon quadtree cells in pure floor arithmetic — the
              SQL-expressible index used by the DuckDB correctness oracle.
  pip.py      ray-cast point-in-polygon: points_in_ring and the CSR
              RingSet for bulk (point, ring) tests.
  cover.py    compact quadkey polygon covers: the compact_cover oracle,
              the level-batched cover_flat engine (cover_batch is its
              per-ring view) and RingBatch, the ring geometry the
              quadkey, H3 and S2 cover classifiers share.
"""
