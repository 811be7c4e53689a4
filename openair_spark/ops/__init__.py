"""Distributed spatial + operational operators.

  pip.py        broadcast point-in-polygon probe (+ salted shuffle join)
  knn.py        cell-local k-nearest-neighbors over airspace centroids
  raster.py     raster-tile <-> vector-polygon assignment
  checkpoint.py per-partition lineage/metrics manifest + resumable runs
"""
