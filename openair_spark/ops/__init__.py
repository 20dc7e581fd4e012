"""Distributed spatial + operational operators.

  tiling.py     quadkey compact-cover tiles (+ S2/H3 sibling ids per cell)
  h3tiles.py    true H3 compact-cover tiles (res 5-9)
  s2tiles.py    true S2 compact-cover tiles
  _cover_common.py  the H3/S2 classifiers' shared geometry and the one
                mapInArrow tiles kernel all three tiles operators use
  pip.py        salted broadcast point-in-polygon join
  knn.py        cell-local k-nearest-neighbors over airspace centroids
  raster.py     raster-tile <-> vector-polygon assignment
  checkpoint.py per-partition lineage/metrics manifest + resumable runs
"""
