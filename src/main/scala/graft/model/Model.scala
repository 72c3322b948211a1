package graft.model

/** One raster grid point (centr.py:289-310) — the typed `Dataset[T]`
  * view of a centroid row. */
case class CentroidCell(centroid_id: Long, lat: Double, lon: Double)
