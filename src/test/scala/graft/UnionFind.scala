package graft

/** Plain-Scala connected components — the reference the DataFrame
  * components (`Dedup.nearDupGroupsDF`) are checked against. Union by
  * minimum root, so every id maps to its component's minimum id, the
  * same labeling contract the DataFrame implementation promises. */
object UnionFind {

  /** Component label (minimum id) of every id in `ids`, under the
    * undirected `edges`. Edge endpoints outside `ids` still connect. */
  def components(ids: Iterable[Long],
                 edges: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var root = x
      while (parent.getOrElse(root, root) != root) root = parent(root)
      var y = x
      while (y != root) { val next = parent(y); parent(y) = root; y = next }
      root
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    ids.map(x => x -> find(x)).toMap
  }
}
