package graft.algo

/** Driver-side union-find with path compression. A union points the
  * larger root at the smaller in `ord`, so every root is its
  * component's minimum member — the same label the distributed min-hook
  * kernels converge to. Used by the local twins of WCC, the MST and
  * transitive dedup grouping.
  */
private[graft] final class UnionFind[T](implicit ord: Ordering[T]) {
  private val parent = scala.collection.mutable.HashMap.empty[T, T]

  def find(x: T): T = {
    var r = x
    while (parent.getOrElse(r, r) != r) r = parent(r)
    var c = x
    while (parent.getOrElse(c, c) != c) {
      val nxt = parent(c); parent(c) = r; c = nxt
    }
    r
  }

  /** Merges the components of `a` and `b`; false if they were one. */
  def union(a: T, b: T): Boolean = {
    val ra = find(a); val rb = find(b)
    if (ra == rb) false
    else {
      if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb
      true
    }
  }
}
