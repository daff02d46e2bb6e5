package graft.algo

/** Driver-side union-find over dense Int ids with path compression. A
  * union points the larger root at the smaller, so every root is its
  * component's minimum member — over ids interned in the engines' order
  * (LocalGraph), the same label the distributed min-hook kernels
  * converge to. Used by the local twins of WCC, the MST and transitive
  * dedup grouping.
  */
private[graft] final class UnionFind(n: Int) {
  private val parent = Array.tabulate(n)(identity)

  def find(x: Int): Int = {
    var r = x
    while (parent(r) != r) r = parent(r)
    var c = x
    while (parent(c) != r) {
      val nxt = parent(c); parent(c) = r; c = nxt
    }
    r
  }

  /** Merges the components of `a` and `b`; false if they were one. */
  def union(a: Int, b: Int): Boolean = {
    val ra = find(a); val rb = find(b)
    if (ra == rb) false
    else {
      if (ra < rb) parent(rb) = ra else parent(ra) = rb
      true
    }
  }
}
