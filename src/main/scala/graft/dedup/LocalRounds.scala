package graft.dedup

import java.util.Arrays

import scala.collection.mutable.ArrayBuilder

/** The rounds of [[DedupClusters]] over an edge set held in one task: the
  * same min-label + pointer-jump and large/small-star algebra, on
  * primitive arrays instead of shuffles.
  *
  * Vertices are renamed to their rank in the sorted distinct id array.
  * The renaming preserves order, so every min, comparison and set
  * equality on ranks holds for the ids. An edge (u, v) is one Long,
  * rank(u) << 32 | rank(v), and an edge SET is a sorted, duplicate-free
  * `Array[Long]`: sorting groups the edges by u, and set equality is
  * array equality.
  */
private[graft] object LocalRounds {

  private def pack(u: Int, v: Int): Long = (u.toLong << 32) | v.toLong
  private def hi(e: Long): Int = (e >>> 32).toInt
  private def lo(e: Long): Int = e.toInt

  /** Sorts `a` in place and returns its distinct prefix. */
  def sortDistinct(a: Array[Long]): Array[Long] = {
    Arrays.sort(a)
    var n = 0
    var i = 0
    while (i < a.length) {
      if (n == 0 || a(i) != a(n - 1)) { a(n) = a(i); n += 1 }
      i += 1
    }
    if (n == a.length) a else Arrays.copyOf(a, n)
  }

  /** Sorted distinct ids of both endpoint columns. */
  def vertexIds(u: Array[Long], v: Array[Long]): Array[Long] = {
    val all = Arrays.copyOf(u, u.length + v.length)
    System.arraycopy(v, 0, all, u.length, v.length)
    sortDistinct(all)
  }

  /** The set {(rank u(i), rank v(i))} over the vertex array `ids`. */
  def edgeSet(ids: Array[Long], u: Array[Long], v: Array[Long]): Array[Long] =
    sortDistinct(Array.tabulate(u.length)(i =>
      pack(Arrays.binarySearch(ids, u(i)), Arrays.binarySearch(ids, v(i)))))

  /** The edge set as id pairs. */
  def pairs(ids: Array[Long], e: Array[Long]): Iterator[(Long, Long)] =
    e.iterator.map(x => (ids(hi(x)), ids(lo(x))))

  /** (id, ids(label)) for every vertex. */
  def labels(ids: Array[Long], comp: Array[Int]): Iterator[(Long, Long)] =
    comp.indices.iterator.map(i => (ids(i), ids(comp(i))))

  /** `maxIter` rounds at most of min-label + pointer-jump over the
    * symmetric edge set `e` on vertices 0 until n, each vertex starting
    * at its own label: the labels and whether the last round moved none.
    */
  def minLabel(e: Array[Long], n: Int, maxIter: Int): (Array[Int], Boolean) = {
    var comp = Array.tabulate(n)(identity)
    val mid = new Array[Int](n)
    var iter = 0
    var changed = true
    while (changed && iter < maxIter) {
      // neighbor-min: mid(u) = min(comp(u), comp(v) for every edge (u, v))
      System.arraycopy(comp, 0, mid, 0, n)
      var k = 0
      while (k < e.length) {
        val u = hi(e(k)); val c = comp(lo(e(k)))
        if (c < mid(u)) mid(u) = c
        k += 1
      }
      // pointer jump: label := min(mid(u), mid(mid(u)))
      val next = new Array[Int](n)
      changed = false
      var u = 0
      while (u < n) {
        next(u) = math.min(mid(u), mid(mid(u)))
        if (next(u) < comp(u)) changed = true
        u += 1
      }
      comp = next
      iter += 1
    }
    (comp, !changed)
  }

  /** small-star(large-star(e)), the edge set of [[DedupClusters.starRound]]. */
  def starRound(e: Array[Long]): Array[Long] = {
    // large-star: over the symmetrized edges grouped by u, point every
    // strictly-larger neighbor v at m = min(Γ(u) ∪ u)
    val adj = new Array[Long](2 * e.length)
    var k = 0
    while (k < e.length) {
      adj(2 * k) = e(k); adj(2 * k + 1) = pack(lo(e(k)), hi(e(k)))
      k += 1
    }
    Arrays.sort(adj)
    val large = new ArrayBuilder.ofLong
    forGroups(adj) { (s, t) =>
      val u = hi(adj(s)); val m = math.min(u, lo(adj(s)))
      var i = s
      while (i < t) { if (lo(adj(i)) > u) large += pack(lo(adj(i)), m); i += 1 }
    }
    // small-star: large-star's edges already point large→small; point
    // every member of u's group and u itself at m2 = min(N⁻(u))
    val l = sortDistinct(large.result())
    val small = new ArrayBuilder.ofLong
    forGroups(l) { (s, t) =>
      val u = hi(l(s)); val m2 = lo(l(s))
      small += pack(u, m2)
      var i = s
      while (i < t) { if (lo(l(i)) != m2) small += pack(lo(l(i)), m2); i += 1 }
    }
    sortDistinct(small.result())
  }

  /** Calls `f(s, t)` for every run a(s until t) of one u in sorted `a`. */
  private def forGroups(a: Array[Long])(f: (Int, Int) => Unit): Unit = {
    var s = 0
    while (s < a.length) {
      var t = s + 1
      while (t < a.length && hi(a(t)) == hi(a(s))) t += 1
      f(s, t)
      s = t
    }
  }

  /** [[starRound]] from `e` until the edge set repeats or `maxIter` rounds
    * have run in all, `iter` of them before `e`: the last edge set, the
    * rounds run in all, and whether the last one repeated its input.
    */
  def starRounds(e: Array[Long], iter: Int, maxIter: Int): (Array[Long], Int, Boolean) = {
    var cur = e
    var it = iter
    var changed = true
    while (changed && it < maxIter) {
      val next = starRound(cur)
      changed = !Arrays.equals(next, cur)
      cur = next
      it += 1
    }
    (cur, it, !changed)
  }

  /** Labels of the fixpoint stars `e` on vertices 0 until n, each of them
    * on an edge (a round keeps every vertex on one): every u takes the
    * min of its targets, a target itself.
    */
  def starLabels(e: Array[Long], n: Int): Array[Int] = {
    val comp = Array.fill(n)(Int.MaxValue)
    e.foreach { x =>
      comp(hi(x)) = math.min(comp(hi(x)), lo(x))
      comp(lo(x)) = math.min(comp(lo(x)), lo(x))
    }
    comp
  }
}
