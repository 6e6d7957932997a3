package perfbench

import java.util.Arrays

/**
 * Independent in-process references, computed in the benchmark JVM from a
 * collected edge list with plain arrays (no Spark). Vertex ids are
 * mapped to dense indices through a sorted id array.
 */
object Oracles {

  /** Sorted distinct ids plus id → index lookup. */
  final class Ids(val sorted: Array[Long]) {
    def n: Int = sorted.length
    def idx(id: Long): Int = {
      val i = Arrays.binarySearch(sorted, id)
      require(i >= 0, s"unknown vertex $id")
      i
    }
  }

  def ids(all: Array[Long]): Ids = {
    val s = all.clone()
    Arrays.sort(s)
    var k = 0
    var i = 0
    while (i < s.length) {
      if (k == 0 || s(i) != s(k - 1)) { s(k) = s(i); k += 1 }
      i += 1
    }
    new Ids(Arrays.copyOf(s, k))
  }

  /** PageRank with the engine's stated semantics: uniform start 1/V,
   * unit-weight parallel edges normalized by out-weight, dangling mass
   * redistributed uniformly, stop once the L1 change is below `tol`.
   * Returns (rank per index, iterations). */
  def pagerank(
      v: Ids, src: Array[Long], dst: Array[Long],
      alpha: Double = 0.85, tol: Double = 1e-6, maxIter: Int = 100): (Array[Double], Int) = {
    val n = v.n
    val s = src.map(v.idx)
    val d = dst.map(v.idx)
    val outw = new Array[Double](n)
    s.foreach(i => outw(i) += 1.0)
    var pr = Array.fill(n)(1.0 / n)
    var it = 0
    var l1 = Double.MaxValue
    while (l1 >= tol && it < maxIter) {
      it += 1
      var dangling = 0.0
      var i = 0
      while (i < n) { if (outw(i) == 0.0) dangling += pr(i); i += 1 }
      val acc = new Array[Double](n)
      var e = 0
      while (e < s.length) { acc(d(e)) += pr(s(e)) / outw(s(e)); e += 1 }
      val base = (dangling * alpha + (1.0 - alpha)) / n
      val next = new Array[Double](n)
      l1 = 0.0
      i = 0
      while (i < n) {
        next(i) = alpha * acc(i) + base
        l1 += math.abs(next(i) - pr(i))
        i += 1
      }
      pr = next
    }
    (pr, it)
  }

  /** Undirected simple adjacency (CSR, sorted, no self loops, no
   * duplicates) over `v`, from a symmetric edge list. */
  final class Csr(val off: Array[Int], val nbr: Array[Int]) {
    def deg(i: Int): Int = off(i + 1) - off(i)
  }

  def csr(v: Ids, src: Array[Long], dst: Array[Long]): Csr = {
    val n = v.n
    val pairs = new Array[Long](src.length * 2)
    var m = 0
    var e = 0
    while (e < src.length) {
      val a = v.idx(src(e)); val b = v.idx(dst(e))
      if (a != b) {
        pairs(m) = a.toLong << 32 | b; m += 1
        pairs(m) = b.toLong << 32 | a; m += 1
      }
      e += 1
    }
    val p = Arrays.copyOf(pairs, m)
    Arrays.sort(p)
    val off = new Array[Int](n + 1)
    val nbr = new Array[Int](m)
    var k = 0
    var i = 0
    while (i < m) {
      if (i == 0 || p(i) != p(i - 1)) {
        off((p(i) >>> 32).toInt + 1) += 1
        nbr(k) = (p(i) & 0xffffffffL).toInt
        k += 1
      }
      i += 1
    }
    var j = 0
    while (j < n) { off(j + 1) += off(j); j += 1 }
    new Csr(off, Arrays.copyOf(nbr, k))
  }

  /** Component = minimum vertex id of the component (union-find). */
  def wcc(v: Ids, g: Csr): Array[Long] = {
    val parent = Array.tabulate(v.n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val nx = parent(y); parent(y) = r; y = nx }
      r
    }
    var i = 0
    while (i < v.n) {
      var k = g.off(i)
      while (k < g.off(i + 1)) {
        val a = find(i); val b = find(g.nbr(k))
        // Smaller index = smaller id: the root is the component minimum.
        if (a < b) parent(b) = a else if (b < a) parent(a) = b
        k += 1
      }
      i += 1
    }
    Array.tabulate(v.n)(x => v.sorted(find(x)))
  }

  /** Synchronous label propagation: every vertex adopts the most frequent
   * neighbour label, ties to the smallest label; isolated vertices keep
   * theirs; stop at a fixpoint or `maxIter`. Returns (label, iterations). */
  def lpa(v: Ids, g: Csr, maxIter: Int): (Array[Long], Int) = {
    var lbl = v.sorted.clone()
    var it = 0
    var changed = true
    val buf = new Array[Long](if (g.nbr.isEmpty) 0 else (0 until v.n).map(g.deg).max)
    while (changed && it < maxIter) {
      it += 1
      changed = false
      val next = lbl.clone()
      var i = 0
      while (i < v.n) {
        val d = g.deg(i)
        if (d > 0) {
          var k = 0
          while (k < d) { buf(k) = lbl(g.nbr(g.off(i) + k)); k += 1 }
          Arrays.sort(buf, 0, d)
          var best = buf(0); var bestCnt = 0
          var run = 0
          k = 0
          while (k < d) {
            run = if (k > 0 && buf(k) == buf(k - 1)) run + 1 else 1
            if (run > bestCnt) { bestCnt = run; best = buf(k) }
            k += 1
          }
          next(i) = best
          if (best != lbl(i)) changed = true
        }
        i += 1
      }
      lbl = next
    }
    (lbl, it)
  }

  /** Per-vertex triangle counts: orient each edge low → high by
   * (degree, index), intersect the sorted oriented lists of both ends
   * and credit all three corners. */
  def triangles(v: Ids, g: Csr): Array[Long] = {
    val n = v.n
    def lower(a: Int, b: Int) = g.deg(a) < g.deg(b) || (g.deg(a) == g.deg(b) && a < b)
    val oOff = new Array[Int](n + 1)
    var i = 0
    while (i < n) {
      var k = g.off(i); var c = 0
      while (k < g.off(i + 1)) { if (lower(i, g.nbr(k))) c += 1; k += 1 }
      oOff(i + 1) = oOff(i) + c
      i += 1
    }
    val oNbr = new Array[Int](oOff(n))
    i = 0
    while (i < n) {
      var k = g.off(i); var w = oOff(i)
      while (k < g.off(i + 1)) { if (lower(i, g.nbr(k))) { oNbr(w) = g.nbr(k); w += 1 }; k += 1 }
      i += 1
    }
    val tri = new Array[Long](n)
    var u = 0
    while (u < n) {
      var k = oOff(u)
      while (k < oOff(u + 1)) {
        val w = oNbr(k)
        var a = oOff(u); var b = oOff(w)
        while (a < oOff(u + 1) && b < oOff(w + 1)) {
          if (oNbr(a) < oNbr(b)) a += 1
          else if (oNbr(a) > oNbr(b)) b += 1
          else { tri(u) += 1; tri(w) += 1; tri(oNbr(a)) += 1; a += 1; b += 1 }
        }
        k += 1
      }
      u += 1
    }
    tri
  }
}
