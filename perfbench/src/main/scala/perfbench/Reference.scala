package perfbench

import scala.collection.mutable

/** Reference computations the engine's outputs are checked against.
  * Written from the operators' documented semantics, independently of
  * the engine's code, and run in the benchmark's JVM over the generated
  * inputs.
  */
object Reference {

  /** Connected components by union-find: vertex -> smallest vertex id
    * in its component.
    */
  def components(edges: Iterator[(Long, Long)]): mutable.LongMap[Long] = {
    val parent = mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (u, v) =>
      if (!parent.contains(u)) parent(u) = u
      if (!parent.contains(v)) parent(v) = v
      val (ru, rv) = (find(u), find(v))
      // union toward the smaller id keeps every root its component's min
      if (ru < rv) parent(rv) = ru else if (rv < ru) parent(ru) = rv
    }
    val out = mutable.LongMap.empty[Long]
    parent.foreachKey(v => out(v) = find(v))
    out
  }

  /** Undirected adjacency: vertex -> sorted distinct neighbours, loops
    * dropped.
    */
  def adjacency(edges: Iterator[(Long, Long)]): mutable.LongMap[Array[Long]] = {
    val sets = mutable.LongMap.empty[mutable.Set[Long]]
    edges.foreach { case (u, v) =>
      if (u != v) {
        sets.getOrElseUpdate(u, mutable.HashSet.empty[Long]) += v
        sets.getOrElseUpdate(v, mutable.HashSet.empty[Long]) += u
      }
    }
    val out = mutable.LongMap.empty[Array[Long]]
    sets.foreach { case (v, s) => out(v) = s.toArray.sorted }
    out
  }

  /** Size of the intersection of two sorted arrays, counting only
    * elements greater than `above`.
    */
  private def intersectAbove(a: Array[Long], b: Array[Long], above: Long): Int = {
    var i = 0; var j = 0; var n = 0
    while (i < a.length && j < b.length) {
      if (a(i) < b(j)) i += 1
      else if (a(i) > b(j)) j += 1
      else { if (a(i) > above) n += 1; i += 1; j += 1 }
    }
    n
  }

  /** Global triangle count by sorted-adjacency intersection: each
    * triangle u < v < w is counted once, from its edge (u, v).
    */
  def triangleCount(adj: mutable.LongMap[Array[Long]]): Long = {
    var total = 0L
    adj.foreach { case (u, nu) =>
      nu.foreach(v => if (v > u) total += intersectAbove(nu, adj(v), v))
    }
    total
  }

  /** Triangles through each vertex, by sorted-adjacency intersection. */
  def trianglesPerVertex(adj: mutable.LongMap[Array[Long]]): mutable.LongMap[Long] = {
    val out = mutable.LongMap.empty[Long]
    adj.foreach { case (u, nu) =>
      nu.foreach { v =>
        if (v > u) {
          val nv = adj(v)
          var i = 0; var j = 0
          while (i < nu.length && j < nv.length) {
            if (nu(i) < nv(j)) i += 1
            else if (nu(i) > nv(j)) j += 1
            else {
              val w = nu(i)
              if (w > v) Seq(u, v, w).foreach(x => out(x) = out.getOrElse(x, 0L) + 1L)
              i += 1; j += 1
            }
          }
        }
      }
    }
    out
  }

  /** The integer PageRank round map `PageRank.fixedPoint` documents:
    * r0 = SCALE; r' = 15*SCALE/100 + 85 * sum(r(u) / outdeg(u)) / 100,
    * integer division throughout, dangling mass dropped.
    */
  def pageRank(arcs: Array[(Long, Long)], iters: Int,
               scale: Long = 1000000L): mutable.LongMap[Long] = {
    val outdeg = mutable.LongMap.empty[Long]
    val verts = mutable.LongMap.empty[Unit]
    arcs.foreach { case (u, v) =>
      outdeg(u) = outdeg.getOrElse(u, 0L) + 1L
      verts(u) = (); verts(v) = ()
    }
    var ranks = mutable.LongMap.empty[Long]
    verts.foreachKey(id => ranks(id) = scale)
    for (_ <- 1 to iters) {
      val s = mutable.LongMap.empty[Long]
      arcs.foreach { case (u, v) => s(v) = s.getOrElse(v, 0L) + ranks(u) / outdeg(u) }
      val next = mutable.LongMap.empty[Long]
      verts.foreachKey(id => next(id) = 15L * scale / 100 + 85L * s.getOrElse(id, 0L) / 100)
      ranks = next
    }
    ranks
  }

  /** Synchronous label propagation as `Communities.labelPropagation`
    * documents it: labels start as own ids; each round every vertex
    * takes the label most common among its distinct neighbours, ties
    * to the smallest label.
    */
  def labelPropagation(adj: mutable.LongMap[Array[Long]], rounds: Int): mutable.LongMap[Long] = {
    var labels = mutable.LongMap.empty[Long]
    adj.foreachKey(v => labels(v) = v)
    for (_ <- 1 to rounds) {
      val next = mutable.LongMap.empty[Long]
      adj.foreach { case (u, nbrs) =>
        val cnt = mutable.LongMap.empty[Int]
        nbrs.foreach { v => val l = labels(v); cnt(l) = cnt.getOrElse(l, 0) + 1 }
        var best = Long.MaxValue
        var bestC = -1
        cnt.foreach { case (l, c) => if (c > bestC || (c == bestC && l < best)) { best = l; bestC = c } }
        next(u) = best
      }
      labels = next
    }
    labels
  }

  /** Distinct word n-gram shingles, as `Dedup.shingles` defines them:
    * the text split on single spaces, n consecutive tokens joined by a
    * space.
    */
  def shingles(text: String, n: Int): Set[String] = {
    val toks = text.split(" ", -1)
    if (toks.length < n) Set.empty
    else (0 to toks.length - n).iterator.map(i => toks.slice(i, i + n).mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b.contains)
    inter.toDouble / (a.size + b.size - inter)
  }
}
