package perfbench

import scala.collection.mutable

/** Seeded input generators. Every value is a pure function of
  * (seed, stream, index), so the same seed gives the same inputs however
  * the work is split, in the benchmark's own code or inside Spark tasks.
  */
object Gen {

  /** SplitMix64 finalizer. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def bits(seed: Long, stream: Long, i: Long): Long = mix(mix(seed * 31 + mix(stream)) ^ i)

  /** Uniform double in [0, 1). */
  def uniform(seed: Long, stream: Long, i: Long): Double =
    (bits(seed, stream, i) >>> 11).toDouble / (1L << 53)

  /** Uniform int in [0, n). */
  def below(seed: Long, stream: Long, i: Long, n: Int): Int =
    java.lang.Math.floorMod(bits(seed, stream, i), n.toLong).toInt

  // R-MAT quadrant probabilities (Chakrabarti et al. 2004): a skewed,
  // community-structured degree distribution, the usual stand-in for
  // web and social edge streams
  private val A = 0.57
  private val AB = A + 0.19
  private val ABC = AB + 0.19

  /** Arc `i` of R-MAT graph `graph` over 2^scale vertices, as a
    * canonical (lo, hi) pair; lo == hi for a self-loop. Vertex ids go
    * through a seeded bijection so hubs are not all low ids.
    */
  def rmatEdge(seed: Long, graph: Long, i: Long, scale: Int): (Long, Long) = {
    var u = 0L
    var v = 0L
    var l = 0
    while (l < scale) {
      val r = uniform(seed, graph, i * 64 + l)
      val (du, dv) = if (r < A) (0, 0) else if (r < AB) (0, 1) else if (r < ABC) (1, 0) else (1, 1)
      u = (u << 1) | du
      v = (v << 1) | dv
      l += 1
    }
    val mask = (1L << scale) - 1
    val salt = mix(seed ^ graph) & mask
    val pu = ((u * 0x9E3779B1L) ^ salt) & mask
    val pv = ((v * 0x9E3779B1L) ^ salt) & mask
    (math.min(pu, pv), math.max(pu, pv))
  }

  /** The first `m` distinct non-loop canonical edges of R-MAT graph
    * `graph`, in generation order (`m` must be well below the number of
    * possible edges at `scale`).
    */
  def distinctEdges(seed: Long, graph: Long, m: Int, scale: Int): Array[(Long, Long)] = {
    val seen = mutable.LongMap.empty[Unit]
    val out = new mutable.ArrayBuffer[(Long, Long)](m)
    var i = 0L
    while (out.length < m) {
      val e = rmatEdge(seed, graph, i, scale)
      if (e._1 != e._2) {
        val key = (e._1 << 32) | e._2
        if (!seen.contains(key)) { seen(key) = (); out += e }
      }
      i += 1
    }
    out.toArray
  }

  /** Order-independent fingerprint of an edge multiset. */
  def edgeHash(edges: Iterator[(Long, Long)]): Long =
    edges.foldLeft(0L) { case (h, (u, v)) => h + mix(mix(u) ^ v) }

  /** A document of `len` tokens drawn uniformly from a `vocab`-word
    * vocabulary. Uniform draws keep 2-gram shingles sparse, so two
    * unrelated documents share almost none.
    */
  def document(seed: Long, docId: Long, len: Int, vocab: Int): Array[String] =
    Array.tabulate(len)(j => "w" + below(seed, 0x646f63L + docId, j, vocab))

  /** A near-duplicate of `tokens`: `edits` positions replaced by fresh
    * words, chosen by `salt`.
    */
  def variant(seed: Long, tokens: Array[String], edits: Int, salt: Long,
              vocab: Int): Array[String] = {
    val out = tokens.clone()
    for (k <- 0 until edits) {
      val pos = below(seed, 0x766172L + salt, 2L * k, out.length)
      out(pos) = "w" + below(seed, 0x766172L + salt, 2L * k + 1, vocab)
    }
    out
  }

  /** Order-independent fingerprint of a set of (id, text) documents. */
  def docHash(docs: Iterator[(Long, String)]): Long =
    docs.foldLeft(0L) { case (h, (id, t)) => h + mix(id ^ t.hashCode.toLong * 0x100000001b3L) }
}
