package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.GraphStream
import graft.operators.{Communities, ConnectedComponents, HyperBall, PageRank, Triangles}
import graft.sources.Sources

/** The batch-operator suite over snapshots of a timestamped edge stream
  * written once to parquet. One unit takes one tumbling window with
  * `GraphStream(Sources.parquetEdges(..)).snapshot(..)` and runs it
  * through PageRank (fed both arc directions), connected components,
  * label propagation, HyperBall and — on small windows — the global
  * triangle count.
  *
  * `rounds = false` is `graph_snapshots`: many small windows, every one
  * under each operator's one-task bar, so scheduling and the one-task
  * twins do the work. `rounds = true` is `graph_rounds`: a couple of
  * windows sized above every bar (more than 2.5M distinct undirected
  * edges, so PageRank sees more than 4M arcs), so the distributed
  * rounds do the work. The leg follows from input size alone; no
  * leg-forcing parameter is passed.
  */
final class GraphSuite(val ctx: Ctx, rounds: Boolean) extends Workload {
  import GraphSuite._

  private val windows = if (rounds) RoundsWindows else SnapshotWindows
  private val scale = if (rounds) RoundsScale else SnapshotScale
  private val path = new File(ctx.scratch, "edges.parquet").getPath
  private var edgesByWindow: Map[Int, Array[(Long, Long)]] = Map.empty

  // one large window takes most of a minute to write; write it once
  override def setupReps: Int = if (rounds) 1 else 3
  // small windows: warm-up snapshots on windows of their own until
  // per-snapshot times level off. A pass over a large window takes
  // minutes and is not dominated by warm-up; its first pass is timed.
  override def warmupUnits: Int = if (rounds) 0 else SnapshotWarmupUnits
  override def warmupSeconds: Double = if (rounds) 0.0 else SnapshotWarmupSeconds
  override def latencySpan = "snapshot"
  override def unitSeconds: Double = if (rounds) 180.0 else 2.0
  override def busySeconds(rec: Recorder): Double = rec.total("snapshot")
  override def inputHash: Long =
    edgesByWindow.toSeq.sortBy(_._1).map { case (w, e) => Gen.mix(w) ^ Gen.edgeHash(e.iterator) }.sum

  override def setup(rec: Recorder): Unit = {
    val df = if (rounds) generateLarge() else generateSmall()
    rec.call("sources.write_parquet")(Sources.writeParquet(df, path))
    // the benchmark keeps its own copy of each window's edges for the
    // reference computations
    edgesByWindow = Sources.parquetEdges(spark, path)
      .select(col("src"), col("dst"), (unix_timestamp(col("ts")) / WindowSeconds).cast("int"))
      .collect().groupBy(_.getInt(2))
      .map { case (w, rows) => w -> rows.map(r => (r.getLong(0), r.getLong(1))) }
  }

  /** Small windows, generated in the benchmark's JVM: window w is R-MAT graph w,
    * its first `SnapshotEdges` distinct undirected edges, spread over
    * the window's hour.
    */
  private def generateSmall(): DataFrame = {
    val session = spark
    import session.implicits._
    val rows = (0 until windows).flatMap { w =>
      Gen.distinctEdges(seed, 100 + w, SnapshotEdges, scale).zipWithIndex.map { case ((u, v), j) =>
        (u, v, 1.0, w.toLong * WindowSeconds + j.toLong * WindowSeconds / SnapshotEdges)
      }
    }
    rows.toDF("src", "dst", "value", "epoch")
      .select(col("src"), col("dst"), col("value"), timestamp_seconds(col("epoch")).as("ts"))
  }

  /** Large windows, generated inside Spark tasks from the same pure
    * edge function: draws are deduplicated per window, so each window
    * holds distinct undirected edges only.
    */
  private def generateLarge(): DataFrame = {
    val s = seed
    val sc = scale
    val draws = RoundsDraws
    val tsOf = udf((w: Long, u: Long, v: Long) => w * WindowSeconds + Math.floorMod(Gen.mix(u ^ (v << 1)), WindowSeconds))
    val edge = udf((w: Long, i: Long) => { val e = Gen.rmatEdge(s, 100 + w, i, sc); Array(e._1, e._2) })
    spark.range(0, windows.toLong * draws, 1, ctx.cores * 8)
      .select((col("id") / draws).cast("long").as("w"), (col("id") % draws).as("i"))
      .select(col("w"), edge(col("w"), col("i")).as("e"))
      .select(col("w"), col("e")(0).as("src"), col("e")(1).as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
      .select(col("src"), col("dst"), lit(1.0).as("value"),
        timestamp_seconds(tsOf(col("w"), col("src"), col("dst"))).as("ts"))
  }

  /** Unit `i` takes window `i`, so every snapshot of a run, warm-up
    * included, reads a window no earlier one read — as on a stream of
    * tumbling windows, where each window's time predicate is new to
    * Spark's code generation. Only a run longer than the file wraps
    * around to windows already taken.
    */
  override def unit(i: Int, rec: Recorder): Long = {
    val w = i % windows
    val out = rec.span("snapshot") {
      val snap = rec.call("graphstream.snapshot") {
        GraphStream(Sources.parquetEdges(spark, path)).snapshot(s"$WindowSeconds seconds", w.toLong * WindowSeconds)
      }
      val e = snap.getEdges.select(col("src"), col("dst"))
      val pr = rec.call("operators.pagerank")(PageRank.fixedPoint(snap.undirected.getEdges).collect())
      val cc = rec.call("operators.cc")(ConnectedComponents.auto(e).collect())
      val tri = if (rounds) None else Some(rec.call("operators.triangles")(Triangles.globalCount(e).collect()))
      val lpa = rec.call("operators.lpa")(Communities.labelPropagation(e).collect())
      val hb = rec.call("operators.hyperball")(HyperBall.ballSizes(e).collect())
      (pr, cc, tri, lpa, hb)
    }
    verify(w, out)
    edgesByWindow(w).length.toLong
  }

  private def verify(w: Int, out: (Array[Row], Array[Row], Option[Array[Row]], Array[Row], Array[Row])): Unit = {
    val (pr, cc, tri, lpa, hb) = out
    val checks = ctx.checks
    val ref = {
      val edges = edgesByWindow(w)
      val adj = Reference.adjacency(edges.iterator)
      val arcs = edges.flatMap { case (u, v) => Seq((u, v), (v, u)) }
      Refs(Reference.pageRank(arcs, PageRankIters), Reference.components(edges.iterator),
        Reference.labelPropagation(adj, LpaRounds), Reference.triangleCount(adj), adj.size)
    }
    def compare(what: String, got: Array[Row], ref: collection.Map[Long, Long]): Unit = {
      val m = got.iterator.map(r => r.getLong(0) -> r.getLong(1)).toMap
      checks.expect(m.size == got.length, s"$what window $w: duplicate ids")
      checks.expect(m.size == ref.size, s"$what window $w: ${m.size} ids, reference ${ref.size}")
      val bad = ref.count { case (v, x) => !m.get(v).contains(x) }
      checks.expect(bad == 0, s"$what window $w: $bad of ${ref.size} values differ from the reference")
    }
    compare("pagerank", pr, ref.pageRank)
    compare("cc", cc, ref.components)
    compare("lpa", lpa, ref.labels)
    tri.foreach { t =>
      checks.expect(t.length == 1 && t(0).getLong(0) == ref.triangles,
        s"triangles window $w: ${t.map(_.getLong(0)).mkString(",")}, reference ${ref.triangles}")
    }
    // HyperBall is an estimate: check its documented shape — radii 1..k
    // for every vertex, estimates positive and nondecreasing in radius
    val byId = hb.groupBy(_.getLong(0))
    checks.expect(byId.size == ref.vertices, s"hyperball window $w: ${byId.size} ids, graph has ${ref.vertices}")
    val badShape = byId.count { case (_, rs) =>
      val est = rs.sortBy(_.getLong(1)).map(_.getLong(2))
      rs.map(_.getLong(1)).sorted.toSeq != (1L to HyperBallK) || est.head < 1 ||
        est.sliding(2).exists(p => p.length == 2 && p(1) < p(0))
    }
    checks.expect(badShape == 0, s"hyperball window $w: $badShape vertices with a malformed ball sequence")
  }

  override def named(rec: Recorder, items: Long): Seq[(String, Metric)] = {
    val snaps = rec.seconds("snapshot")
    val (tail, pct, n) = Stats.tail(snaps)
    Seq(
      "edges_per_s" -> Metric(items / busySeconds(rec), "1/s"),
      "snapshot_p50_s" -> Metric(Stats.median(snaps), "s"),
      "snapshot_tail_s" -> Metric(tail, "s"),
      "snapshot_tail_pct" -> Metric(pct, "%"),
      "snapshot_samples" -> Metric(n, "count"))
  }

  override def layerMetrics(rec: Recorder, layers: SparkLayers, units: Int): Map[String, Double] = {
    val c = layers.snapshot()
    val all = c.values
    Map(
      "sources.scan_s" -> all.map(_.scanMs).sum / 1000.0 / units,
      "sources.files_read" -> all.map(_.filesRead).sum.toDouble / units)
  }
}

object GraphSuite {
  final case class Refs(pageRank: collection.Map[Long, Long], components: collection.Map[Long, Long],
                        labels: collection.Map[Long, Long], triangles: Long, vertices: Int)

  val WindowSeconds = 3600L
  val PageRankIters = 10
  val LpaRounds = 3
  val HyperBallK = 3

  // graph_snapshots: small windows, far under every one-task bar, enough
  // of them that the warm-up and a run several times the benchmark's 10 s
  // never take one window twice
  val SnapshotWindows = 48
  val SnapshotEdges = 1500
  val SnapshotScale = 11
  val SnapshotWarmupUnits = 3
  val SnapshotWarmupSeconds = 10.0

  // graph_rounds: windows above every bar (CC 1M edges; PageRank, LPA
  // and HyperBall 4M symmetric arcs)
  val RoundsWindows = 1
  val RoundsScale = 21
  val RoundsDraws = 3600000L
}
