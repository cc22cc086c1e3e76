package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.GraphStream
import graft.sources.{ChunkedEdgeBus, EdgeBusSource}
import graft.streaming.StreamingOps

/** `edge_stream`: a seeded, skewed, insert-only edge stream appended
  * chunk by chunk to the in-process log bus, consumed by three running
  * queries — running connected components, streaming triangle
  * emissions and windowed degrees over `GraphStream.slice`.
  *
  * Closed loop, one client: each query reads its own topic, and a chunk
  * is appended to a query's topic only after the previous query's
  * `processAllAvailable` returned, so the three run one after another
  * and never compete. One unit is one epoch: the whole stream from
  * empty state through fresh queries and checkpoints, so every unit
  * carries the same state growth.
  */
final class EdgeStream(val ctx: Ctx) extends Workload {
  import EdgeStream._

  private var chunks: Array[Array[ChunkedEdgeBus.EdgeRec]] = Array.empty
  private lazy val allEdges = chunks.iterator.flatMap(_.iterator).map(r => (r._1, r._2)).toArray
  private lazy val refComponents = Reference.components(allEdges.iterator)
  private lazy val refTriangles = Reference.trianglesPerVertex(Reference.adjacency(allEdges.iterator))
  private lazy val refDegrees: Map[(Long, Long), Long] = {
    val m = mutable.HashMap.empty[(Long, Long), Long]
    for (c <- chunks; (s, d, _, ts) <- c; v <- Seq(s, d)) {
      val key = (windowStart(ts), v)
      m(key) = m.getOrElse(key, 0L) + 1
    }
    m.toMap
  }

  private def windowStart(tsMicros: Long): Long =
    Math.floorDiv(tsMicros / 1000000L, WindowSeconds) * WindowSeconds

  override def latencySpan = "trigger"
  override def unitSeconds = 13.0
  override def busySeconds(rec: Recorder): Double = rec.total("epoch")
  override def inputHash: Long = Gen.edgeHash(chunks.iterator.flatMap(_.iterator).map(r => (r._1, r._2)))

  /** Generates the stream, then starts and stops the three queries once
    * — starting a query (analysis, checkpoint layout, state-store
    * providers) is set-up a deployment pays before its first trigger.
    */
  override def setup(rec: Recorder): Unit = {
    chunks = generate(seed)
    val q = start(rec, tag = "setup")
    q.stop()
  }

  /** The seeded stream: R-MAT edges (loops skipped, duplicates kept —
    * it is a stream), each oriented by a seeded coin, with event time
    * rising through the stream.
    */
  private def generate(seed: Long): Array[Array[ChunkedEdgeBus.EdgeRec]] = {
    var i = 0L
    Array.tabulate(Chunks) { c =>
      val out = new mutable.ArrayBuffer[ChunkedEdgeBus.EdgeRec](ChunkEdges)
      while (out.length < ChunkEdges) {
        val (lo, hi) = Gen.rmatEdge(seed, 1, i, Scale)
        if (lo != hi) {
          val flip = Gen.bits(seed, 2, i) < 0
          val tsSec = c.toLong * ChunkSeconds + out.length.toLong * ChunkSeconds / ChunkEdges
          out += ((if (flip) hi else lo, if (flip) lo else hi, 1.0, tsSec * 1000000L))
        }
        i += 1
      }
      out.toArray
    }
  }

  /** The three running queries of one epoch and their sinks' state. */
  private final class Epoch(tag: String) {
    val topics: Map[String, String] = Queries.map(q => q -> s"perfbench-$seed-$tag-$q").toMap
    val ckpt = new File(ctx.scratch, s"checkpoints-$tag")
    val components = mutable.LongMap.empty[Long]
    val w6 = mutable.LongMap.empty[Long]
    val degrees = mutable.HashMap.empty[(Long, Long), Long]
    var duplicateWindows = 0L
    var queries: Seq[(String, StreamingQuery)] = Nil

    def stop(): Unit = {
      queries.foreach(_._2.stop())
      topics.values.foreach(ChunkedEdgeBus.drop)
      deleteTree(ckpt)
    }
  }

  private def start(rec: Recorder, tag: String): Epoch = {
    val ep = new Epoch(tag)
    def source(q: String): DataFrame = EdgeBusSource(ep.topics(q)).load(spark)
    def writer(q: String, body: => StreamingQuery): (String, StreamingQuery) = {
      // jobs of the query's micro-batch thread inherit this property, so
      // the traced run attributes them to the query
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(SparkLayers.SpanKey)
      sc.setLocalProperty(SparkLayers.SpanKey, s"streaming.$q")
      try q -> rec.call(s"streaming.$q.start")(body)
      finally sc.setLocalProperty(SparkLayers.SpanKey, prev)
    }
    val cc = writer("cc", StreamingOps.runningConnectedComponents(source("cc"))
      .writeStream.queryName("cc").outputMode("update")
      .option("checkpointLocation", new File(ep.ckpt, "cc").getPath)
      .foreachBatch { (b: Dataset[(Long, Long)], _: Long) =>
        b.collect().foreach { case (v, c) => ep.components(v) = c }
      }.start())
    val tri = writer("triangles", StreamingOps.streamingTriangleEmissions(source("triangles"))
      .writeStream.queryName("triangles").outputMode("append")
      .option("checkpointLocation", new File(ep.ckpt, "triangles").getPath)
      .foreachBatch { (em: DataFrame, _: Long) =>
        addTriangleDeltas(em.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getInt(2),
            r.getSeq[Long](3).toArray, r.getSeq[Long](4).toArray)), ep.w6)
      }.start())
    val win = writer("window_degrees",
      StreamingOps.windowedDegrees(GraphStream(source("window_degrees")), s"$WindowSeconds seconds")
        .writeStream.queryName("window_degrees").outputMode("append")
        .option("checkpointLocation", new File(ep.ckpt, "window_degrees").getPath)
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.collect().foreach { r =>
            val key = (r.getLong(0), r.getLong(1))
            if (ep.degrees.contains(key)) ep.duplicateWindows += 1
            ep.degrees(key) = r.getLong(2)
          }
        }.start())
    ep.queries = Seq(cc, tri, win)
    ep
  }

  override def unit(i: Int, rec: Recorder): Long = {
    val ep = epoch(i, rec, chunks.length)
    verify(ep)
    chunks.map(_.length.toLong).sum
  }

  /** The first half of an epoch: every code path of the three queries
    * without paying for a whole epoch.
    */
  override def warmup(i: Int, rec: Recorder): Unit = epoch(i, rec, Chunks / 2)

  private def epoch(i: Int, rec: Recorder, nChunks: Int): Epoch = {
    val ep = start(rec, tag = s"u$i")
    try {
      rec.span("epoch") {
        chunks.take(nChunks).foreach { chunk =>
          rec.span("round")(ep.queries.foreach { case (q, query) =>
            rec.span("trigger") {
              rec.call(s"streaming.$q") {
                ChunkedEdgeBus.append(ep.topics(q), chunk.toSeq)
                query.processAllAvailable()
              }
            }
          })
        }
      }
    } finally ep.stop()
    ep
  }

  private def verify(ep: Epoch): Unit = {
    val checks = ctx.checks
    checks.expect(ep.components.size == refComponents.size,
      s"cc: ${ep.components.size} vertices labelled, reference has ${refComponents.size}")
    refComponents.foreach { case (v, c) =>
      checks.expect(ep.components.get(v).contains(c), s"cc: vertex $v labelled ${ep.components.get(v)}, reference $c")
    }
    val tri = mutable.LongMap.empty[Long]
    ep.w6.foreach { case (v, w) =>
      checks.expect(w % 6 == 0, s"triangles: vertex $v has a fractional count $w/6")
      if (w != 0) tri(v) = w / 6
    }
    checks.expect(tri == refTriangles.filter(_._2 != 0),
      s"triangles: per-vertex counts differ from sorted-adjacency reference " +
        s"(${tri.valuesIterator.sum / 3} vs ${refTriangles.valuesIterator.sum / 3} triangles)")
    checks.expect(ep.duplicateWindows == 0, s"window_degrees: ${ep.duplicateWindows} rows emitted twice")
    ep.degrees.foreach { case (k, d) =>
      checks.expect(refDegrees.get(k).contains(d), s"window_degrees: $k = $d, reference ${refDegrees.get(k)}")
    }
    // windows that closed at least one full window before the stream's
    // end must have been emitted, whatever trigger emitted them
    val lastStart = windowStart(chunks.last.last._4)
    refDegrees.foreach { case (k @ (w, _), d) =>
      if (w + WindowSeconds < lastStart)
        checks.expect(ep.degrees.get(k).contains(d), s"window_degrees: closed window row $k missing")
    }
  }

  override def named(rec: Recorder, items: Long): Seq[(String, Metric)] = {
    val trig = rec.seconds("trigger").map(_ * 1000)
    val (tail, pct, n) = Stats.tail(trig)
    Seq(
      "edges_per_s" -> Metric(items / busySeconds(rec), "1/s"),
      "trigger_p50_ms" -> Metric(Stats.median(trig), "ms"),
      "trigger_tail_ms" -> Metric(tail, "ms"),
      "trigger_tail_pct" -> Metric(pct, "%"),
      "trigger_samples" -> Metric(n, "count"),
      "round_p50_ms" -> Metric(Stats.median(rec.seconds("round").map(_ * 1000)), "ms"))
  }

  override def layerMetrics(rec: Recorder, layers: SparkLayers, units: Int): Map[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    def dur(k: String)(p: StreamingQueryProgress): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    Queries.foreach { q =>
      val ps = layers.progressOf(q)
      def med(f: StreamingQueryProgress => Double) = if (ps.isEmpty) 0.0 else Stats.median(ps.map(f))
      out(s"streaming.$q.add_batch_ms") = med(dur("addBatch"))
      out(s"streaming.$q.planning_ms") = med(dur("queryPlanning"))
      out(s"streaming.$q.wal_commit_ms") = med(dur("walCommit"))
      out(s"streaming.$q.commit_offsets_ms") = med(dur("commitOffsets"))
      out(s"streaming.$q.state_commit_ms") = med(_.stateOperators.map(_.commitTimeMs.toDouble).sum)
      // state at the end of an epoch: the largest a trigger held
      out(s"streaming.$q.state_rows") =
        if (ps.isEmpty) 0.0 else ps.map(_.stateOperators.map(_.numRowsTotal.toDouble).sum).max
      out(s"streaming.$q.state_mb") =
        if (ps.isEmpty) 0.0 else ps.map(_.stateOperators.map(_.memoryUsedBytes.toDouble).sum).max / 1e6
      // median of the last-decile triggers over the first-decile ones,
      // by position in the epoch
      val byChunk = rec.spans.filter(_.name == s"streaming.$q").map(_.seconds).grouped(Chunks).toSeq
        .filter(_.length == Chunks)
      val decile = math.max(1, Chunks / 10)
      out(s"streaming.$q.trigger_growth") =
        if (byChunk.isEmpty) 0.0
        else Stats.median(byChunk.flatMap(_.takeRight(decile))) / Stats.median(byChunk.flatMap(_.take(decile)))
    }
    val all = Queries.flatMap(layers.progressOf)
    def medAll(k: String) = if (all.isEmpty) 0.0 else Stats.median(all.map(dur(k)))
    out("sources.latest_offset_ms") = medAll("latestOffset")
    out("sources.get_batch_ms") = medAll("getBatch")
    val backlog = all.filter(_.numInputRows > 0).flatMap(_.sources.headOption).map { s =>
      ChunkOffsetJson.chunk(s.endOffset) - ChunkOffsetJson.chunk(s.startOffset)
    }
    out("sources.backlog_chunks") = if (backlog.isEmpty) 0.0 else backlog.sum.toDouble / backlog.length
    out.toMap
  }

  /** Exact per-vertex triangle deltas from one trigger's emissions, the
    * decomposition `streamingTriangleEmissions` documents: the two
    * sides of each new edge meet on their common neighbours, and a
    * triangle found through k new edges deposits 6/k units on each
    * corner, so every triangle leaves exactly 6 per corner.
    */
  private def addTriangleDeltas(rows: Array[(Long, Long, Int, Array[Long], Array[Long])],
                                w6: mutable.LongMap[Long]): Unit =
    rows.groupBy(r => (r._1, r._2)).foreach { case ((a, b), sides) =>
      val s0 = sides.find(_._3 == 0)
      val s1 = sides.find(_._3 == 1)
      ctx.checks.expect(sides.length == 2 && s0.isDefined && s1.isDefined,
        s"triangles: edge ($a,$b) emitted ${sides.length} times")
      for (x <- s0; y <- s1) {
        val n0 = x._5.toSet
        val n1 = y._5.toSet
        val common = (x._4 ++ x._5).toSet intersect (y._4 ++ y._5).toSet
        common.foreach { w =>
          val units = 6L / (1 + (if (n0(w)) 1 else 0) + (if (n1(w)) 1 else 0))
          Seq(a, b, w).foreach(v => w6(v) = w6.getOrElse(v, 0L) + units)
        }
      }
    }
}

object EdgeStream {
  val Queries = Seq("cc", "triangles", "window_degrees")
  val Scale = 13
  // 30 triggers an epoch: enough that the tail (ten samples above it)
  // sits among the slower window-degree triggers, not at the top of the
  // faster ones
  val Chunks = 10
  val ChunkEdges = 200
  val ChunkSeconds = 60L
  /** Tumbling window of the degrees query: four chunks of event time. */
  val WindowSeconds: Long = 4 * ChunkSeconds

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** The log bus offset JSON is `{"chunk":N}`. */
object ChunkOffsetJson {
  def chunk(json: String): Long = Option(json).map(_.filter(_.isDigit)).filter(_.nonEmpty).map(_.toLong).getOrElse(0L)
}
