package perfbench

import java.io.{File, PrintWriter}
import java.nio.charset.StandardCharsets

import scala.collection.mutable
import scala.io.Source

/** The benchmark's JVM entry point. `run.py` launches it; it is not
  * meant to be started by hand.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --cores C --scratch DIR --out FILE [--spans FILE]
  *
  * Writes one JSON object to `--out`: the contract metrics, the
  * workload's named metrics, the per-layer metrics when traced, the
  * input fingerprint and the correctness verdict. Exits 0 only if every
  * call succeeded and every output matched its reference.
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String): String = args.getOrElse(k, sys.error(s"missing --$k"))
    val workload = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val trace = arg("trace") == "1"
    val cores = arg("cores").toInt
    val scratch = new File(arg("scratch"))
    require(Workload.Names.contains(workload),
      s"unknown workload '$workload'; expected one of ${Workload.Names.mkString(", ")}")

    val t0 = System.nanoTime()
    val spark = graft.GraftSession.local(cores, "perfbench")
    val session = (System.nanoTime() - t0) / 1e9
    val result =
      try run(spark, workload, seed, seconds, trace, cores, scratch, args.get("spans").map(new File(_))) +
        ("session_start_s" -> session) + ("jvm_s" -> (System.currentTimeMillis() - jvmStart) / 1000.0)
      finally spark.stop()
    val out = new PrintWriter(new File(arg("out")), StandardCharsets.UTF_8)
    try out.println(Json.write(result)) finally out.close()
    sys.exit(if (result("correct") == true) 0 else 1)
  }

  private def run(spark: org.apache.spark.sql.SparkSession, name: String, seed: Long, seconds: Double,
                  trace: Boolean, cores: Int, scratch: File, spansFile: Option[File]): Map[String, Any] = {
    val checks = new Checks
    val ctx = new Ctx(spark, seed, cores, new File(scratch, "work"), checks)
    ctx.scratch.mkdirs()
    val wl = Workload(name, ctx)
    val setupRec = new Recorder
    val errors = mutable.ArrayBuffer.empty[String]
    var unitIndex = 0

    val setupSeconds = mutable.ArrayBuffer.empty[Double]
    val hashes = mutable.ArrayBuffer.empty[Long]
    val untraced = new Recorder
    // where each untraced unit's spans begin in `untraced.spans`
    val unitStarts = mutable.ArrayBuffer.empty[Int]
    var traced: Option[(Recorder, SparkLayers, Int, Double)] = None
    var items = 0L
    var units = 0
    var warmup = 0.0
    try {
      for (_ <- 0 until wl.setupReps) {
        val t0 = System.nanoTime()
        setupRec.span("setup")(wl.setup(setupRec))
        setupSeconds += (System.nanoTime() - t0) / 1e9
        hashes += wl.inputHash
      }
      // warm-up, not timed: class loading, code generation and JIT
      val w0 = System.nanoTime()
      var warmed = 0
      while (warmed < wl.warmupUnits || warmup < wl.warmupSeconds) {
        warmed += 1
        wl.warmup(unitIndex, new Recorder)
        unitIndex += 1
        warmup = (System.nanoTime() - w0) / 1e9
      }
      def untracedUnit(): Unit = {
        unitStarts += untraced.spans.length
        items += wl.unit(unitIndex, untraced)
        unitIndex += 1
        units += 1
      }
      val planned = math.max(1, math.round(seconds / wl.unitSeconds).toInt)
      if (!trace) {
        while (units < planned) untracedUnit()
      } else {
        // untraced and traced units alternate in the order U T T U, U T
        // T U, ..., so the overhead compares units run at the same point
        // of the run and a drift over the run cancels out; the
        // listeners are attached around each traced unit only
        val layers = new SparkLayers(spark, wl.bucketTableSuffix)
        val sc = spark.sparkContext
        val rec = new Recorder(Some(span => sc.setLocalProperty(SparkLayers.SpanKey, span)))
        var tracedUnits = 0
        var tracedWall = 0.0
        while (units + tracedUnits < math.max(2, planned)) {
          val k = units + tracedUnits
          if (k % 4 == 0 || k % 4 == 3) untracedUnit()
          else {
            layers.begin()
            val u0 = System.nanoTime()
            try wl.unit(unitIndex, rec)
            finally {
              tracedWall += (System.nanoTime() - u0) / 1e9
              layers.end()
            }
            unitIndex += 1
            tracedUnits += 1
          }
        }
        traced = Some((rec, layers, tracedUnits, tracedWall))
      }
      wl.finish()
    } catch {
      case e: Throwable =>
        errors += s"${e.getClass.getName}: ${e.getMessage}".take(2000)
        e.printStackTrace()
    }

    val recs = Seq(setupRec, untraced) ++ traced.map(_._1)
    val attempted = recs.map(_.attempted).sum
    val callFailures = recs.map(_.failed).sum
    // an exception outside any timed call still counts as one failure
    val failed = callFailures + (if (errors.nonEmpty && callFailures == 0) 1 else 0)
    val deterministic = hashes.distinct.length <= 1
    checks.expect(deterministic, s"generator gave different inputs for one seed: ${hashes.distinct.mkString(",")}")
    val correct = errors.isEmpty && failed == 0 && checks.mismatches == 0 && units > 0

    val endToEnd = mutable.LinkedHashMap.empty[String, Metric]
    val named = mutable.LinkedHashMap.empty[String, Metric]
    if (units > 0) {
      val lat = untraced.seconds(wl.latencySpan).map(_ * 1000)
      endToEnd("setup_s") = Metric(Stats.median(setupSeconds.toSeq), "s")
      endToEnd("latency_p50_ms") = Metric(Stats.median(lat), "ms")
      endToEnd("latency_tail_ms") = Metric(Stats.tail(lat)._1, "ms")
      endToEnd("throughput_per_s") = Metric(items / wl.busySeconds(untraced), "1/s")
      wl.named(untraced, items).foreach { case (k, m) => named(k) = m }
      // how much the later half of the timed units differs from the
      // earlier half: near 0 when the warm-up was long enough
      if (units >= 2) {
        val half = unitStarts(units / 2)
        def lat(from: Int, until: Int) =
          untraced.spans.slice(from, until).filter(_.name == wl.latencySpan).map(_.seconds).toSeq
        val (a, b) = (lat(0, half), lat(half, untraced.spans.length))
        if (a.nonEmpty && b.nonEmpty) named("latency_drift") = Metric(Stats.median(b) / Stats.median(a) - 1, "ratio")
      }
    }
    named("setup_s") = Metric(if (setupSeconds.isEmpty) Double.NaN else Stats.median(setupSeconds.toSeq), "s")
    named("fail_ratio") = Metric(if (attempted == 0) 1.0 else failed.toDouble / attempted, "ratio")
    named("result_mismatches") = Metric(checks.mismatches.toDouble, "count")
    named("peak_rss_mb") = Metric(peakRssMb(), "MB")

    val perLayer = traced.map { case (rec, layers, tu, wall) =>
      layerMetrics(wl, rec, layers, tu, wall, cores, setupRec, untraced)
    }
    spansFile.foreach(f => traced.foreach { case (rec, _, _, _) => writeSpans(f, rec, name, seed) })

    scala.collection.immutable.ListMap(
      "workload" -> name,
      "seed" -> seed,
      "correct" -> correct,
      "attempted" -> attempted,
      "failed" -> failed,
      "units" -> units,
      "input_hash" -> f"${hashes.headOption.getOrElse(0L)}%016x",
      "setup_samples_s" -> setupSeconds.toSeq,
      "latency_series_ms" -> untraced.seconds(wl.latencySpan).map(x => math.round(x * 10000) / 10.0),
      "warmup_s" -> warmup,
      "end_to_end" -> endToEnd.map { case (k, m) => k -> Map("value" -> m.value, "unit" -> m.unit) },
      "named" -> named.map { case (k, m) => k -> Map("value" -> m.value, "unit" -> m.unit) },
      "per_layer" -> perLayer.orNull,
      "checks" -> Map("compared" -> checks.compared, "mismatches" -> checks.mismatches,
        "examples" -> checks.examples.toSeq),
      "errors" -> errors.toSeq)
  }

  /** The per-layer metrics every workload reports. A layer the workload
    * does not run reports 0.
    */
  val LayerUnits: Seq[(String, String)] = {
    val spark = Seq("jobs" -> "count", "tasks" -> "count", "task_s" -> "s", "busy_ratio" -> "ratio",
      "shuffle_read_mb" -> "MB", "shuffle_write_mb" -> "MB", "spill_mb" -> "MB", "gc_s" -> "s")
      .map { case (k, u) => s"spark.$k" -> u }
    val ops = for (op <- Seq("pagerank", "cc", "triangles", "lpa", "hyperball");
                   (k, u) <- Seq("call_s" -> "s", "jobs" -> "count", "task_s" -> "s",
                     "shuffle_mb" -> "MB", "busy_ratio" -> "ratio")) yield s"operators.$op.$k" -> u
    val streaming = for (q <- EdgeStream.Queries;
                         (k, u) <- Seq("add_batch_ms" -> "ms", "planning_ms" -> "ms", "wal_commit_ms" -> "ms",
                           "commit_offsets_ms" -> "ms", "state_rows" -> "count", "state_mb" -> "MB",
                           "state_commit_ms" -> "ms", "trigger_growth" -> "ratio")) yield s"streaming.$q.$k" -> u
    val sources = Seq("latest_offset_ms" -> "ms", "get_batch_ms" -> "ms", "backlog_chunks" -> "count",
      "scan_s" -> "s", "files_read" -> "count", "ingest_files" -> "count").map { case (k, u) => s"sources.$k" -> u }
    val functions = Seq("save_s" -> "s", "ingest_call_s" -> "s", "probe_jobs" -> "count", "probe_task_s" -> "s",
      "probe_kp_ratio" -> "ratio", "pairs_per_probe" -> "count", "delete_s" -> "s", "compact_s" -> "s")
      .map { case (k, u) => s"functions.$k" -> u }
    spark ++ ops ++ streaming ++ sources ++ functions :+ ("trace.overhead_ratio" -> "ratio")
  }

  private def layerMetrics(wl: Workload, rec: Recorder, layers: SparkLayers, units: Int, wall: Double,
                           cores: Int, setupRec: Recorder, untraced: Recorder): mutable.LinkedHashMap[String, Map[String, Any]] = {
    val c = layers.snapshot()
    val all = c.values
    val per = math.max(1, units).toDouble
    val m = mutable.LinkedHashMap.empty[String, Double]
    LayerUnits.foreach { case (k, _) => m(k) = 0.0 }
    // engine totals over the traced phase, per unit of work
    val taskS = all.map(_.taskMs).sum / 1000.0
    m("spark.jobs") = all.map(_.jobs).sum / per
    m("spark.tasks") = all.map(_.tasks).sum / per
    m("spark.task_s") = taskS / per
    m("spark.busy_ratio") = taskS / (wall * cores)
    m("spark.shuffle_read_mb") = all.map(_.shuffleReadBytes).sum / 1e6 / per
    m("spark.shuffle_write_mb") = all.map(_.shuffleWriteBytes).sum / 1e6 / per
    m("spark.spill_mb") = all.map(_.spillBytes).sum / 1e6 / per
    m("spark.gc_s") = all.map(_.gcMs).sum / 1000.0 / per
    for (op <- Seq("pagerank", "cc", "triangles", "lpa", "hyperball")) {
      val span = s"operators.$op"
      val calls = rec.seconds(span)
      if (calls.nonEmpty) {
        val oc = c.getOrElse(span, new Counters)
        val n = calls.length.toDouble
        m(s"$span.call_s") = Stats.median(calls)
        m(s"$span.jobs") = oc.jobs / n
        m(s"$span.task_s") = oc.taskMs / 1000.0 / n
        m(s"$span.shuffle_mb") = (oc.shuffleReadBytes + oc.shuffleWriteBytes) / 1e6 / n
        m(s"$span.busy_ratio") = oc.taskMs / 1000.0 / (calls.sum * cores)
      }
    }
    val saves = setupRec.seconds("functions.save")
    if (saves.nonEmpty) m("functions.save_s") = Stats.median(saves)
    wl.layerMetrics(rec, layers, units).foreach { case (k, v) => m(k) = v }
    val base = untraced.seconds(wl.latencySpan)
    val withTrace = rec.seconds(wl.latencySpan)
    if (base.nonEmpty && withTrace.nonEmpty)
      m("trace.overhead_ratio") = Stats.median(withTrace) / Stats.median(base) - 1
    val unitOf = LayerUnits.toMap
    m.map { case (k, v) => k -> Map("value" -> v, "unit" -> unitOf.getOrElse(k, "")) }
  }

  private def writeSpans(f: File, rec: Recorder, workload: String, seed: Long): Unit = {
    val byId = rec.spans.map(s => s.id -> s).toMap
    val out = new PrintWriter(f, StandardCharsets.UTF_8)
    try rec.spans.sortBy(_.startNs).foreach { s =>
      out.println(Json.write(mutable.LinkedHashMap(
        "name" -> s.name, "id" -> s.id, "parent" -> byId.get(s.parent).map(_.name).orNull,
        "parent_id" -> s.parent, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "workload" -> workload, "seed" -> seed)))
    } finally out.close()
  }

  /** Peak resident set of this JVM (Linux `VmHWM`), else the committed heap. */
  private def peakRssMb(): Double = {
    val status = new File("/proc/self/status")
    val hwm =
      if (!status.canRead) None
      else {
        val src = Source.fromFile(status)
        try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
        finally src.close()
      }
    hwm.getOrElse(Runtime.getRuntime.totalMemory / 1e6)
  }
}
