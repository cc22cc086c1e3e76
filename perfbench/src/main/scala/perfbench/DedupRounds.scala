package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.functions.DedupIndex

/** `dedup_index`: the persisted near-duplicate index's lifecycle. A
  * seeded corpus with planted near-duplicate families is indexed with
  * `DedupIndex.save`. A round is `encode` + `ingestBatch` of new
  * documents (write) and one `probe` of a mixed query batch —
  * near-duplicates of live documents and unrelated ones (read). A unit
  * is a cycle of `RoundsPerCycle` rounds followed by a `delete` of
  * tombstoned documents, a `compact` and a probe of the compacted
  * index. The corpus texts themselves live in a parquet directory the
  * benchmark appends to, as the pipeline upstream of the index would.
  */
final class DedupRounds(val ctx: Ctx) extends Workload {
  import DedupRounds._

  private val corpusDir = new File(ctx.scratch, "corpus").getPath
  private var params = (2, 8, 4)
  // reference state: the live documents' shingle sets and an inverted
  // index over them
  private val live = mutable.LongMap.empty[(String, Set[String])]
  private val postings = mutable.HashMap.empty[String, mutable.Set[Long]]
  private var nextDoc = 0L
  private var nextQuery = 0L
  private var nextBatch = 0L
  private var baseHash = 0L
  private var expectedPairs = 0L
  private var foundPairs = 0L
  private var gatedPairs = 0L
  private var gatedFound = 0L
  private var reportedPairs = 0L
  private var probesChecked = 0L
  private val ingestFiles = mutable.ArrayBuffer.empty[Double]

  override def latencySpan = "functions.probe"
  override def unitSeconds = 15.0
  override def busySeconds(rec: Recorder): Double =
    Seq("functions.ingest", "functions.probe", "functions.delete", "functions.compact",
      "functions.probe_after_compact").map(rec.total).sum
  override def inputHash: Long = baseHash

  private def text(id: Long, salt: Long): String = {
    val len = MinLen + Gen.below(seed, 0x6c656eL, id * 7 + salt, MaxLen - MinLen)
    Gen.document(seed, id * 7 + salt, len, Vocab).mkString(" ")
  }

  private def near(src: String, salt: Long): String = {
    val edits = 1 + Gen.below(seed, 0x656469L, salt, 2)
    Gen.variant(seed, src.split(" "), edits, salt, Vocab).mkString(" ")
  }

  private def addLive(id: Long, t: String): Unit = {
    val sh = Reference.shingles(t, params._1)
    live(id) = (t, sh)
    sh.foreach(s => postings.getOrElseUpdate(s, mutable.HashSet.empty[Long]) += id)
  }

  private def removeLive(id: Long): Unit =
    live.remove(id).foreach { case (_, sh) => sh.foreach(s => postings.get(s).foreach(_ -= id)) }

  private def frame(docs: Seq[(Long, String)]): DataFrame = {
    val session = spark
    import session.implicits._
    docs.toDF("doc_id", "text")
  }

  /** A seeded pick among the live documents `ids` (sorted). */
  private def pickLive(ids: Array[Long], salt: Long): (Long, String) = {
    val id = ids(Gen.below(seed, 0x7069636bL, salt, ids.length))
    (id, live(id)._1)
  }

  /** The base corpus: `BaseSingles` unrelated documents plus
    * `Families` families of one document and `FamilySize - 1`
    * near-duplicates of it (one or two token edits).
    */
  override def setup(rec: Recorder): Unit = {
    live.clear(); postings.clear()
    val docs = mutable.ArrayBuffer.empty[(Long, String)]
    for (i <- 0 until BaseSingles) docs += ((i.toLong, text(i, 0)))
    for (f <- 0 until Families) {
      val root = (BaseSingles + f * FamilySize).toLong
      val t = text(root, 0)
      docs += ((root, t))
      for (k <- 1 until FamilySize) docs += ((root + k, near(t, root * 16 + k)))
    }
    nextDoc = BaseDocs
    baseHash = Gen.docHash(docs.iterator)
    docs.foreach { case (id, t) => addLive(id, t) }
    frame(docs.toSeq).write.mode("overwrite").parquet(corpusDir)
    rec.call("functions.save")(DedupIndex.save(spark.read.parquet(corpusDir), IndexName))
    rec.call("functions.ensure_ingest")(DedupIndex.ensureIngestTable(spark, IndexName))
    params = rec.call("functions.params")(DedupIndex.params(spark, IndexName))
  }

  override def unit(i: Int, rec: Recorder): Long = cycle(rec, RoundsPerCycle)

  /** One round and one maintenance step: every call the cycle makes,
    * once.
    */
  override def warmup(i: Int, rec: Recorder): Unit = cycle(rec, 1)

  /** `rounds` rounds of ingest + probe, then a delete, a compact and a
    * probe of the compacted index, so every unit carries its share of
    * maintenance. The probe right after a compaction reads freshly
    * rewritten files, which made it the slowest of a cycle with larger
    * query batches; it is timed under a name of its own so it does not
    * sit among the round probes.
    */
  private def cycle(rec: Recorder, rounds: Int): Long = {
    for (_ <- 0 until rounds) round(rec, "functions.probe")
    maintain(rec)
    probe(rec, "functions.probe_after_compact")
    rounds.toLong * IngestDocs
  }

  private def round(rec: Recorder, probeSpan: String): Unit = {
    val ids = live.keys.toArray.sorted
    // the documents arriving this round: mostly new, some near-copies of
    // live ones (which later probes can then find)
    val batch = (0 until IngestDocs).map { k =>
      val id = nextDoc + k
      val t = if (k % 3 == 0) near(pickLive(ids, id)._2, id) else text(id, 1)
      (id, t)
    }
    nextDoc += IngestDocs
    // the pipeline upstream of the index lands the documents' text
    frame(batch).write.mode("append").parquet(corpusDir)
    val (n, bands, rowsPerBand) = params
    rec.call("functions.ingest") {
      DedupIndex.ingestBatch(DedupIndex.encode(frame(batch), n, bands, rowsPerBand), IndexName, nextBatch)
    }
    nextBatch += 1
    batch.foreach { case (id, t) => addLive(id, t) }
    probe(rec, probeSpan)
  }

  /** A probe of a mixed query batch: near-duplicates of live documents
    * and unrelated ones.
    */
  private def probe(rec: Recorder, span: String): Unit = {
    val ids = live.keys.toArray.sorted
    val queries = (0 until QueryDocs).map { k =>
      val id = QueryIdBase + nextQuery + k
      val t = if (k % 2 == 0) near(pickLive(ids, id)._2, id) else text(id, 2)
      (id, t)
    }
    nextQuery += QueryDocs
    val corpus = spark.read.parquet(corpusDir)
    val found = rec.call(span) {
      DedupIndex.probe(spark, IndexName, frame(queries), corpus, Threshold).collect()
    }
    verify(queries, found.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))))
  }

  /** Tombstone a few live documents, then fold the ingest side table. */
  private def maintain(rec: Recorder): Unit = {
    val ids = live.keys.toArray.sorted
    val tombstones = (0 until DeleteDocs).map(k => pickLive(ids, QueryIdBase * 2 + nextDoc + k)).distinct
    rec.call("functions.delete")(DedupIndex.delete(spark, IndexName, frame(tombstones)))
    tombstones.foreach { case (id, _) => removeLive(id) }
    ingestFiles += countFiles(new File(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
      s"${IndexName}_buckets_ingest"))
    rec.call("functions.compact")(DedupIndex.compact(spark, IndexName))
  }

  /** Every reported pair must be a live document at the reported exact
    * Jaccard, at or over the threshold; planted pairs must be found at
    * the recall the index's banding promises (checked at the end).
    */
  private def verify(queries: Seq[(Long, String)], found: Array[(Long, Long, Double)]): Unit = {
    val checks = ctx.checks
    val expected = mutable.HashMap.empty[(Long, Long), Double]
    queries.foreach { case (q, t) =>
      val sh = Reference.shingles(t, params._1)
      val cands = sh.iterator.flatMap(s => postings.get(s).iterator.flatten).toSet
      cands.foreach { d =>
        val j = Reference.jaccard(sh, live(d)._2)
        if (j >= Threshold) expected((q, d)) = j
      }
    }
    val seen = mutable.Set.empty[(Long, Long)]
    found.foreach { case (q, d, jac) =>
      checks.expect(seen.add((q, d)), s"dedup: pair ($q,$d) reported twice")
      val exact = live.get(d).map { case (_, sh) =>
        Reference.jaccard(Reference.shingles(queries.find(_._1 == q).map(_._2).getOrElse(""), params._1), sh)
      }
      checks.expect(exact.exists(j => math.abs(j - jac) < 1e-6 && j >= Threshold),
        s"dedup: pair ($q,$d) reported at $jac, exact Jaccard ${exact.getOrElse("n/a (not live)")}")
    }
    expectedPairs += expected.size
    foundPairs += expected.keys.count(seen.contains)
    val gated = expected.filter(_._2 >= RecallGateJaccard).keys
    gatedPairs += gated.size
    gatedFound += gated.count(seen.contains)
    reportedPairs += found.length
    probesChecked += 1
  }

  override def finish(): Unit = {
    val gatedRecall = if (gatedPairs == 0) 1.0 else gatedFound.toDouble / gatedPairs
    ctx.checks.expect(gatedPairs > 0, "dedup: no planted pair was probed")
    ctx.checks.expect(gatedRecall >= MinRecall,
      f"dedup: recall $gatedRecall%.4f of $gatedPairs planted pairs at Jaccard >= $RecallGateJaccard is under $MinRecall")
  }

  def recall: Double = if (expectedPairs == 0) 1.0 else foundPairs.toDouble / expectedPairs

  private def countFiles(d: File): Double =
    if (!d.exists) 0.0
    else if (d.isFile) (if (d.getName.endsWith(".parquet")) 1.0 else 0.0)
    else Option(d.listFiles).map(_.map(countFiles).sum).getOrElse(0.0)

  override def named(rec: Recorder, items: Long): Seq[(String, Metric)] = {
    val probes = rec.seconds("functions.probe").map(_ * 1000)
    val (tail, pct, n) = Stats.tail(probes)
    val compacts = rec.seconds("functions.compact")
    val afterCompact = rec.seconds("functions.probe_after_compact").map(_ * 1000)
    Seq(
      "probe_p50_ms" -> Metric(Stats.median(probes), "ms"),
      "probe_tail_ms" -> Metric(tail, "ms"),
      "probe_tail_pct" -> Metric(pct, "%"),
      "probe_samples" -> Metric(n, "count"),
      "ingest_docs_per_s" -> Metric(items / busySeconds(rec), "1/s"),
      "compact_p50_s" -> Metric(if (compacts.isEmpty) Double.NaN else Stats.median(compacts), "s"),
      "probe_after_compact_p50_ms" -> Metric(if (afterCompact.isEmpty) Double.NaN else Stats.median(afterCompact), "ms"),
      "recall" -> Metric(recall, "ratio"))
  }

  override def bucketTableSuffix: Option[String] = Some(s"${IndexName}_buckets")

  override def layerMetrics(rec: Recorder, layers: SparkLayers, units: Int): Map[String, Double] = {
    val c = layers.snapshot()
    def med(name: String) = { val s = rec.seconds(name); if (s.isEmpty) 0.0 else Stats.median(s) }
    val probe = c.getOrElse("functions.probe", new Counters)
    val probes = math.max(1, rec.seconds("functions.probe").length)
    Map(
      "functions.ingest_call_s" -> med("functions.ingest"),
      "functions.probe_jobs" -> probe.jobs.toDouble / probes,
      "functions.probe_task_s" -> probe.taskMs / 1000.0 / probes,
      "functions.probe_kp_ratio" ->
        (if (probe.bucketScans == 0) 0.0 else probe.bucketPartitionsRead.toDouble / probe.bucketScans / DedupIndex.KP),
      "functions.pairs_per_probe" -> reportedPairs.toDouble / math.max(1L, probesChecked),
      "functions.delete_s" -> med("functions.delete"),
      "functions.compact_s" -> med("functions.compact"),
      "sources.ingest_files" -> (if (ingestFiles.isEmpty) 0.0 else Stats.median(ingestFiles.toSeq)))
  }
}

object DedupRounds {
  val IndexName = "perfbench_dedup"
  val Threshold = 0.8
  /** Recall is gated on pairs at exact Jaccard >= 0.9, where the
    * banding's miss rate is at most (1 - 0.9^4)^8, about 2e-4, so a
    * 0.99 floor fails only on a real recall loss. Pairs nearer the
    * threshold miss by design more often (1.5% at 0.8); they are
    * counted in the reported recall but not gated.
    */
  val RecallGateJaccard = 0.9
  val MinRecall = 0.99
  val Vocab = 50000
  val MinLen = 50
  val MaxLen = 90
  val BaseSingles = 1000
  val Families = 125
  val FamilySize = 4
  val BaseDocs: Long = BaseSingles + Families * FamilySize
  val IngestDocs = 20
  val QueryDocs = 10
  val DeleteDocs = 4
  val RoundsPerCycle = 3
  val QueryIdBase = 1000000000L
}
