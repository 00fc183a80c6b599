package perfbench

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.api.SparkSearchEngine
import graft.build.{IndexBuilder, StageMetric, Tables}
import graft.model.Turn
import graft.oracle.RefOracle
import graft.ops.{Dedup, Pipeline}
import graft.store.ParquetTableIO
import scala.collection.mutable

/** The index operator and the data curator. The curator's corpus is
  * conversations [0, curateConvs) plus planted near-duplicates; the
  * operator indexes its first `indexConvs` and later ingests the next
  * `batchConvs`. A timed cycle: full `IndexBuilder.build`;
  * `buildIncremental` of the new conversations; `deleteDocs`; `compact()`.
  * After each of the three writes, a few brand-new
  * `SparkSearchEngine`s each answer one bare-term probe (the first query
  * on a freshly opened engine). Then `searchManyAuto` over distinct filter
  * queries at accuracy > 0 on the maintained index,
  * `Pipeline.hygieneCorpusManaged` over the indexed turns, and
  * `Dedup.minHashLsh` twice: over the indexed conversations (below its
  * 200k banding-row driver gate) and over the whole corpus (above it, the
  * distributed side). */
object IngestAndCurate {
  final case class Size(indexConvs: Long, batchConvs: Long, curateConvs: Long,
      dupConvs: Long, deletes: Int, probes: Int, bulkBatches: Int, bulkSize: Int,
      setups: Int)
  def size(tiny: Boolean): Size =
    if (tiny) Size(indexConvs = 60, batchConvs = 4, curateConvs = 150, dupConvs = 10,
      deletes = 8, probes = 2, bulkBatches = 1, bulkSize = 4, setups = 2)
    else Size(indexConvs = 1000, batchConvs = 20, curateConvs = 3000, dupConvs = 100,
      deletes = 100, probes = 3, bulkBatches = 1, bulkSize = 6, setups = 3)

  /** A planted near-duplicate: the first turn of an early conversation with
    * one word appended, as the first turn of a conversation past the
    * corpus. Only turns of >= 20 words are copied, so the copy's 3-shingle
    * Jaccard similarity to its source is >= 0.95. */
  def nearDup(t: Turn, curateConvs: Long): Option[Turn] =
    if (t.turn_idx != 0 || t.text.split(" ").length < 20) None
    else Some(t.copy(
      conv_id = f"conv-${curateConvs + t.conv_id.stripPrefix("conv-").toLong}%08d",
      text = t.text + " duplicate"))

  val Accuracy = 0.3
  val Bands = 16 // Dedup.minHashLsh default; banding rows = bands x docs
  val BandRowGate = 200000

  private def e9(s: Double): Long = math.round(s * 1e9)

  def run(spark: SparkSession, a: Args, tr: Tracer, listener: Option[JobListener]): Result = {
    import spark.implicits._
    val r = new Result
    val sz = size(a.tiny)
    val sc = spark.sparkContext
    val rnd = new scala.util.Random(a.seed)
    val base = new File(s"${a.root}/ingest")

    // ---- set-up, several times: curator's corpus, indexed part, batch ---
    var dir: File = null
    def convId(c: Long) = f"conv-$c%08d"
    val setupS = (0 until sz.setups).map { i =>
      if (dir != null) Files.deleteTree(dir)
      dir = new File(base, s"setup$i")
      Stats.timeS {
        val all = new File(dir, "curation").getPath
        Inputs.writeCorpus(spark, sz.curateConvs, a.seed, all)
        val turns = spark.read.parquet(all)
        turns.filter(col("conv_id") < convId(sz.indexConvs))
          .write.parquet(new File(dir, "corpus").getPath)
        turns.filter(col("conv_id") >= convId(sz.indexConvs) &&
          col("conv_id") < convId(sz.indexConvs + sz.batchConvs))
          .write.parquet(new File(dir, "batch").getPath)
        val cc = sz.curateConvs
        turns.filter(col("conv_id") < convId(sz.dupConvs)).as[Turn]
          .flatMap(t => nearDup(t, cc).toSeq)
          .write.parquet(new File(dir, "dups").getPath)
      }._2
    }
    val curationPath = new File(dir, "curation").getPath
    val corpusPath = new File(dir, "corpus").getPath
    val batchPath = new File(dir, "batch").getPath
    val dupsPath = new File(dir, "dups").getPath
    val planted = spark.read.parquet(dupsPath).as[Turn].collect()
      .map(d => (Inputs.docId(d) - sz.curateConvs * 8, Inputs.docId(d))).toSet
    val corpus = spark.read.parquet(corpusPath).as[Turn].collect().toSeq
      .sortBy(t => (t.conv_id, t.turn_idx))
    val batch = spark.read.parquet(batchPath).as[Turn].collect().toSeq
    val textBytes = Inputs.utf8Bytes(corpus)
    // base docIds are dense ranks under (conv_id, turn_idx)
    val deleted = rnd.shuffle(corpus.indices.toVector).take(sz.deletes).map(_.toLong).sorted
    // fresh-engine probes are bare terms (the WAND route), head words and
    // long-tail tokens in turn: their latency is the reopen cost, not the
    // query mix
    val probePool = (0 until 64).map(i =>
      if (i % 2 == 0) Inputs.bareWords(rnd.nextInt(Inputs.bareWords.size))
      else Inputs.longTail(rnd))
    val bulkPool = Inputs.pool(sz.bulkBatches * sz.bulkSize, rnd,
      Seq("boolean", "mixed", "multi", "phrase")).map(_._1)

    def docs: DataFrame = spark.read.parquet(curationPath, dupsPath).as[Turn]
      .map(t => (Inputs.docId(t), t.text)).toDF("doc_id", "text")

    def gatedDocs: DataFrame = docs.filter(col("doc_id") < sz.indexConvs * 8)
    def indexedDocs: DataFrame = docs.filter(col("doc_id") < (sz.indexConvs + sz.batchConvs) * 8)
    val nGated = gatedDocs.count()
    val nIndexed = indexedDocs.count()
    val nFull = docs.count()

    // ---- timed cycles ------------------------------------------------
    listener.foreach(sc.addSparkListener)
    val fresh = mutable.ArrayBuffer.empty[Double]
    val freshTraced = mutable.ArrayBuffer.empty[Double]
    val freshUntraced = mutable.ArrayBuffer.empty[Double]
    val finalAnswers = mutable.ArrayBuffer.empty[(String, Vector[(Long, Double)])]
    var probeIdx = 0
    var stages: Seq[StageMetric] = Nil
    var storeBytes = Map.empty[String, Long]
    var storeFiles = Map.empty[String, Long]
    val buildS, incS, delS, compS, bulkS, hygS, ndGatedS, ndFullS, cycleS =
      mutable.ArrayBuffer.empty[Double]
    var bulkRows: Array[(String, Long, String, Int, Double)] = Array.empty
    var keepers: Array[Long] = Array.empty
    var pairsGated: Array[(Long, Long, Double)] = Array.empty
    var pairsFull: Array[(Long, Long, Double)] = Array.empty
    var wh: String = null
    val t0 = System.nanoTime()
    val deadline = t0 + a.seconds * 1000000000L
    var cycle = 0
    def timedOp[T](kind: String, name: String, sink: mutable.ArrayBuffer[Double])(body: => T): T = {
      val (v, s) = Stats.timeS(tr.op(kind, name)(body)); sink += s; r.attempted += 1; v
    }
    // answers after the delete and the compact are checked (the oracle's
    // survivors); after the incremental the deletes are still to come
    def probes(io: ParquetTableIO, check: Boolean): Unit = (0 until sz.probes).foreach { _ =>
      val q = probePool(probeIdx % probePool.size); probeIdx += 1
      val traced = tr.enabled && probeIdx % 2 == 0
      if (tr.enabled && !traced) listener.foreach { l =>
        org.apache.spark.PerfbenchBus.drain(sc); sc.removeSparkListener(l) }
      val t1 = System.nanoTime()
      val ans =
        if (traced) tr.op("fresh_search", "api.fresh_search") {
          val e = tr.span("api.engine_open")(new SparkSearchEngine(spark, io))
          Layers.routedTopK(e, q, 0.0, e.params.topK, tr)
        } else new SparkSearchEngine(spark, io).topKAuto(q, 0.0, 100)
      val ms = (System.nanoTime() - t1) / 1e6
      if (tr.enabled && !traced) listener.foreach(sc.addSparkListener)
      fresh += ms; r.attempted += 1
      if (tr.enabled) (if (traced) freshTraced else freshUntraced) += ms
      if (check) finalAnswers += q -> ans
    }
    do {
      val c0 = System.nanoTime()
      if (wh != null) Files.deleteTree(new File(wh))
      wh = new File(base, s"warehouse$cycle").getPath
      val io = new ParquetTableIO(spark, wh)
      val builder = new IndexBuilder(spark, io)
      finalAnswers.clear()
      stages = timedOp("build", "build.full", buildS)(builder.build(spark.read.parquet(corpusPath).as[Turn]))
      storeBytes = Layers.StoreBytesTables.map(t => t -> Files.tableSize(new File(wh, t))._2).toMap
      timedOp("incremental", "build.incremental", incS)(builder.buildIncremental(spark.read.parquet(batchPath).as[Turn], 0L))
      probes(io, check = false)
      timedOp("delete", "build.delete", delS)(builder.deleteDocs(deleted, 0L))
      storeFiles = Layers.StoreFilesTables.map(t => t -> Files.tableSize(new File(wh, t))._1).toMap
      probes(io, check = true)
      timedOp("compact", "build.compact", compS)(builder.compact())
      probes(io, check = true)
      val engine = new SparkSearchEngine(spark, io)
      bulkRows = (0 until sz.bulkBatches).flatMap { b =>
        val qs = bulkPool.slice(b * sz.bulkSize, (b + 1) * sz.bulkSize)
        timedOp("bulk", "api.searchManyAuto", bulkS)(engine.searchManyAuto(qs, engine.params.topK, Accuracy)
          .as[(String, Long, String, Int, Double)].collect())
      }.toArray
      keepers = timedOp("hygiene", "ops.hygiene", hygS) {
        val d = indexedDocs
        Pipeline.hygieneCorpusManaged(spark, d.filter(col("doc_id") % 50 =!= 7),
          d.filter(col("doc_id") % 50 === 7))(_.select("doc_id").as[Long].collect())
      }
      pairsGated = timedOp("neardup", "ops.neardup_gated", ndGatedS)(
        Dedup.minHashLsh(spark, gatedDocs).as[(Long, Long, Double)].collect())
      pairsFull = timedOp("neardup", "ops.neardup_full", ndFullS)(
        Dedup.minHashLsh(spark, docs).as[(Long, Long, Double)].collect())
      cycleS += (System.nanoTime() - c0) / 1e9
      cycle += 1
    } while (System.nanoTime() < deadline)
    listener.foreach { l => org.apache.spark.PerfbenchBus.drain(sc); sc.removeSparkListener(l) }

    // ---- metrics -------------------------------------------------------
    val nBulk = sz.bulkBatches * sz.bulkSize
    r.e2e("setup_s") = (Stats.median(setupS), "s")
    r.e2e("p50_ms") = (Stats.quantile(fresh.toSeq, 0.5), "ms")
    r.e2e("throughput_per_s") = (nFull.toDouble * cycle / cycleS.sum, "1/s")
    r.detail("cycles") = (cycle.toDouble, "count")
    r.detail("build_turns_per_s") = (corpus.size * cycle / buildS.sum, "1/s")
    r.detail("ingest_turns_per_s") = (batch.size * cycle / incS.sum, "1/s")
    r.detail("delete_compact_s") = ((delS.sum + compS.sum) / cycle, "s")
    r.detail("fresh_search_p50_ms") = (Stats.median(fresh.toSeq), "ms")
    r.detail("fresh_search_p90_ms") = (Stats.quantile(fresh.toSeq, 0.9), "ms")
    r.detail("fresh_search_samples") = (fresh.size.toDouble, "count")
    r.detail("index_bytes_per_text_byte") = (storeBytes.values.sum.toDouble / textBytes, "ratio")
    r.detail("bulk_queries_per_s") = (nBulk * cycle / bulkS.sum, "1/s")
    r.detail("hygiene_docs_per_s") = (nIndexed * cycle / hygS.sum, "1/s")
    r.detail("neardup_gated_docs_per_s") = (nGated * cycle / ndGatedS.sum, "1/s")
    r.detail("neardup_docs_per_s") = (nFull * cycle / ndFullS.sum, "1/s")
    r.detail("planted_near_duplicates") = (planted.size.toDouble, "count")
    r.detail("neardup_gated_band_rows") = ((Bands * nGated).toDouble, "count")
    r.detail("neardup_full_band_rows") = ((Bands * nFull).toDouble, "count")
    r.detail("band_row_gate") = (BandRowGate.toDouble, "count")
    r.detail("repeat_share") = (0.0, "ratio")
    r.detail("route_wand_probes") = (fresh.size.toDouble, "count")
    r.detail("route_algebra_bulk_queries") = (nBulk.toDouble * cycle, "count")
    r.detail("bulk_queries") = (nBulk.toDouble, "count")
    r.detail("corpus_turns") = (corpus.size.toDouble, "count")
    r.detail("batch_turns") = (batch.size.toDouble, "count")
    r.detail("corpus_text_bytes") = (textBytes.toDouble, "bytes")
    r.detail("curation_turns") = (nFull.toDouble, "count")
    setupS.zipWithIndex.foreach { case (s, i) => r.detail(s"setup_${i}_s") = (s, "s") }
    r.notes += s"neardup gated input ${Bands * nGated} banding rows " +
      s"(${if (Bands * nGated <= BandRowGate) "driver" else "distributed"} side), " +
      s"full input ${Bands * nFull} (${if (Bands * nFull <= BandRowGate) "driver" else "distributed"} side)"

    // ---- output checks (untimed) ----------------------------------------
    val deletedSet = deleted.toSet
    val survivors = corpus.zipWithIndex.collect { case (t, i) if !deletedSet(i.toLong) => t } ++ batch
    val oracle = new RefOracle(survivors)
    val oracleKey = oracle.docs.map { case (id, t) => id -> (t.conv_id, t.turn_idx) }.toMap
    val io = new ParquetTableIO(spark, wh)
    val engineKey = io.read(Tables.DocDict).select("docId", "conv_id", "turn_idx")
      .as[(Long, String, Int)].collect().map { case (d, c, t) => d -> (c, t) }.toMap
    def keyed(xs: Seq[(Long, Double)], m: Map[Long, (String, Int)]) =
      xs.map { case (d, s) => (m.getOrElse(d, ("?", -1)), e9(s)) }.toVector
    finalAnswers.zipWithIndex.foreach { case ((q, ans), i) =>
      var got = keyed(ans, engineKey)
      if (a.corrupt && i == 0 && got.nonEmpty) got = got.updated(0, (got(0)._1, got(0)._2 + 1))
      val want = keyed(oracle.search(q, 0.0, 100), oracleKey)
      r.check(s"probe [$q] after writes", got == want)
      r.addDigest(q); got.foreach(g => r.addDigest(g.toString))
    }
    val bulkBy = bulkRows.groupBy(_._1)
    bulkPool.foreach { q =>
      val got = bulkBy.getOrElse(q, Array.empty).toVector
        .sortBy { case (_, d, _, _, s) => (-s, d) }
        .map { case (_, _, c, t, s) => ((c, t), e9(s)) }
      val want = keyed(oracle.search(q, Accuracy, 100), oracleKey)
      r.check(s"bulk [$q]", got == want)
      r.addDigest(q); got.foreach(g => r.addDigest(g.toString))
    }
    val inputIds = docs.select("doc_id").as[Long].collect().toSet
    val gatedIds = inputIds.filter(_ < sz.indexConvs * 8)
    r.check("hygiene keepers are distinct input ids",
      keepers.distinct.length == keepers.length &&
        keepers.forall(k => inputIds(k) && k < (sz.indexConvs + sz.batchConvs) * 8 && k % 50 != 7))
    r.addDigest(keepers.sorted.mkString(","))
    Seq(("gated", pairsGated, gatedIds), ("full", pairsFull, inputIds)).foreach { case (n, ps, ids) =>
      r.check(s"near-dup pairs ($n) ordered, from the input, estimate >= 0.5",
        ps.forall { case (x, y, est) => x < y && ids(x) && ids(y) && est >= 0.5 })
      r.addDigest(ps.map { case (x, y, e) => s"$x-$y-$e" }.mkString(","))
    }
    val found = pairsFull.map(p => (p._1, p._2)).toSet
    r.check(s"all ${planted.size} planted near-duplicate pairs found (full pass)",
      planted.forall(found))

    // ---- per-layer (traced run) ----------------------------------------
    if (tr.enabled) {
      val counters = listener.map(_.attribute(sc, tr.ops)).getOrElse(Map.empty)
      val sample = corpus.take(3000)
      val (_, analyzeS) = Stats.timeS(sample.foreach(t => graft.text.TextPipeline.analyze(t.text)))
      val got = mutable.LinkedHashMap[String, Double](
        "api.engine_open_ms" -> Layers.mean(tr.named("api.engine_open").map(_.ms)),
        "api.bulk_ms_per_query" -> bulkS.sum * 1000 / (nBulk * cycle),
        "text.analyze_turns_per_s" -> sample.size / analyzeS,
        "build.incremental_s" -> incS.sum / cycle,
        "build.delete_s" -> delS.sum / cycle,
        "build.compact_s" -> compS.sum / cycle,
        "ops.hygiene_s" -> hygS.sum / cycle,
        "ops.hygiene_keepers" -> keepers.length.toDouble,
        "ops.neardup_gated_s" -> ndGatedS.sum / cycle,
        "ops.neardup_full_s" -> ndFullS.sum / cycle,
        "ops.neardup_pairs_gated" -> pairsGated.length.toDouble,
        "ops.neardup_pairs_full" -> pairsFull.length.toDouble,
        "ops.neardup_band_rows_gated" -> (Bands * nGated).toDouble,
        "ops.neardup_band_rows_full" -> (Bands * nFull).toDouble,
        "trace.overhead_pct" ->
          (100.0 * (Stats.median(freshTraced.toSeq) / Stats.median(freshUntraced.toSeq) - 1.0)))
      stages.foreach(m => if (Layers.BuildStages.contains(m.stage))
        got(s"build.${m.stage}_s") = m.wallMs / 1000.0)
      storeBytes.foreach { case (t, b) => got(s"store.bytes.$t") = b.toDouble }
      storeFiles.foreach { case (t, n) => got(s"store.files.$t") = n.toDouble }
      got ++= Layers.routeFigures(tr)
      got ++= Layers.sparkFigures(tr, counters)
      Layers.fill(r, got)
    }
    Files.deleteTree(base)
    r
  }
}
