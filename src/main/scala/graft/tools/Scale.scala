package graft.tools

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.GraftParams
import graft.api.SparkSearchEngine
import graft.build.{IndexBuilder, Tables}
import graft.corpus.TranscriptGen
import graft.model.Turn
import graft.ops.{Dedup, Pipeline, Similarity, TextOps}
import graft.store.ParquetTableIO
import graft.streaming.StreamingDedup

/** Scale datapoints over the generated transcript corpus, one scenario per
  * run. Every scenario shares one session and one resumable setup — the
  * corpus, the index warehouse and the (doc_id, text) table — under a
  * cache root that embeds the corpus size, `Tables.FormatVersion` and
  * `TranscriptGen.Version`, so a resume never mixes layouts or corpora.
  *
  *  - `build`: full sharded index build (per-stage wall times), warm
  *    `topKAuto` latency for four query shapes, 64 head terms as single
  *    WAND queries vs one `searchManyTerms` plan, table sizes;
  *  - `prefilter`: warm phrase/boolean/mixed latency with the head-stem
  *    Bloom prefilter off / auto-gated / forced (results must agree);
  *  - `dedup`: exact dedup → simhash fingerprints → banded near-dup pairs
  *    → connected-component clusters → keepers;
  *  - `minhash`: MinHash index over 90% of the exact-dedup survivors, the
  *    batch-vs-corpus probe (the q38 shape) for the other 10%, then that
  *    batch as `GateBatches` streaming-gate micro-batches against a copy
  *    of the index, compacted halfway;
  *  - `delete`: tombstone 1% of a copy of the warehouse, query through the
  *    tombstones, compact, query again (no deleted doc may surface, and
  *    compaction must change no result);
  *  - `ops`: repetition filter, langId, contamination, substringDup (plus
  *    its consistency check against exact dedup) and the one-plan hygiene
  *    pipeline;
  *  - `qps`: sequential request latency per route of the HTTP server.
  *
  * `sbt "runMain graft.tools.Scale <scenario> [convs]"` — convs defaults to
  * 2,250,000 (~10.1M turns, ~10 GB under /tmp). Env `SPARK_GRAFT_CPUS`
  * sets local[n] (default: every core); shuffle partitions are 2n.
  */
object Scale {
  private val Scenarios = Seq("build", "prefilter", "dedup", "minhash", "delete", "ops", "qps")

  /** Bucket cap of the pair searches: the generated corpus is
    * near-dup-saturated by construction, so uncapped buckets would go
    * quadratic in a way real corpora don't. */
  private val MaxBucket = 1000
  private val GateBatches = 50
  private val QpsRequests = 40

  private val Term = "whale"
  private val Phrase = "\"blue whale\""
  private val Bool = "(\"blue whale\" OR \"query engine\") NOT \"red fish\""
  private val Mixed = "\"blue whale\" whale engine"

  private def cacheRoot(convs: Long): String =
    s"/tmp/graft_scale_fmt${Tables.FormatVersion}_gen${TranscriptGen.Version}_$convs"

  def main(args: Array[String]): Unit = {
    val scenario = args.headOption.filter(Scenarios.contains).getOrElse {
      System.err.println(s"usage: graft.tools.Scale <${Scenarios.mkString("|")}> [convs]")
      sys.exit(2)
    }
    val convs = args.lift(1).map(_.toLong).getOrElse(2250000L)
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .appName(s"graft-scale-$scenario")
      .config("spark.sql.shuffle.partitions", (2 * cpus).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark, scenario, convs, cacheRoot(convs)) finally spark.stop()
  }

  /** Run one scenario with its corpus, warehouse and outputs under `root`.
    * Leaves `spark` running and unpersists what the run cached; returns the
    * report lines it printed. */
  def run(spark: SparkSession, scenario: String, convs: Long, root: String): Seq[String] = {
    val s = new Setup(spark, convs, root)
    try scenario match {
      case "build" => build(s)
      case "prefilter" => prefilter(s)
      case "dedup" => dedup(s)
      case "minhash" => minhash(s)
      case "delete" => delete(s)
      case "ops" => ops(s)
      case "qps" => qps(s)
      case other => throw new IllegalArgumentException(
        s"unknown scenario '$other' (${Scenarios.mkString(", ")})")
    } finally s.release()
    s.report.toSeq
  }

  /** The shared, resumable setup: each piece is written once under `root`
    * and reused by every later run. */
  private final class Setup(val spark: SparkSession, convs: Long, val root: String) {
    import spark.implicits._
    val report = scala.collection.mutable.ArrayBuffer.empty[String]
    private val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    private val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt

    def say(line: String): Unit = { println(line); report += line }
    def secs[T](body: => T): (Double, T) = {
      val t0 = System.nanoTime()
      val r = body
      ((System.nanoTime() - t0) / 1e9, r)
    }
    def timed[T](label: String)(body: => T): T = {
      val (sec, r) = secs(body)
      say(f"[$label] $sec%.1f s")
      r
    }
    /** Cache `df`, count it under `label`, and unpersist it after the run. */
    def materialized(label: String)(df: DataFrame): DataFrame = {
      val c = df.cache()
      cached += c
      timed(label)(c.count())
      c
    }
    def release(): Unit = cached.foreach(_.unpersist(false))

    private def done(dir: String) = new java.io.File(s"$dir/_SUCCESS").exists()
    def out(name: String): String = s"$root/out/$name"

    lazy val turns: Dataset[Turn] = {
      val src = s"$root/turns"
      if (!done(src)) timed(s"generate $convs conversations")(
        TranscriptGen.generate(spark, convs)
          .repartitionByRange(parts, $"conv_id", $"turn_idx")
          .write.mode("overwrite").parquet(src))
      spark.read.parquet(src).as[Turn]
    }

    val warehouse = s"$root/wh"
    lazy val io = new ParquetTableIO(spark, warehouse)
    def builder(i: ParquetTableIO) = new IndexBuilder(spark, i, rawShards = 4)
    /** The index over `turns`: a partial build resumes, a finished one is reused. */
    lazy val indexed: ParquetTableIO = {
      if (!io.exists(Tables.Blocks)) timed("build")(builder(io).build(turns, resume = true))
      io
    }

    /** (doc_id, text), doc_id = dense rank under (conv_id, turn_idx) — the
      * index build's docId rule, computed directly so no index is needed. */
    lazy val docs: DataFrame = {
      val path = s"$root/docs"
      if (!done(path)) timed("materialize (doc_id, text) table") {
        val sorted = turns.repartitionByRange(parts, $"conv_id", $"turn_idx")
          .sortWithinPartitions("conv_id", "turn_idx")
        spark.createDataset(sorted.rdd.zipWithIndex().map { case (t, id) => (id, t.text) })
          .toDF("doc_id", "text")
          .repartitionByRange(parts, $"doc_id")
          .write.mode("overwrite").parquet(path)
      }
      spark.read.parquet(path)
    }

    /** Survivors of exact dedup — the realistic near-dup input. */
    lazy val survivors: DataFrame = {
      val surv = materialized("exact dedup survivors")(
        docs.join(Dedup.exact(docs).select($"keep_doc_id".as("doc_id")), Seq("doc_id")))
      say(s"[survivors] ${surv.count()} of ${docs.count()} docs")
      surv
    }

    def copyDir(from: String, to: String): Unit = {
      val conf = spark.sparkContext.hadoopConfiguration
      val dst = new org.apache.hadoop.fs.Path(to)
      val fs = dst.getFileSystem(conf)
      fs.delete(dst, true)
      org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(from), fs, dst, false, conf)
      ()
    }
  }

  /** Two reps of `topKAuto`; prints both wall times, returns the top-k. */
  private def queryReps(s: Setup, label: String, e: SparkSearchEngine, q: String) = {
    val runs = (1 to 2).map(_ => s.secs(e.topKAuto(q, 0.0, 100)))
    s.say(s"[$label] [$q] ${runs.map(r => f"${r._1}%.2f").mkString("/")} s " +
      s"top=${runs.last._2.headOption}")
    runs.last._2
  }

  private def build(s: Setup): Unit = {
    import s.spark.implicits._
    val n = s.turns.count()
    val (sec, metrics) = s.secs(s.builder(s.io).build(s.turns))
    s.say(f"[build] turns=$n wall=$sec%.1f s tp=${n / sec}%.0f turns/s")
    s.say("[build stages] " +
      metrics.map(x => f"${x.stage}=${x.wallMs / 1000.0}%.1f(${x.rows}r)").mkString(" "))
    val engine = new SparkSearchEngine(s.spark, s.io)
    Seq(Term, Phrase, Bool, Mixed).foreach(q => queryReps(s, "query", engine, q))
    // bulk multi-query amortization: the 64 highest-df terms in one plan
    val terms = s.io.read(Tables.TermStats).orderBy(desc("df"), col("term").asc)
      .limit(64).select("term").as[String].collect().toSeq
    for (rep <- 1 to 2) {
      val (single, _) = s.secs(terms.foreach(t => engine.termTopKWand(t, 0.0, 100)))
      val (bulk, _) = s.secs(engine.searchManyTerms(terms, k = 100)
        .write.format("noop").mode("overwrite").save())
      s.say(f"[bulk ${terms.size} terms] rep$rep single=$single%.1f s bulk=$bulk%.1f s " +
        f"speedup=${single / bulk}%.1f x")
    }
    val sizes = new java.io.File(s.warehouse).listFiles.sortBy(_.getName).map { d =>
      s"${d.getName}=${Option(d.listFiles).map(_.map(_.length).sum).getOrElse(0L) / 1048576}MB"
    }
    s.say("[sizes] " + sizes.mkString(" "))
  }

  /** Every stem of the generated vocabulary is a head term (df(head) ≈
    * 0.4·Σdf), so the selectivity gate keeps the Bloom filter off and
    * `auto` should match `off`; `forced` shows the trade the gate avoids.
    * The last query is the canonical win: a rare head stem against a
    * head-term tail stem. */
  private def prefilter(s: Setup): Unit = {
    val io = s.indexed
    val off = new SparkSearchEngine(s.spark, io, GraftParams(phrasePrefilterMinDf = Long.MaxValue))
    val auto = new SparkSearchEngine(s.spark, io)
    val forced = new SparkSearchEngine(s.spark, io, GraftParams(phrasePrefilterMaxRatio = 1.0))
    for (q <- Seq(Phrase, Bool, Mixed, "\"tok40000 whale\""); rep <- 1 to 2) {
      val runs = Seq(off, auto, forced).map(e => s.secs(e.topKAuto(q, 0.0, 100)))
      require(runs.map(_._2).distinct.size == 1, s"prefilter changed results for '$q'")
      val Seq(tOff, tAuto, tForced) = runs.map(_._1)
      s.say(f"[prefilter] [$q] rep$rep off=$tOff%.1f s auto=$tAuto%.1f s " +
        f"forced=$tForced%.1f s (identical)")
    }
  }

  private def dedup(s: Setup): Unit = {
    import s.spark.implicits._
    val surv = s.survivors
    val hashes = s.materialized("simhash fingerprints")(Dedup.simHash(s.spark, surv))
    // blocks=8 (40-bit Manku keys), the parameterization for large n:
    // 16-bit keys (blocks=4) at 10M docs put ~150 docs in EVERY bucket
    val pairs = s.materialized("simhash near-dup pairs (banded, capped)")(
      Dedup.simHashNearDupBits(s.spark, hashes, blocks = 8, maxBucket = MaxBucket))
    s.say(s"[simhash] pairs=${pairs.count()}")
    val keepers = s.timed("dedup clusters + apply keepers")(
      Dedup.dedupClustersManaged(s.spark, pairs.select($"doc_a", $"doc_b"),
        surv.select($"doc_id"))(c => Dedup.applyKeepers(s.spark, surv, c).count()))
    s.say(s"[clusters] keepers=$keepers of ${surv.count()}")
  }

  private def minhash(s: Setup): Unit = {
    import s.spark.implicits._
    val surv = s.survivors
    val idx = s"${s.root}/minhash_v${Similarity.IndexVersion}"
    if (!new java.io.File(s"$idx/version/_SUCCESS").exists())
      s.timed("minhash index build (90% of survivors)")(
        Dedup.buildMinHashIndex(s.spark, surv.filter($"doc_id" % 10 =!= 0), idx))
    val batch = s.materialized("minhash batch (10% of survivors)")(
      surv.filter($"doc_id" % 10 === 0))
    val nBatch = batch.count()
    require(nBatch > 0, "the corpus is too small for a probe batch")
    val pairs = s.timed(s"minhash batch-vs-corpus probe ($nBatch docs)")(
      Dedup.minHashDedupBatchManaged(s.spark, idx, batch, threshold = 0.5,
        maxBucket = MaxBucket)(_.count()))
    s.say(s"[minhash] probe pairs=$pairs")

    // the streaming gate appends survivors' signatures: run it on a copy
    val gate = s"${s.root}/minhash_gate"
    s.timed("gate index copy")(s.copyDir(idx, gate))
    val (lo, hi) = batch.agg(min($"doc_id"), max($"doc_id")).as[(Long, Long)].head()
    val width = (hi - lo) / GateBatches + 1
    var kept = 0L
    for (i <- 0 until GateBatches) {
      val b = batch.filter($"doc_id" >= lo + i * width && $"doc_id" < lo + (i + 1) * width)
      val (sec, n) = s.secs(StreamingDedup.dedupBatchManaged(s.spark, gate, b, i.toLong,
        threshold = 0.5, maxBucket = MaxBucket, runId = "scale")(_.count()))
      kept += n
      s.say(f"[gate] batch=$i%02d survivors=$n wall=$sec%.1f s")
      if (i == GateBatches / 2 - 1)
        s.timed("gate compaction (mid-run)")(Dedup.compactMinHashIndex(s.spark, gate))
    }
    s.say(s"[gate] total survivors=$kept of $nBatch")
  }

  private def delete(s: Setup): Unit = {
    import s.spark.implicits._
    // deletes and compaction rewrite the warehouse: work on a fresh copy
    s.indexed // builds the warehouse first if it is missing
    val wh = s"${s.root}/wh_delete"
    s.timed("warehouse copy")(s.copyDir(s.warehouse, wh))
    val io = new ParquetTableIO(s.spark, wh)
    val b = s.builder(io)
    val queries = Seq(Term, Phrase, Bool)
    def topSets(label: String) = {
      val e = new SparkSearchEngine(s.spark, io) // engines snapshot the tables
      queries.map(q => q -> queryReps(s, label, e, q).map(_._1).toSet).toMap
    }
    topSets("pre-delete")

    val nBefore = io.read(Tables.DocDict).count()
    val delIds = io.read(Tables.DocDict).select($"docId").filter($"docId" % 100 === 7).as[Long]
    val delSec = s.secs(b.deleteDocs(delIds, batchId = 500L))._1
    val nDel = io.read(Tables.Deletes).count()
    s.say(f"[delete] $nDel ids of $nBefore docs in $delSec%.1f s (${nDel / delSec}%.0f ids/s)")
    val deleted = delIds.collect().toSet
    val tombstoned = topSets("tombstoned")
    tombstoned.foreach { case (q, ids) =>
      require(ids.intersect(deleted).isEmpty, s"deleted doc in the top-k of $q")
    }

    val (cSec, cm) = s.secs(b.compact())
    s.say(f"[compact] $cSec%.1f s " + cm.map(x => f"${x.stage}=${x.wallMs / 1000.0}%.1f").mkString(" "))
    require(!io.exists(Tables.Deletes), "compact must retire the tombstones")
    val compacted = topSets("compacted")
    queries.foreach(q => require(compacted(q) == tombstoned(q), s"compaction changed $q"))
    s.say("[compact] top-k identical to the tombstoned top-k")
  }

  private def ops(s: Setup): Unit = {
    import s.spark.implicits._
    val docs = s.docs
    val nDocs = docs.count()
    s.say(s"[corpus] $nDocs docs")
    def write(name: String, df: DataFrame) = {
      df.write.mode("overwrite").parquet(s.out(name))
      s.spark.read.parquet(s.out(name))
    }

    val rep = s.timed("repetitionFilter (full corpus)")(write("repetition", TextOps.repetitionFilter(docs)))
    s.say(s"[repetition] flagged ${rep.filter($"verdict" === "repetitive").count()} of $nDocs")
    s.timed("langId (full corpus)")(write("lang", TextOps.langId(docs)))

    val bench = docs.filter($"doc_id" % 10000 === 7)
    val corpus = docs.filter($"doc_id" % 10000 =!= 7)
    val hits = s.timed("contamination n=8 (corpus vs bench)")(
      TextOps.contamination(corpus, bench, n = 8).count())
    s.say(s"[contamination] flagged $hits docs against ${bench.count()} bench docs")

    val sub = s.timed("substringDup (full corpus, 10-token windows)")(write("substring", Dedup.substringDup(docs)))
    val full = sub.filter($"dup_frac" === 1.0).count()
    val partial = sub.filter($"dup_frac" > 0.0 && $"dup_frac" < 1.0).count()
    s.say(s"[substringDup] full-dup docs: $full, partial: $partial")
    // every member of an exact-duplicate group with >= 1 window must be
    // fully duplicated (its windows all occur in the twin too)
    val bad = s.timed("substringDup vs exact-dedup consistency")(
      Dedup.exact(docs).filter($"n_copies" > 1)
        .join(docs.select(md5($"text").as("content_md5"), $"doc_id"), Seq("content_md5"))
        .join(sub, Seq("doc_id"))
        .filter($"n_windows" > 0 && $"dup_frac" =!= 1.0).count())
    require(bad == 0L, s"substringDup inconsistent with exact dedup: $bad rows")

    val kept = s.timed("hygieneCorpus (one plan)")(
      Pipeline.hygieneCorpusManaged(s.spark, corpus, bench, ngramN = 8) { out =>
        write("hygiene", out).count()
      })
    s.say(s"[hygiene] keepers: $kept of $nDocs")
  }

  /** Sequential request latency of the HTTP server over the warm index —
    * the engine is single-query-at-a-time, like the reference's server. */
  private def qps(s: Setup): Unit = {
    val nTurns = s.indexed.read(Tables.DocDict).count()
    val server = new graft.server.SearchEngineServer(s.spark, s.warehouse, None, port = 0)
    val port = server.start()
    def get(url: String): Unit = {
      val conn = java.net.URI.create(url).toURL.openConnection()
        .asInstanceOf[java.net.HttpURLConnection]
      try require(conn.getResponseCode == 200 && conn.getInputStream.readAllBytes().nonEmpty,
        s"HTTP ${conn.getResponseCode} for $url")
      finally conn.disconnect()
    }
    try {
      val base = s"http://127.0.0.1:$port"
      def enc(q: String) = java.net.URLEncoder.encode(q, "UTF-8")
      val routes = Seq(
        "term (WAND)" -> s"$base/search?query=${enc(Term)}&accuracy=0",
        "phrase" -> s"$base/search?query=${enc(Phrase)}&accuracy=0",
        "boolean" -> s"$base/search?query=${enc(Bool)}&accuracy=0",
        "bulk x4 (searchMany)" -> s"$base/searchMany?queries=${enc("whale,blue,red,fish")}&accuracy=0")
      s.say(s"[qps] corpus=$nTurns turns, $QpsRequests sequential requests per route, warm")
      routes.foreach { case (label, url) =>
        (1 to 3).foreach(_ => get(url))
        val times = (1 to QpsRequests).map(_ => s.secs(get(url))._1).sorted
        val p50 = times(QpsRequests / 2)
        val p95 = times((QpsRequests * 95) / 100 - 1)
        s.say(f"[qps] [$label] ${QpsRequests / times.sum}%.2f req/s  p50=${p50 * 1000}%.0f ms  " +
          f"p95=${p95 * 1000}%.0f ms")
      }
    } finally server.stop()
  }
}
