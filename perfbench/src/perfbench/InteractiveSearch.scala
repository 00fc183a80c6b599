package perfbench

import java.io.File
import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.api.SparkSearchEngine
import graft.build.{IndexBuilder, Tables}
import graft.model.Turn
import graft.oracle.RefOracle
import graft.query.{QueryEvaluator, Snippeter}
import graft.server.SearchEngineServer
import graft.store.ParquetTableIO
import scala.collection.mutable

/** The interactive searcher: one closed-loop HTTP client sends
  * `GET /search?accuracy=0` to a `SearchEngineServer` started with
  * `--input` (hits carry snippets), drawing Zipf-style from a seeded pool
  * of distinct queries of five shapes, so popular queries repeat. */
object InteractiveSearch {
  final case class Size(convs: Long, pool: Int, setups: Int, warmup: Int, checks: Int)
  def size(tiny: Boolean): Size =
    if (tiny) Size(convs = 60, pool = 20, setups = 2, warmup = 2, checks = 4)
    // two set-ups, not three: each is a full index build (~8 s warm, ~20 s
    // in a fresh JVM), and a third would add ~8 s to a ~48 s run
    else Size(convs = 500, pool = 200, setups = 2, warmup = 1, checks = 12)

  private final case class Live(dir: File, turnsPath: String, wh: String,
      server: SearchEngineServer, port: Int)

  def get(port: Int, q: String): (Int, String) = {
    val url = new URI(s"http://127.0.0.1:$port/search?query=" +
      URLEncoder.encode(q, "UTF-8") + "&accuracy=0").toURL
    val c = url.openConnection().asInstanceOf[HttpURLConnection]
    c.setConnectTimeout(10000); c.setReadTimeout(120000)
    try {
      val code = c.getResponseCode
      val in = if (code < 400) c.getInputStream else c.getErrorStream
      val body = if (in == null) "" else try new String(in.readAllBytes(), UTF_8) finally in.close()
      (code, body)
    } finally c.disconnect()
  }

  private val Hit = "\\{\"title\":\"(conv-\\d+)#(\\d+)\".*?\"score\":([-+0-9.eE]+)\\}".r

  /** (conv_id, turn_idx, score) of each hit in a /search response. */
  def parseHits(body: String): Vector[(String, Int, Double)] =
    Hit.findAllMatchIn(body).map(m => (m.group(1), m.group(2).toInt, m.group(3).toDouble)).toVector

  def e9(s: Double): Long = math.round(s * 1e9)

  private def setUp(spark: SparkSession, a: Args, sz: Size, dir: File,
      warm: Seq[String]): Live = {
    val turnsPath = new File(dir, "turns").getPath
    val wh = new File(dir, "warehouse").getPath
    Inputs.writeCorpus(spark, sz.convs, a.seed, turnsPath)
    import spark.implicits._
    new IndexBuilder(spark, new ParquetTableIO(spark, wh))
      .build(spark.read.parquet(turnsPath).as[Turn])
    val server = new SearchEngineServer(spark, wh, Some(turnsPath), port = 0)
    val port = server.start()
    warm.foreach { q =>
      val (code, body) = get(port, q)
      require(code == 200, s"warm-up query failed ($code): $body")
    }
    Live(dir, turnsPath, wh, server, port)
  }

  def run(spark: SparkSession, a: Args, tr: Tracer, listener: Option[JobListener]): Result = {
    import spark.implicits._
    val r = new Result
    val sz = size(a.tiny)
    val rnd = new scala.util.Random(a.seed)
    val pool = Inputs.pool(sz.pool, rnd)
    // the rank sequence is the same for every seed (the pool behind the
    // ranks is seeded), so every run sends the same mix of shapes and
    // repeats, and seeds differ only in what is asked
    val zipf = new Inputs.Zipf(pool.size, 1.0, new scala.util.Random(7919))
    val warm = pool.take(sz.warmup).map(_._1)

    // ---- set-up, several times; the last one stays up -----------------
    var live: Live = null
    val setupS = (0 until sz.setups).map { i =>
      if (live != null) { live.server.stop(); Files.deleteTree(live.dir) }
      val (l, s) = Stats.timeS(setUp(spark, a, sz, new File(s"${a.root}/interactive/setup$i"), warm))
      live = l; s
    }
    val sc = spark.sparkContext
    val engine = new SparkSearchEngine(spark, new ParquetTableIO(spark, live.wh))
    val turnsDF: DataFrame = spark.read.parquet(live.turnsPath)

    // ---- timed closed loop -------------------------------------------
    val latMs = mutable.ArrayBuffer.empty[Double]
    val tracedMs = mutable.ArrayBuffer.empty[Double]
    val untracedMs = mutable.ArrayBuffer.empty[Double]
    val firstBody = mutable.LinkedHashMap.empty[String, String]
    val overheadMs = mutable.ArrayBuffer.empty[Double]
    val hitFetchMs = mutable.ArrayBuffer.empty[Double]
    val decoded = mutable.Map.empty[String, (Long, Int, Int, Double)] // postings, blocks, terms, sec
    var repeats = 0; var wandRouted = 0
    val t0 = System.nanoTime()
    val deadline = t0 + a.seconds * 1000000000L
    var n = 0
    while (System.nanoTime() < deadline) {
      val (q, shape) = pool(zipf.next())
      val traced = tr.enabled && n % 2 == 0
      if (traced) listener.foreach(sc.addSparkListener)
      val t1 = System.nanoTime()
      val (code, body) =
        if (traced) tr.op("search", "server.request")(get(live.port, q))
        else get(live.port, q)
      val ms = (System.nanoTime() - t1) / 1e6
      latMs += ms
      r.notes += f"request $n%3d $shape%-7s $ms%8.1f ms $q"
      r.attempted += 1
      if (code != 200) { r.failed += 1; r.notes += s"HTTP $code for $q: ${body.take(200)}" }
      if (firstBody.contains(q)) repeats += 1 else firstBody(q) = body
      if (Layers.isSingleTerm(q)) wandRouted += 1
      if (tr.enabled) {
        if (traced) {
          tracedMs += ms
          decompose(engine, live.wh, turnsDF, q, ms, tr, overheadMs, hitFetchMs, decoded, spark)
          listener.foreach { l => org.apache.spark.PerfbenchBus.drain(sc); sc.removeSparkListener(l) }
        } else untracedMs += ms
      }
      n += 1
    }
    val elapsedS = (System.nanoTime() - t0) / 1e9

    // ---- metrics -------------------------------------------------------
    val p50 = Stats.quantile(latMs.toSeq, 0.5)
    val p90 = Stats.quantile(latMs.toSeq, 0.9)
    r.e2e("setup_s") = (Stats.median(setupS), "s")
    r.e2e("p50_ms") = (p50, "ms")
    r.e2e("throughput_per_s") = (n / elapsedS, "1/s")
    r.detail("search_p50_ms") = (p50, "ms")
    r.detail("search_p90_ms") = (p90, "ms")
    r.detail("search_samples") = (n.toDouble, "count")
    r.detail("search_samples_beyond_p90") = (latMs.count(_ > p90).toDouble, "count")
    r.detail("search_qps") = (n / elapsedS, "1/s")
    r.detail("repeat_share") = (repeats.toDouble / math.max(1, n), "ratio")
    r.detail("distinct_queries_sent") = (firstBody.size.toDouble, "count")
    r.detail("route_wand_requests") = (wandRouted.toDouble, "count")
    r.detail("route_algebra_requests") = ((n - wandRouted).toDouble, "count")
    setupS.zipWithIndex.foreach { case (s, i) => r.detail(s"setup_${i}_s") = (s, "s") }

    // ---- output checks (untimed): a seeded sample of the distinct
    // queries, HTTP answers vs RefOracle over the same turns -----------
    live.server.stop()
    val turns = spark.read.parquet(live.turnsPath).as[Turn].collect().toSeq
    r.detail("corpus_turns") = (turns.size.toDouble, "count")
    r.detail("corpus_text_bytes") = (Inputs.utf8Bytes(turns).toDouble, "bytes")
    val oracle = new RefOracle(turns)
    val idOf = oracle.docs.map { case (id, t) => (t.conv_id, t.turn_idx) -> id }.toMap
    val checkRnd = new scala.util.Random(a.seed * 104729 + 3)
    val sample = checkRnd.shuffle(firstBody.keys.toVector.sorted).take(sz.checks)
    sample.zipWithIndex.foreach { case (q, i) =>
      var got = parseHits(firstBody(q)).map { case (c, t, s) =>
        (idOf.getOrElse((c, t), -1L), e9(s)) }
      if (a.corrupt && i == 0 && got.nonEmpty) got = got.updated(0, (got(0)._1, got(0)._2 + 1))
      val want = oracle.search(q, 0.0, engine.params.topK).map { case (d, s) => (d, e9(s)) }
      r.check(s"query [$q]: ${got.size} hits vs oracle ${want.size}", got == want)
      r.addDigest(q); got.foreach { case (d, s) => r.addDigest(s"$d:$s") }
    }

    // ---- per-layer (traced run) ----------------------------------------
    if (tr.enabled) {
      val counters = listener.map(_.attribute(sc, tr.ops)).getOrElse(Map.empty)
      val (post, blocks, terms, sec) = decoded.values.foldLeft((0L, 0, 0, 0.0)) {
        case ((p, b, t, s), (p2, b2, t2, s2)) => (p + p2, b + b2, t + t2, s + s2) }
      val got = mutable.LinkedHashMap[String, Double](
        "server.overhead_ms" -> Stats.median(overheadMs.toSeq),
        "api.hit_fetch_ms" -> Stats.median(hitFetchMs.toSeq),
        "query.parse_us" -> Layers.mean(tr.named("query.parse").map(_.ms * 1000)),
        "query.snippet_us" -> Layers.mean(tr.named("query.snippet").map(_.ms * 1000)),
        "codec.decode_postings_per_s" -> (if (sec > 0) post / sec else 0.0),
        "codec.blocks_per_term" -> (if (terms > 0) blocks.toDouble / terms else 0.0),
        "trace.overhead_pct" ->
          (100.0 * (Stats.median(tracedMs.toSeq) / Stats.median(untracedMs.toSeq) - 1.0)))
      got ++= Layers.routeFigures(tr)
      got ++= Layers.sparkFigures(tr, counters)
      Layers.fill(r, got)
    }
    Files.deleteTree(live.dir)
    r
  }

  /** In-process calls into each layer for the query a traced request just
    * sent; spans separate server, api, query and codec time. */
  private def decompose(engine: SparkSearchEngine, wh: String, turnsDF: DataFrame, q: String,
      httpMs: Double, tr: Tracer, overheadMs: mutable.ArrayBuffer[Double],
      hitFetchMs: mutable.ArrayBuffer[Double],
      decoded: mutable.Map[String, (Long, Int, Int, Double)], spark: SparkSession): Unit =
    tr.op("decompose", "decompose") {
      val t0 = System.nanoTime()
      val hits = tr.span("api.search")(engine.search(q, turnsDF, 0.0))
      val searchMs = (System.nanoTime() - t0) / 1e6
      val t1 = System.nanoTime()
      Layers.routedTopK(engine, q, 0.0, engine.params.topK, tr)
      val topKMs = (System.nanoTime() - t1) / 1e6
      overheadMs += httpMs - searchMs
      hitFetchMs += searchMs - topKMs
      val ast = new graft.query.DenseEval.AstAlgebra(false)
      tr.span("query.parse") {
        graft.query.QueryLexer.lex(q)
        QueryEvaluator.evaluate(q, ast, engine.params)
      }
      val keys = Snippeter.queryKeys(q, false)
      val weights = QueryEvaluator.wordsAndPhrasesWeights(q)
      hits.foreach(h => tr.span("query.snippet")(Snippeter.snippet(h.text, keys, weights)))
      if (!decoded.contains(q)) {
        val termKeys = ast.atomList.collect { case Left(t) => t }.distinct
        if (termKeys.nonEmpty) {
          import spark.implicits._
          val io = new ParquetTableIO(spark, wh)
          val blocks = tr.span("codec.fetch") {
            io.read(Tables.Blocks).filter($"term".isin(termKeys: _*))
              .select($"block").as[Array[Byte]].collect()
          }
          val t2 = System.nanoTime()
          val postings = tr.span("codec.decode") {
            blocks.iterator.map(b => graft.codec.VarByte.decodeBlockScores(b).length.toLong).sum
          }
          decoded(q) = (postings, blocks.length, termKeys.size, (System.nanoTime() - t2) / 1e9)
        }
      }
    }

}
