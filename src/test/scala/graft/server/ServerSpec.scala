package graft.server

import org.scalatest.funsuite.AnyFunSuite
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

/** End-to-end drive of the HTTP surface: route-for-route against the
  * reference server's contract (methods, bodies, status codes). */
class ServerSpec extends AnyFunSuite {
  lazy val spark = graft.EngineSpecFixture.spark

  private lazy val (srv, port, turnsPath) = {
    import spark.implicits._
    val turnsPath = java.nio.file.Files.createTempDirectory("srv_turns_").toString + "/turns"
    graft.corpus.TranscriptGen.generate(spark, 20).write.mode("overwrite").parquet(turnsPath)
    val wh = java.nio.file.Files.createTempDirectory("srv_wh_").toString
    val s = new SearchEngineServer(spark, wh, Some(turnsPath), port = 0)
    val p = s.start()
    (s, p, turnsPath)
  }
  private val client = HttpClient.newHttpClient()
  private def url(path: String) = s"http://127.0.0.1:$port$path"
  private def send(req: HttpRequest): HttpResponse[String] =
    client.send(req, HttpResponse.BodyHandlers.ofString())
  private def put(path: String, body: String) =
    send(HttpRequest.newBuilder(URI.create(url(path)))
      .PUT(HttpRequest.BodyPublishers.ofString(body)).build())
  private def post(path: String, body: String) =
    send(HttpRequest.newBuilder(URI.create(url(path)))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build())
  private def get(path: String) =
    send(HttpRequest.newBuilder(URI.create(url(path))).GET().build())
  private def delete(path: String) =
    send(HttpRequest.newBuilder(URI.create(url(path))).DELETE().build())

  test("root serves the API documentation") {
    val r = get("/")
    assert(r.statusCode() == 200 && r.body().contains("/search"))
  }

  test("indexDocuments then search returns scored JSON hits") {
    val idx = post("/indexDocuments", """{"clear": 1}""")
    assert(idx.statusCode() == 200 && idx.body().contains("Successfully created Inverted Index"))
    val r = get("/search?query=whale&accuracy=0.0")
    assert(r.statusCode() == 200, r.body())
    assert(r.body().startsWith("[") && r.body().contains("\"score\":"))
    assert(r.body().contains("\"url\":\"graft://conv-"))
    // search with a phrase (URL-encoded quotes)
    val r2 = get("/search?query=%22blue%20whale%22&accuracy=0.0")
    assert(r2.statusCode() == 200 && r2.body().contains("\"score\":"))
  }

  test("searchMany scores N queries in one plan, grouped JSON with snippets") {
    post("/indexDocuments", """{"clear": 1}""")
    // mixed atoms: two bare terms + a URL-encoded quoted phrase
    val r = get("/searchMany?queries=whale,blue,%22blue%20whale%22&accuracy=0.000001")
    assert(r.statusCode() == 200, r.body())
    val body = r.body()
    assert(body.startsWith("{"))
    assert(body.contains("\"whale\":[") && body.contains("\"blue\":[")
      && body.contains("\"\\\"blue whale\\\"\":["), body.take(200))
    assert(body.contains("<span>"), "snippets must be rendered")
    // missing params rejected like the reference's routes
    assert(get("/searchMany?accuracy=0.0").statusCode() == 404)
    assert(get("/searchMany?queries=&accuracy=0.0").statusCode() == 404)
  }

  test("searchMany phrase requests do not grow cached RDDs") {
    post("/indexDocuments", """{"clear": 1}""")
    // the engine lives across requests; each phrase fold it caches must be
    // released once the request's rows are collected
    val path = "/searchMany?queries=%22blue%20whale%22,%22red%20fish%22&accuracy=0.0"
    def persisted = spark.sparkContext.getPersistentRDDs.size
    assert(get(path).statusCode() == 200) // warm (lazy stats/postings)
    val base = persisted
    (1 to 5).foreach(_ => assert(get(path).statusCode() == 200))
    assert(persisted <= base, s"cached RDDs grew across requests: $base -> $persisted")
  }

  test("searchManyAuto evaluates boolean/mixed shapes searchMany rejects") {
    post("/indexDocuments", """{"clear": 1}""")
    // a bracketed boolean and a mixed query — both 404 on /searchMany,
    // both 200 with per-query hit arrays on /searchManyAuto
    val boolQ = "(%22blue%20whale%22%20OR%20%22query%20engine%22)%20NOT%20%22red%20fish%22"
    assert(get(s"/searchMany?queries=$boolQ&accuracy=0.0").statusCode() == 404)
    val r = get(s"/searchManyAuto?queries=$boolQ,whale&accuracy=0.0")
    assert(r.statusCode() == 200, r.body())
    val body = r.body()
    assert(body.startsWith("{") && body.contains("\"whale\":[") &&
      body.contains("NOT \\\"red fish\\\"\":["), body.take(300))
    assert(body.contains("\"score\":"))
    assert(get("/searchManyAuto?accuracy=0.0").statusCode() == 404)
  }

  test("setRankerParameters swaps the ranker; bad body rejected") {
    val ok = put("/setRankerParameters",
      """{"BM25_K1": 1.2, "BM25_B": 0.8, "PHRASE_BOOST": 1.5, "EXACT_MATCH_WEIGHT": 0.5}""")
    assert(ok.statusCode() == 200)
    assert(get("/search?query=whale&accuracy=0.0").statusCode() == 200)
    assert(put("/setRankerParameters", """{"nope": 1}""").statusCode() == 404)
    // restore defaults for other tests
    put("/setRankerParameters",
      """{"BM25_K1": 1.5, "BM25_B": 0.75, "PHRASE_BOOST": 1.35, "EXACT_MATCH_WEIGHT": 0.6}""")
  }

  test("setThreadsNumber adjusts shuffle parallelism within bounds") {
    assert(put("/setThreadsNumber", """{"numberOfThreads": 2}""").statusCode() == 200)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "2")
    assert(put("/setThreadsNumber", """{"numberOfThreads": 100000}""").statusCode() == 404)
    spark.conf.set("spark.sql.shuffle.partitions", "4")
  }

  test("crawl ingests a turns table incrementally; terminate responds") {
    val r = post("/crawl", s"""{"seedUrls": ["$turnsPath"], "numberOfPages": 5}""")
    assert(r.statusCode() == 200 && r.body().contains("Successfully crawled"))
    assert(put("/crawl_terminate", """{"clearDocumentsHistory": 0}""").statusCode() == 200)
    assert(post("/crawl", """{"bad": 1}""").statusCode() == 400)
  }

  test("crawl reopens the engine: a crawled batch is searchable at once") {
    import spark.implicits._
    post("/indexDocuments", """{"clear": 1}""")
    assert(get("/search?query=whale&accuracy=0.0").statusCode() == 200) // engine in use
    val base = spark.read.parquet(turnsPath).as[graft.model.Turn].collect().toSeq
    val ts = base.head.ts
    val extra = Seq(
      graft.model.Turn("conv-crawl", 0, "user", "zyxcrawl whales near the blue zyxcrawl", "", ts),
      graft.model.Turn("conv-crawl", 1, "assistant", "one zyxcrawl sighting", "", ts),
      graft.model.Turn("conv-crawl", 2, "user", "nothing new here", "", ts))
    val extraPath = java.nio.file.Files.createTempDirectory("srv_crawl_").toString + "/turns"
    spark.createDataset(extra).write.parquet(extraPath)
    val c = post("/crawl", s"""{"seedUrls": ["$extraPath"], "numberOfPages": ${extra.size}}""")
    assert(c.statusCode() == 200, c.body())
    val r = get("/search?query=zyxcrawl&accuracy=0.0")
    assert(r.statusCode() == 200, r.body())
    val hit = "\\{\"title\":\"([^\"#]+)#(\\d+)\".*?\"score\":([-+0-9.eE]+)\\}".r
    val got = hit.findAllMatchIn(r.body())
      .map(m => ((m.group(1), m.group(2).toInt), m.group(3).toDouble)).toVector
    val oracle = new graft.oracle.RefOracle(base ++ extra)
    val want = oracle.search("zyxcrawl", 0.0, 100).map { case (d, s) =>
      val t = oracle.docs(d.toInt)._2
      ((t.conv_id, t.turn_idx), s)
    }
    assert(got.take(2).map(_._1) == Vector(("conv-crawl", 0), ("conv-crawl", 1)), got.take(3))
    val failures = graft.EngineSpecFixture.oracleMismatches("crawled", got, want)
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("deleteDocuments tombstones per-doc; compact purges without changing results") {
    post("/indexDocuments", """{"clear": 1}""")
    val r1 = get("/search?query=whale&accuracy=0.0")
    assert(r1.statusCode() == 200)
    val del = post("/deleteDocuments", """{"docIds": [0, 2, 4, 6, 8, 10, 12]}""")
    assert(del.statusCode() == 200 && del.body().contains("Successfully deleted"), del.body())
    val r2 = get("/search?query=whale&accuracy=0.0")
    assert(r2.statusCode() == 200, r2.body())
    // deletions shrink the corpus → stats/df change → every score changes
    assert(r2.body() != r1.body())
    // physical purge must not change any result the tombstones produced
    val cmp = post("/deleteDocuments", """{"docIds": [0], "compact": 1}""")
    assert(cmp.statusCode() == 200 && cmp.body().contains("compacted"), cmp.body())
    val r3 = get("/search?query=whale&accuracy=0.0")
    assert(r3.statusCode() == 200 && r3.body() == r2.body())
    assert(post("/deleteDocuments", """{"bad": 1}""").statusCode() == 400)
    assert(post("/deleteDocuments", """{"docIds": []}""").statusCode() == 400)
  }

  test("clearCrawlHistory drops the index; search then fails cleanly") {
    assert(delete("/clearCrawlHistory").statusCode() == 200)
    val r = get("/search?query=whale&accuracy=0.0")
    assert(r.statusCode() == 404) // no index tables — reference also 404s on error
    // rebuild for any later test
    assert(post("/indexDocuments", """{"clear": 1}""").statusCode() == 200)
  }
}
