package graft

import java.net.{URI, URLEncoder}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite
import graft.api.SparkSearchEngine
import graft.corpus.TranscriptGen
import graft.server.SearchEngineServer

/** Spark jobs per query shape on the EngineSpec fixture at default
  * params — counts only, never wall times. Job counts are deterministic
  * where latency is not, so a query path that starts paying a job per
  * atom, or a table resolution per call, fails here.
  *
  * Counts are taken on a warmed engine (every pinned table already
  * resolved) at accuracy `Double.MinPositiveValue`, which leaves out the
  * dense zero-fill of a sub-k result (one more job, on any shape). */
class JobCountSpec extends AnyFunSuite {
  import EngineSpecFixture._

  private val acc = Double.MinPositiveValue

  /** Jobs started while `body` runs; the listener bus is drained before
    * and after, so no event of an earlier or later job is counted. */
  private def jobsOf(body: => Any): Int = {
    val sc = spark.sparkContext
    org.apache.spark.TestListenerBus.drain(sc)
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
    }
    sc.addSparkListener(l)
    try { body; org.apache.spark.TestListenerBus.drain(sc); n.get }
    finally sc.removeSparkListener(l)
  }

  /** One query per route, run once to resolve every pinned table. */
  private val warmUp = Seq("blue", "blue run", "\"query engine\"", "\"query engine\" blue run")
  private def warmed(e: SparkSearchEngine): SparkSearchEngine = {
    warmUp.foreach(e.topKAuto(_, acc, 100))
    e
  }

  // (shape, query, jobs): single bare term → WAND, everything else → the
  // driver algebra (every operand here is far below driverAlgebraMaxDocs)
  private val shapes = Seq(
    ("single bare term", "whale", 2),
    ("2 bare terms", "whale blue", 2),
    ("3 bare terms", "whale blue engine", 2),
    ("4 bare terms", "whale blue engine run", 2),
    ("1 phrase", "\"blue whale\"", 2),
    ("2 phrases", "\"blue whale\" \"red fish\"", 2),
    ("3 phrases", "\"blue whale\" \"red fish\" \"query engine\"", 2),
    ("phrase + 2 terms", "\"blue whale\" whale engine", 4),
    ("boolean over 3 phrases", "(\"blue whale\" OR \"query engine\") NOT \"red fish\"", 2))

  test("query-shape job counts do not grow with the atom count") {
    val e = warmed(new SparkSearchEngine(spark, built._1))
    val got = shapes.map { case (shape, q, _) => (shape, q, jobsOf(e.topKAuto(q, acc, 100))) }
    assert(got == shapes, got.mkString("\n"))
    // the driver route on a single bare term: the same two jobs
    assert(jobsOf(e.topKDriver("whale", acc, 100)) == 2)
  }

  test("a server /search adds only the hit-fetch jobs to topKAuto") {
    import spark.implicits._
    val (io, _) = built
    val turnsPath = java.nio.file.Files.createTempDirectory("jobs_turns_").toString + "/turns"
    TranscriptGen.generate(spark, Convs).write.mode("overwrite").parquet(turnsPath)
    val srv = new SearchEngineServer(spark, warehouse, Some(turnsPath), port = 0)
    val port = srv.start()
    val client = HttpClient.newHttpClient()
    def get(q: String): Unit = {
      val r = client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/search?query=" +
        URLEncoder.encode(q, "UTF-8") + s"&accuracy=$acc")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 200, r.body())
    }
    try {
      val e = warmed(new SparkSearchEngine(spark, io))
      val turns = spark.read.parquet(turnsPath)
      warmUp.foreach { q => get(q); e.search(q, turns, acc) }
      shapes.foreach { case (shape, q, topK) =>
        val search = jobsOf(e.search(q, turns, acc))
        assert(jobsOf(get(q)) == search, s"$shape: the server must add no job to search")
        assert(search - topK == HitFetchJobs, s"$shape: $search jobs, topKAuto $topK")
      }
    } finally srv.stop()
  }

  /** dict ⋈ turns for the top-k docIds: one broadcast of the filtered
    * dictionary plus the collect. */
  private val HitFetchJobs = 2
}
