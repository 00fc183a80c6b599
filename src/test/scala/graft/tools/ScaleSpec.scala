package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** `Scale` scenarios end to end on a tiny corpus, on the shared test
  * session: the scenario's own checks (prefilter agreement, no deleted doc
  * in a top-k, compaction changing no result, substringDup ≡ exact dedup)
  * must hold, it must report its datapoints, and it must leave no cached
  * frame behind in the session.
  *
  * Two scenarios are left out to keep this suite near a minute: `minhash`
  * (its 50 streaming-gate micro-batches cost ~1 s each even on a tiny
  * batch) and `qps` (172 sequential HTTP requests at ~0.2 s each). The
  * operators and routes they time are covered by StreamingSpec, OpsSpec,
  * CompactionSpec and ServerSpec. */
class ScaleSpec extends AnyFunSuite {
  lazy val spark = graft.EngineSpecFixture.spark
  private lazy val root = java.nio.file.Files.createTempDirectory("scale_").toString
  private val Convs = 60L

  private def runScenario(scenario: String): Seq[String] = {
    def persisted = spark.sparkContext.getPersistentRDDs.size
    val base = persisted
    val report = Scale.run(spark, scenario, Convs, root)
    assert(persisted <= base, s"$scenario left cached RDDs: $base -> $persisted")
    report
  }
  private def count(report: Seq[String], prefix: String) = report.count(_.startsWith(prefix))

  test("build: index build, warm query latency, bulk head terms, table sizes") {
    val r = runScenario("build")
    assert(count(r, "[build stages] ") == 1)
    assert(count(r, "[query] [") == 4)
    assert(count(r, "[bulk ") == 2 && count(r, "[sizes] ") == 1)
  }

  test("prefilter: off, auto-gated and forced Bloom prefilter agree") {
    assert(count(runScenario("prefilter"), "[prefilter] [") == 8)
  }

  test("dedup: exact dedup, simhash pairs, clusters and keepers") {
    val r = runScenario("dedup")
    assert(count(r, "[survivors] ") == 1 && count(r, "[clusters] keepers=") == 1)
  }

  test("delete: tombstones hide deleted docs and compaction changes no result") {
    val r = runScenario("delete")
    assert(count(r, "[delete] ") == 1)
    assert(r.contains("[compact] top-k identical to the tombstoned top-k"))
  }

  test("ops: text operators, substringDup consistency and the hygiene pipeline") {
    val r = runScenario("ops")
    assert(count(r, "[repetition] flagged") == 1 && count(r, "[hygiene] keepers: ") == 1)
  }

  test("an unknown scenario is refused") {
    intercept[IllegalArgumentException](Scale.run(spark, "nope", Convs, root))
  }
}
