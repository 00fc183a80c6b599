package perfbench

import java.io.File
import org.apache.spark.sql.SparkSession

/** Benchmark entry point. Usage (normally through perfbench/run.py):
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --root DIR --trace-dir DIR --cores C [--tiny] [--corrupt]
  * Prints detail lines, then as its LAST line one JSON object
  * {"correct","attempted","failed","metrics"}: the end-to-end metrics
  * untraced, the per-layer metrics traced.
  */
object Main {
  val Workloads: Seq[String] = Seq("interactive_search", "ingest_and_curate")

  def session(cores: Int, root: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def parse(argv: Array[String]): Args = {
    def opt(name: String): Option[String] = {
      val i = argv.indexOf(s"--$name")
      if (i >= 0 && i + 1 < argv.length) Some(argv(i + 1)) else None
    }
    def req(name: String) = opt(name).getOrElse(sys.error(s"--$name is required"))
    Args(req("workload"), req("seed").toLong, req("seconds").toInt,
      req("trace") == "1", req("root"), req("trace-dir"), req("cores").toInt,
      argv.contains("--tiny"), argv.contains("--corrupt"))
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  private def esc(s: String): String = s.replace("\\", "\\\\").replace("\"", "\\\"")

  /** Span self time summed per layer (the span name's first segment). */
  private def layerSelf(t: Tracer): Seq[(String, Double)] =
    t.selfTimes.groupBy(_._1.takeWhile(_ != '.')).toSeq
      .map { case (l, xs) => (l, xs.map(_._4).sum) }.sortBy(-_._2)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    require(Workloads.contains(a.workload),
      s"unknown workload ${a.workload}; one of ${Workloads.mkString(", ")}")
    val t0 = System.nanoTime()
    val spark = session(a.cores, a.root)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(a.trace)
    val listener = if (a.trace) Some(new JobListener) else None
    val r =
      try a.workload match {
        case "interactive_search" => InteractiveSearch.run(spark, a, tracer, listener)
        case "ingest_and_curate" => IngestAndCurate.run(spark, a, tracer, listener)
      } finally spark.stop()

    r.detail("session_s") = (sessionS, "s")
    r.detail("error_rate") = (r.failed.toDouble / math.max(1L, r.attempted), "ratio")
    r.notes.foreach(n => println(s"note ${a.workload} $n"))
    r.detail.foreach { case (k, (v, u)) => println(s"detail ${a.workload} $k ${num(v)} $u") }
    if (!a.trace) r.e2e.foreach { case (k, (v, u)) => println(s"metric ${a.workload} $k ${num(v)} $u") }
    else r.layer.foreach { case (k, (v, u)) => println(s"layer ${a.workload} $k ${num(v)} $u") }
    val digest = r.digest.digest().map(b => f"$b%02x").mkString
    println(s"digest ${a.workload} seed=${a.seed} $digest")

    if (a.trace) {
      val dir = new File(a.traceDir); dir.mkdirs()
      val out = new File(dir, s"${a.workload}-seed${a.seed}.json")
      val w = new java.io.PrintWriter(out, "UTF-8")
      try {
        w.println("{\"spans\":[")
        w.println(tracer.all.map { s =>
          s"""{"id":${s.id},"name":"${esc(s.name)}","parent":${s.parent},"op":${s.op},""" +
            s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
        }.mkString(",\n"))
        w.println("],\"self_ms\":{")
        w.println(tracer.selfTimes.map { case (n, c, tot, self) =>
          s""""${esc(n)}":{"calls":$c,"total_ms":${num(tot)},"self_ms":${num(self)}}"""
        }.mkString(",\n"))
        w.println("},\"layer_self_ms\":{")
        w.println(layerSelf(tracer).map { case (l, ms) => s""""${esc(l)}":${num(ms)}""" }.mkString(",\n"))
        w.println("},\"layers\":{")
        w.println(r.layer.map { case (k, (v, u)) =>
          s""""${esc(k)}":{"value":${num(v)},"unit":"${esc(u)}"}""" }.mkString(",\n"))
        w.println("}}")
      } finally w.close()
      println(s"trace ${a.workload} wrote ${out.getPath}")
      println("self-time by layer (ms): " +
        layerSelf(tracer).map { case (l, ms) => f"$l=$ms%.1f" }.mkString(" "))
      println("self-time by span (ms):")
      tracer.selfTimes.take(15).foreach { case (n, c, tot, self) =>
        println(f"  $n%-28s calls=$c%5d total=$tot%10.1f self=$self%10.1f")
      }
    }

    val metrics = if (a.trace) r.layer else r.e2e
    val body = metrics.map { case (k, (v, u)) =>
      s""""${esc(k)}": {"value": ${num(v)}, "unit": "${esc(u)}"}""" }.mkString(", ")
    println(s"""{"correct": ${r.failed == 0}, "attempted": ${math.max(1L, r.attempted)}, """ +
      s""""failed": ${r.failed}, "metrics": {$body}}""")
  }
}
