package perfbench

import graft.api.SparkSearchEngine
import graft.query.QueryLexer

/** The per-layer metric names (BENCHMARK.json `per_layer`). Every traced
  * run prints all of them; a layer the workload does not exercise reads 0. */
object Layers {
  val StoreBytesTables: Seq[String] = Seq("postings_raw", "doc_dict", "stats",
    "term_stats", "postings", "index_blocks", "lineage")
  val StoreFilesTables: Seq[String] = Seq("doc_dict", "postings", "index_blocks",
    "deleted_docs", "deleted_df")
  val BuildStages: Seq[String] = Seq("postings_raw", "doc_dict", "stats",
    "term_stats", "postings", "index_blocks")
  val SparkKinds: Seq[String] = Seq("search", "fresh_search", "build", "bulk")

  val all: Seq[(String, String)] =
    Seq("server.overhead_ms" -> "ms",
      "api.wand_ms" -> "ms", "api.wand_calls" -> "count",
      "api.driver_ms" -> "ms", "api.driver_calls" -> "count",
      "api.dense_calls" -> "count", "api.hit_fetch_ms" -> "ms",
      "api.engine_open_ms" -> "ms", "api.bulk_ms_per_query" -> "ms",
      "query.parse_us" -> "us", "query.snippet_us" -> "us",
      "codec.decode_postings_per_s" -> "1/s", "codec.blocks_per_term" -> "count",
      "text.analyze_turns_per_s" -> "1/s") ++
      BuildStages.map(s => s"build.${s}_s" -> "s") ++
      Seq("build.incremental_s" -> "s", "build.delete_s" -> "s", "build.compact_s" -> "s") ++
      StoreBytesTables.map(t => s"store.bytes.$t" -> "bytes") ++
      StoreFilesTables.map(t => s"store.files.$t" -> "count") ++
      Seq("ops.hygiene_s" -> "s", "ops.hygiene_keepers" -> "count",
        "ops.neardup_gated_s" -> "s", "ops.neardup_full_s" -> "s",
        "ops.neardup_pairs_gated" -> "count", "ops.neardup_pairs_full" -> "count",
        "ops.neardup_band_rows_gated" -> "count", "ops.neardup_band_rows_full" -> "count") ++
      SparkKinds.flatMap(k => JobListener.SparkFields.map(f =>
        s"spark.$k.$f" -> JobListener.SparkUnits(f))) ++
      Seq("trace.overhead_pct" -> "%")

  private val units = all.toMap

  /** Fills `r.layer` with every name, taking values from `got`; a name
    * without a value, or whose statistic had no samples (NaN), reads 0. */
  def fill(r: Result, got: collection.Map[String, Double]): Unit = {
    val unknown = got.keySet -- units.keySet
    require(unknown.isEmpty, s"undeclared layer metrics: ${unknown.mkString(", ")}")
    all.foreach { case (n, u) =>
      r.layer(n) = (got.get(n).filterNot(v => v.isNaN || v.isInfinite).getOrElse(0.0), u)
    }
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** topKAuto's routing, made visible: single bare term → WAND, else the
    * driver algebra, falling back to the dense evaluator. Same calls in
    * the same order as `SparkSearchEngine.topKAuto`. */
  def routedTopK(e: SparkSearchEngine, q: String, acc: Double, k: Int, tr: Tracer): Vector[(Long, Double)] =
    tr.span("api.topKAuto") {
      QueryLexer.lex(q) match {
        case Vector(QueryLexer.QTerm(t)) => tr.span("api.wand")(e.termTopKWand(t, acc, k))
        case _ => tr.span("api.driver")(e.topKDriver(q, acc, k))
          .getOrElse(tr.span("api.dense")(e.topKDense(q, acc, k)))
      }
    }

  def isSingleTerm(q: String): Boolean = QueryLexer.lex(q) match {
    case Vector(QueryLexer.QTerm(_)) => true
    case _ => false
  }

  /** Route-span figures shared by the workloads. */
  def routeFigures(tr: Tracer): Seq[(String, Double)] = Seq(
    "api.wand_ms" -> mean(tr.named("api.wand").map(_.ms)),
    "api.wand_calls" -> tr.named("api.wand").size.toDouble,
    "api.driver_ms" -> mean(tr.named("api.driver").map(_.ms)),
    "api.driver_calls" -> tr.named("api.driver").size.toDouble,
    "api.dense_calls" -> tr.named("api.dense").size.toDouble)

  /** Spark figures of every operation kind the tracer saw. */
  def sparkFigures(tr: Tracer, counters: Map[Int, OpCounters]): Seq[(String, Double)] =
    SparkKinds.flatMap(k => JobListener.perKind(k, tr.ops, counters))
}
