package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.SparkSession
import graft.model.Turn
import graft.text.TextPipeline
import scala.collection.mutable

/** Run parameters. `tiny` shrinks every size for the smoke test;
  * `corrupt` perturbs one checked answer so the check must fail. */
final case class Args(
    workload: String, seed: Long, seconds: Int, trace: Boolean,
    root: String, traceDir: String, cores: Int, tiny: Boolean, corrupt: Boolean)

/** What a workload hands back to Main. Metrics are name → (value, unit). */
final class Result {
  var attempted = 0L
  var failed = 0L
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Workload-specific figures printed as detail lines (not gated). */
  val detail = mutable.LinkedHashMap.empty[String, (Double, String)]
  val notes = mutable.ArrayBuffer.empty[String]
  val digest = java.security.MessageDigest.getInstance("SHA-256")

  def addDigest(s: String): Unit = { digest.update(s.getBytes(UTF_8)); digest.update(0: Byte) }

  /** One checked answer: counts a failure on mismatch and notes it. */
  def check(what: String, ok: Boolean): Unit =
    if (!ok) { failed += 1; notes += s"MISMATCH $what" }
}

object Stats {
  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted.toIndexedSeq
    if (s.isEmpty) return Double.NaN
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def timeS[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e9)
  }
}

object Files {
  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(deleteTree)
    f.delete(); ()
  }
  /** (data files, bytes) under a table directory; hidden/marker files skipped. */
  def tableSize(dir: File): (Long, Long) = {
    if (!dir.exists()) return (0L, 0L)
    var n = 0L; var b = 0L
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(walk)
      else if (!f.getName.startsWith(".") && !f.getName.startsWith("_")) { n += 1; b += f.length() }
    walk(dir)
    (n, b)
  }
}

/** Seeded inputs. The program only ever sees generated turns and query
  * strings; everything derives from the run's seed. */
object Inputs {
  /** Words of the generator's vocabulary. Bare terms are looked up raw
    * (reference behaviour), so bare-term queries use only words that are
    * their own index key; the lexer reads a leading and/or/not as an
    * operator, so such words are left out of bare positions. */
  private val words: Vector[String] = Vector(
    "run", "runs", "running", "query", "queries", "engine", "engines",
    "whale", "whales", "blue", "red", "fish", "fishes", "index", "indexing",
    "search", "searching", "data", "spark", "cluster", "partition", "token",
    "tokens", "score", "scoring", "fast", "faster", "quickly", "nation",
    "rational", "connect", "connection", "happy", "sad", "generate",
    "communication", "alpha", "beta", "gamma", "delta", "epsilon", "tool",
    "call", "result", "error", "user", "assistant", "agent", "model", "long",
    "short", "big", "small", "large", "time", "day", "week", "code", "test")
  private def opPrefixed(w: String): Boolean = {
    val l = w.toLowerCase; l.startsWith("and") || l.startsWith("or") || l.startsWith("not")
  }
  val bareWords: Vector[String] =
    words.filter(w => TextPipeline.term(w) == w && !opPrefixed(w))
  private val planted: Vector[String] =
    Vector("blue whale", "query engine", "red fish", "x y", "blue blue", "a b c")

  def longTail(rnd: scala.util.Random): String =
    "tok" + math.exp(rnd.nextDouble() * 10.82).toLong

  private def term(rnd: scala.util.Random): String =
    if (rnd.nextInt(3) == 0) longTail(rnd) else bareWords(rnd.nextInt(bareWords.size))

  private def phrase(rnd: scala.util.Random): String = "\"" + (
    if (rnd.nextInt(2) == 0) planted(rnd.nextInt(planted.size))
    else words(rnd.nextInt(words.size)) + " " + words(rnd.nextInt(words.size))) + "\""

  /** The five query shapes: bare term, multi-term, phrase, boolean over
    * phrases, mixed term+phrase. */
  val Shapes: Vector[String] = Vector("term", "multi", "phrase", "boolean", "mixed")

  def query(shape: String, rnd: scala.util.Random): String = shape match {
    case "term" => term(rnd)
    case "multi" => (0 until 2 + rnd.nextInt(2)).map(_ => term(rnd)).mkString(" ")
    case "phrase" => phrase(rnd)
    case "boolean" => rnd.nextInt(4) match {
      case 0 => s"${phrase(rnd)} AND ${phrase(rnd)}"
      case 1 => s"${phrase(rnd)} OR ${phrase(rnd)}"
      case 2 => s"(${phrase(rnd)} OR ${phrase(rnd)}) NOT ${phrase(rnd)}"
      case _ => s"(${phrase(rnd)} AND ${phrase(rnd)}) OR ${phrase(rnd)}"
    }
    case "mixed" => s"${phrase(rnd)} ${term(rnd)} ${term(rnd)}"
  }

  /** A query the engine accepts (the evaluator runs on a tree-building
    * algebra, so this touches no data). */
  def valid(q: String): Boolean =
    scala.util.Try(graft.query.QueryEvaluator.evaluate(q,
      new graft.query.DenseEval.AstAlgebra(false), graft.GraftParams())).isSuccess

  /** `n` distinct valid queries; query i has shape i mod shapes.size, for
    * every seed. */
  def pool(n: Int, rnd: scala.util.Random, shapes: Seq[String] = Shapes): Vector[(String, String)] = {
    val out = mutable.LinkedHashMap.empty[String, String]
    (0 until n).foreach { i =>
      val shape = shapes(i % shapes.size)
      var q = query(shape, rnd)
      while (out.contains(q) || !valid(q)) q = query(shape, rnd)
      out(q) = shape
    }
    out.toVector
  }

  /** Zipf(s) rank sampler over 0 until n. */
  final class Zipf(n: Int, s: Double, rnd: scala.util.Random) {
    private val cdf = {
      val w = (1 to n).map(r => 1.0 / math.pow(r, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def next(): Int = {
      val u = rnd.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** Writes the seeded corpus of `convs` conversations as parquet. */
  def writeCorpus(spark: SparkSession, convs: Long, seed: Long, path: String): Unit =
    graft.corpus.TranscriptGen.generate(spark, convs, seed = seed)
      .write.mode("overwrite").parquet(path)

  def utf8Bytes(turns: Seq[Turn]): Long = turns.iterator.map(_.text.getBytes(UTF_8).length.toLong).sum

  /** Stable doc_id for the curation operators: conversation · 8 + turn. */
  def docId(t: Turn): Long = t.conv_id.stripPrefix("conv-").toLong * 8 + t.turn_idx
}
