package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload in one process:
  *
  * {{{
  * java -cp <classpath> perfbench.Main --workload <name> --inputs <dir>
  *   --work <dir> --seconds <s> --trace <0|1> --cpus <n>
  * }}}
  *
  * Reads the inputs `gen.py` made, drives the program for `--seconds`,
  * and writes `result.json` (metrics, operation counts, staging times)
  * plus the workload's outputs under `--work` for `check.py`. With
  * `--trace 1` the same loop runs with spans and listeners, and the
  * metrics are the per-layer ones.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val t0 = System.nanoTime()
    val cpus = opts("cpus")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // call stacks deep enough to name the graft frames every job came
      // from (the traced run splits work by them)
      .config("spark.callstack.depth", "200")
      // the engine's session shape (as graft.Bench and graft.Verify use it)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, opts("inputs"), opts("work"), opts("seconds").toDouble,
      if (opts("trace") == "1") Some(new Trace(spark)) else None)
    ctx.setup("session_s", (System.nanoTime() - t0) / 1e9)
    try {
      opts("workload") match {
        case "lake_mixed" => LakeMixed.run(ctx)
        case "stream_ingest" => StreamIngest.run(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      ctx.trace.foreach { t =>
        Files.write(Paths.get(ctx.work, "spans.json"),
          t.spansJson.getBytes(StandardCharsets.UTF_8))
      }
      ctx.writeResult()
    } finally spark.stop()
  }
}

/** What a workload reads and reports. */
final class Ctx(val spark: SparkSession, val inputs: String, val work: String,
    val seconds: Double, val trace: Option[Trace]) {
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  val setupParts = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0L
  var failed = 0L

  def traced: Boolean = trace.nonEmpty
  def span[T](name: String)(body: => T): T = trace.fold(body)(_.span(name)(body))
  def setup(name: String, s: Double): Unit = setupParts(name) = s
  def metric(name: String, v: Double): Unit = metrics(name) = v
  def path(rel: String): String = Paths.get(work, rel).toString
  def input(rel: String): String = Paths.get(inputs, rel).toString

  def writeResult(): Unit = {
    def obj(m: collection.Map[String, Double]) =
      m.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString("{", ",", "}")
    val json = s"""{"attempted":$attempted,"failed":$failed,"metrics":${obj(metrics)},"setup":${obj(setupParts)}}"""
    Files.write(Paths.get(work, "result.json"), json.getBytes(StandardCharsets.UTF_8))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e6)
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** A collected row as a JSON array; timestamps as epoch micros. */
  def row(r: org.apache.spark.sql.Row): String = (0 until r.length).map { i =>
    r.get(i) match {
      case null => "null"
      case t: java.sql.Timestamp => (t.getTime / 1000 * 1000000L + t.getNanos / 1000 % 1000000L).toString
      case t: java.time.Instant => (t.getEpochSecond * 1000000L + t.getNano / 1000).toString
      case t: java.time.LocalDateTime =>
        val i2 = t.toInstant(java.time.ZoneOffset.UTC)
        (i2.getEpochSecond * 1000000L + i2.getNano / 1000).toString
      case d: Double => if (d.isNaN) "null" else d.toString
      case f: Float => f.toDouble.toString
      case n: java.lang.Number => n.toString
      case s: String => str(s)
      case b: Boolean => b.toString
      case o => str(o.toString)
    }
  }.mkString("[", ",", "]")

  def write(path: String, s: String): Unit =
    Files.write(Paths.get(path), s.getBytes(StandardCharsets.UTF_8))

  /** Bytes in the regular files under `root`. */
  def dirBytes(root: String): Long = {
    var bytes = 0L
    val st = Files.walk(Paths.get(root))
    try st.forEach(p => if (Files.isRegularFile(p)) bytes += Files.size(p))
    finally st.close()
    bytes
  }
}
