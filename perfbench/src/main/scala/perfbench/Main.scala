package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Benchmark process: one workload, one fresh JVM. `run.py` launches it,
  * pins its environment, and turns the record it writes into the final
  * result line.
  *
  *   perfbench.Main --workload <suite|endpoint_read|endpoint_mixed>
  *     --seed <n> --seconds <s> --trace <0|1> --data <dir> --out <file>
  *     --work <dir> --t0-ms <epoch ms at launch> [--expected <file>]
  *     [--record <file>]
  */
object Main {
  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def get(k: String): Option[String] = m.get(k)
    def int(k: String): Int = apply(k).toInt
  }

  def main(argv: Array[String]): Unit = {
    val args = Args(argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap)
    val cpus = Runtime.getRuntime.availableProcessors()
    val work = args("work")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config(graft.Tables.requiredConfs)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    System.err.println(f"[perfbench] session up at ${setupSeconds(args)}%.1fs")
    val probe = Probe.install(spark)
    val trace = new Trace(args("trace") == "1")
    val rec = new Record
    try {
      args("workload") match {
        case "suite" => new Suite(spark, probe, trace, args, rec).run()
        case w @ ("endpoint_read" | "endpoint_mixed") =>
          new Endpoint(spark, probe, trace, args, rec, mixed = w == "endpoint_mixed").run()
        case w => sys.error(s"unknown workload $w")
      }
      if (trace.enabled)
        trace.write(java.nio.file.Paths.get(work, "trace.jsonl"))
    } catch {
      case e: Throwable =>
        rec.correct = false
        rec.note(s"run aborted: $e")
        e.printStackTrace()
    }
    rec.write(java.nio.file.Paths.get(args("out")))
    spark.stop()
  }

  def setupSeconds(args: Args): Double =
    (System.currentTimeMillis() - args("t0-ms").toLong) / 1e3
}

/** What a run measured: end-to-end metrics, per-layer metrics, the
  * workload-specific report lines, and the outcome counts.
  */
final class Record {
  var correct = true
  var attempted = 0L
  var failed = 0L
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  val report = mutable.LinkedHashMap.empty[String, (Double, String)]
  val notes = mutable.ArrayBuffer.empty[String]

  def note(s: String): Unit = synchronized {
    notes += s
    System.err.println(s"[perfbench] $s")
  }

  def fail(what: String): Unit = synchronized { failed += 1; note(s"failed: $what") }

  def write(path: java.nio.file.Path): Unit = {
    def obj(m: mutable.LinkedHashMap[String, (Double, String)]) =
      m.map { case (k, (v, u)) =>
        s""""${Json.esc(k)}":{"value":${Json.num(v)},"unit":"${Json.esc(u)}"}"""
      }.mkString("{", ",", "}")
    val s = s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
      s""""e2e":${obj(e2e)},"layers":${obj(layers)},"report":${obj(report)},""" +
      s""""notes":[${notes.map(n => "\"" + Json.esc(n) + "\"").mkString(",")}]}"""
    java.nio.file.Files.write(path, s.getBytes("UTF-8"))
  }
}

object Stats {
  /** Nearest-rank percentile, p in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
    }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The highest of `wanted` percentiles with at least 10 samples beyond it. */
  def tailPct(n: Int, wanted: Seq[Double]): Double =
    wanted.sorted.reverse.find(p => n * (1 - p / 100.0) >= 10).getOrElse(50.0)
}
