package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** Workload settings from perfbench/settings.json (one object per workload). */
final class Settings(node: JsonNode) {
  def int(k: String): Int = req(k).asInt()
  def dbl(k: String): Double = req(k).asDouble()
  def str(k: String): String = req(k).asText()
  def intMap(k: String): Map[String, Int] =
    req(k).fields().asScala.map(e => e.getKey -> e.getValue.asInt()).toMap
  private def req(k: String): JsonNode =
    Option(node.get(k)).getOrElse(throw new IllegalArgumentException(s"settings: missing $k"))
}

/** What one run measured and checked. */
final class Result {
  private var attemptedN = 0L
  private var failedN = 0L
  val mismatches = mutable.ArrayBuffer[String]()
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()

  def attempt(n: Long = 1): Unit = synchronized { attemptedN += n }
  def fail(why: String): Unit = synchronized {
    failedN += 1
    if (failedN <= 20) System.err.println(s"[bench] failed: $why")
  }
  def mismatch(why: String): Unit = synchronized { mismatches += why; fail("wrong result: " + why) }
  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  def json: String = {
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
    val ms = metrics.map { case (n, (v, u)) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
    s"""{"correct": ${mismatches.isEmpty}, "attempted": $attemptedN, "failed": $failedN, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}

/** Progress lines on stderr, stamped with seconds since JVM start. */
object Log {
  private val t0 = System.nanoTime()
  def apply(msg: String): Unit =
    System.err.println(f"[bench] ${(System.nanoTime() - t0) / 1e9}%6.1f s  $msg")
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (NaN for an empty sample). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e6)
  }
}

/** Everything a workload needs: the measured session, its settings, the
  * run's private directory, and whether this is a traced run.
  */
final case class Ctx(spark: SparkSession, s: Settings, seed: Long, seconds: Int,
                     traced: Boolean, dir: String, cpus: Int, perturb: Boolean,
                     traceOut: String) {
  def path(name: String): String = Paths.get(dir, name).toString
}

/** Entry point: `perfbench.Run --workload W --seed N --seconds S --trace 0|1
  * --settings F --dir D --result R [--trace-out T] [--perturb]`, normally
  * launched by perfbench/run.py. Writes the result JSON to R.
  */
object Run {
  def main(args: Array[String]): Unit = {
    val a = args.toList.sliding(2).collect { case List(k, v) if k.startsWith("--") => k -> v }.toMap
    val workload = a("--workload")
    val all = new ObjectMapper().readTree(Files.readString(Paths.get(a("--settings"))))
    val node = Option(all.get(workload))
      .getOrElse(throw new IllegalArgumentException(s"unknown workload $workload"))
    val s = new Settings(node)
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = session(s.str("session"), cpus)
    val ctx = Ctx(spark, s, a("--seed").toLong, a("--seconds").toInt, a("--trace") == "1",
      a("--dir"), cpus, args.contains("--perturb"), a.getOrElse("--trace-out", ""))
    val result = new Result
    Log(s"session up ($workload, seed ${ctx.seed}, traced ${ctx.traced})")
    try {
      workload match {
        case "serve" => Serve.run(ctx, result)
        case "batch" => Batch.run(ctx, result)
      }
      Files.writeString(Paths.get(a("--result")), result.json + "\n")
    } finally spark.stop()
  }

  /** The session of the entry point a workload stands in for:
    * `SearchServer.main` (8 shuffle partitions) for serve, `graft.Main`
    * (Spark defaults) for batch; `local[nproc]` for both, since the benchmark
    * runs on one host. The UI-off / UTC / directory settings arrive as system
    * properties from run.py.
    */
  private def session(kind: String, cpus: Int): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cpus]")
    val spark = kind match {
      case "SearchServer.main" =>
        b.config("spark.sql.shuffle.partitions", 8).config("spark.ui.enabled", "false")
          .getOrCreate()
      case "graft.Main" => b.appName("graft-search-engine").getOrCreate()
    }
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
