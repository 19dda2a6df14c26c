package graft.perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** Benchmark entry point. One JVM runs one workload as a closed loop with
  * one client against a `local[cores]` session, then writes every sample,
  * check and (when traced) per-layer figure to the `--out` JSON file.
  * `perfbench/run.py` builds this, launches it and prints the summary.
  *
  * Arguments: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --out <file> --work <dir> --sf <dir> [--cores <n>] [--scores-out <dir>]`.
  */
object Main {

  final case class Opts(
      workload: String, seed: Long, seconds: Double, trace: Boolean,
      out: String, work: String, sf: String, cores: Int, scoresOut: Option[String])

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("out"), need("work"), need("sf"),
      m.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors),
      m.get("scores-out"))
  }

  /** Configured like `graft.Bench`: UTC, AQE, parquet nanos as long,
    * shuffle partitions = cores. Scratch space stays under the work dir. */
  def session(o: Opts): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
    if (o.trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def writeJson(path: String, v: Map[String, Any]): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      Serialization.write(v)(DefaultFormats).getBytes(java.nio.charset.StandardCharsets.UTF_8))

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(o)
    val collector = if (o.trace) Some(new Collector) else None
    collector.foreach(spark.sparkContext.addSparkListener)
    val run = new Run(spark, new Tracer, o)
    run.setup("session_s", (System.currentTimeMillis() - jvmStart) / 1e3)
    try o.workload match {
      case "http_paper" => new HttpPaper(run).apply()
      case "grid_ops" => new GridOps(run).apply()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } catch {
      case NonFatal(e) => run.check("workload_completed", ok = false, e.toString.take(300))
    }
    collector.foreach { c =>
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      run.perLayer ++= Layers(run, c)
    }
    writeJson(o.out, run.result)
    spark.stop()
  }
}

/** Samples, failure counts and check results of one run. */
final class Run(val spark: SparkSession, val tracer: Tracer, val o: Main.Opts) {
  val setupParts = mutable.LinkedHashMap.empty[String, Double]
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  val extra = mutable.LinkedHashMap.empty[String, Any]
  val perLayer = mutable.LinkedHashMap.empty[String, Double]
  /** Per-layer figures measured beside the spans (traced run only). */
  val layerSamples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer.empty[String]
  private val t0 = System.nanoTime()

  def setup(part: String, secs: Double): Unit = setupParts(part) = secs
  def sample(metric: String, v: Double): Unit =
    samples.getOrElseUpdate(metric, mutable.ArrayBuffer.empty[Double]) += v
  def layerSample(metric: String, v: Double): Unit =
    layerSamples.getOrElseUpdate(metric, mutable.ArrayBuffer.empty[Double]) += v
  def check(name: String, ok: Boolean, detail: String): Unit =
    checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)
  def elapsed: Double = (System.nanoTime() - t0) / 1e9

  /** Whether the measured window has time left (always at least one pass). */
  def more(start: Double, passes: Int): Boolean = passes == 0 || elapsed - start < o.seconds

  /** One timed op: counted as attempted; a throw counts it as failed and
    * leaves it out of the samples. Returns its seconds on success. */
  def op(name: String)(f: => Unit): Option[Double] = {
    attempted += 1
    val t = System.nanoTime()
    try {
      tracer.span(name)(f)
      Some((System.nanoTime() - t) / 1e9)
    }
    catch {
      case NonFatal(e) =>
        failed += 1
        failures += s"$name: ${e.toString.take(300)}"
        None
    }
  }

  def result: Map[String, Any] = Map(
    "workload" -> o.workload, "seed" -> o.seed, "cores" -> o.cores, "trace" -> o.trace,
    "seconds" -> o.seconds, "sf" -> o.sf,
    "setup" -> setupParts.toMap,
    "samples" -> samples.map { case (k, v) => k -> v.toSeq }.toMap,
    "attempted" -> attempted, "failed" -> failed, "failures" -> failures.toSeq,
    "checks" -> checks.toSeq, "extra" -> extra.toMap, "per_layer" -> perLayer.toMap)
}

object Run {
  def seconds(f: => Any): Double = {
    val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9
  }
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}
