package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: parse the flags, start a session with
  * private warehouse/temp roots under `--out`, run the named workload
  * and write `result.json` (and, traced, `spans.jsonl` and
  * `epochs.jsonl`) into `--out`.
  * `perfbench/run.py` builds this, launches it, and turns the result
  * into the benchmark's one-line report. */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val out = args("out")
    val cores = args.getOrElse("cores", Runtime.getRuntime.availableProcessors.toString).toInt
    val ctx0 = Ctx(
      spark = null, seed = args("seed").toLong,
      seconds = args("seconds").toDouble, out = out, cores = cores,
      sfDir = args.getOrElse("sf-dir", ""),
      setups = args.getOrElse("setups", "3").toInt,
      warmup = args.getOrElse("warmup", "2").toInt,
      tracer = new Tracer(args.getOrElse("trace", "0") == "1", s"$workload-${args("seed")}"),
      collector = None)
    new java.io.File(out).mkdirs()

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .config("spark.local.dir", s"$out/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val startMs = (System.nanoTime() - t0) / 1e6
    val collector =
      if (ctx0.tracer.enabled) {
        val c = new Collector(spark)
        spark.sparkContext.addSparkListener(c)
        Some(c)
      } else None
    val ctx = ctx0.copy(spark = spark, collector = collector)

    val res = workload match {
      case "lab_enrich" | "dim_churn" | "changelog_agg" =>
        StreamingDriver.run(ctx, StreamingWorkloads.byName(workload))
      case "batch_families" => BatchFamilies.run(ctx)
      case "batch_oracle" => BatchFamilies.dumpOracle(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    res.layer("exec.start_ms", startMs, "ms")
    res.layer("jvm.heap_peak_mb", Jvm.heapPeakMb, "MB")
    ctx.tracer.write(s"$out/spans.jsonl")
    if (res.epochLog.nonEmpty) {
      val w = new java.io.PrintWriter(s"$out/epochs.jsonl", "UTF-8")
      try res.epochLog.foreach(w.println) finally w.close()
    }
    val w = new java.io.PrintWriter(s"$out/result.json", "UTF-8")
    try w.println(res.toJson(workload, ctx.seed, cores, ctx.tracer.enabled)) finally w.close()
    spark.stop()
  }
}

final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
                     out: String, cores: Int, sfDir: String, setups: Int, warmup: Int,
                     tracer: Tracer, collector: Option[Collector])

/** What one run measured. `e2e` carries values with their sample
  * counts; `layers` the traced per-layer values; `details` raw series
  * (epoch latencies, per-epoch job counts, output digests) for the
  * determinism checks and the diff tool. */
final class Result {
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String, Int)]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  val details = mutable.LinkedHashMap.empty[String, String] // name -> raw JSON
  val failures = mutable.ArrayBuffer.empty[String]
  /** Traced: one JSON line per epoch (phases summed over the statements'
    * new progress entries, cumulative listener counters). */
  val epochLog = mutable.ArrayBuffer.empty[String]
  var attempted = 0L

  def metric(name: String, v: Double, unit: String, samples: Int): Unit = e2e(name) = (v, unit, samples)
  def layer(name: String, v: Double, unit: String): Unit = layers(name) = (v, unit)
  def detail(name: String, json: String): Unit = details(name) = json

  /** Run one operation, counting it and any exception it throws. */
  def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch { case e: Throwable => failures += s"$what: $e"; None }
  }
  def fail(msg: String): Unit = failures += msg

  def toJson(workload: String, seed: Long, cores: Int, traced: Boolean): String = {
    import Json.obj
    obj(Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString,
      "cores" -> cores.toString, "traced" -> traced.toString,
      "attempted" -> attempted.toString, "failed" -> failures.size.toString,
      "failures" -> failures.map(Json.str).mkString("[", ",", "]"),
      "e2e" -> obj(e2e.map { case (k, (v, u, n)) =>
        k -> s"""{"value":${Json.num(v)},"unit":${Json.str(u)},"samples":$n}""" }),
      "layers" -> obj(layers.map { case (k, (v, u)) =>
        k -> s"""{"value":${Json.num(v)},"unit":${Json.str(u)}}""" }),
      "details" -> obj(details)))
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def nums(xs: Iterable[Double]): String = xs.map(num).mkString("[", ",", "]")
  /** An object from already-encoded values. */
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

object Stats {
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }
  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** The highest whole percentile with at least ten samples above it
    * (never below the median; with fewer than 20 samples the sample
    * supports no tail beyond the median, and the median is reported). */
  def tailPct(n: Int): Int = math.max(50, math.floor(100.0 * (1 - 10.0 / n)).toInt)
}

object Jvm {
  import java.lang.management.{ManagementFactory, MemoryType}
  import scala.jdk.CollectionConverters._
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  /** CPU time of the whole JVM (all threads); unlike wall time it does
    * not grow while the host withholds the CPU. */
  def cpuMs: Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6
  def heapPeakMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1048576.0
}
