package perfbench

import scala.collection.mutable.ArrayBuffer

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** Batch workload: repeated passes over eight `SparkEntry.queries`
  * entries, one query in flight; an epoch is one pass. Each execution
  * writes its result as parquet (the timed region); its order-independent
  * digest is read back outside the timed region and must equal the
  * golden digest `run.py` holds for the fixture. Set-up is a first, cold pass in a
  * fresh session, which builds the session-memoized shared LSH and
  * cluster tables; it is repeated `setups` times and the median is
  * reported. Timed passes run until `seconds` have elapsed, whole passes
  * only, so every query is sampled equally. The order is fixed: the
  * input is the committed fixture, and a query's time depends on which
  * query ran before it. */
object BatchFamilies {
  val names = Seq("q01_pricing_agg", "q03_enrich_join", "q07_window_tumble",
    "q71_idf_cosine_pairs", "q101_exact_substr", "q123_lsh_recall",
    "q175_dup_pagerank", "q178_graph_manifest")

  /** For `golden.py`: each query once, its result kept as parquet under
    * `out/golden/<name>`, with its digest and its DuckDB oracle SQL in
    * `out/oracle.json`. */
  def dumpOracle(ctx: Ctx): Result = {
    val entries = names.map { q =>
      val out = s"${ctx.out}/golden/$q"
      SparkEntry.queries(q)(ctx.spark, ctx.sfDir).write.mode("overwrite").parquet(out)
      val df = ctx.spark.read.parquet(out)
      s"""${Json.str(q)}:{"digest":${Json.str(Digest.of(df, df.columns.toSeq))},""" +
        s""""sql":${Json.str(graft.OracleSql.map(q))}}"""
    }
    val w = new java.io.PrintWriter(s"${ctx.out}/oracle.json", "UTF-8")
    try w.println(entries.mkString("{", ",", "}")) finally w.close()
    new Result
  }

  /** One query execution: its timed wall, the jobs inside it, its wall
    * not covered by any job and, traced, the listener counters and GC
    * time it added. */
  final case class Exec(name: String, timed: Boolean, ms: Double, cpuMs: Double, jobs: Int,
                        gapMs: Long, rows: Long, counters: Map[String, Long])

  def run(ctx: Ctx): Result = {
    val res = new Result
    val tr = ctx.tracer
    val digests = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val execs = ArrayBuffer.empty[Exec]
    var sess: SparkSession = null

    def exec(name: String, timed: Boolean): Unit = {
      val out = s"${ctx.out}/batch/$name"
      res.op(s"query $name") {
        val q = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))
        val before = ctx.collector.map { c => c.drain(); c.counters + ("gc_ms" -> Jvm.gcMs) }
        val wall0 = System.currentTimeMillis()
        val cpu0 = Jvm.cpuMs
        val t0 = System.nanoTime()
        tr.span(s"operators.$name") { q(sess, ctx.sfDir).write.mode("overwrite").parquet(out) }
        val msTaken = (System.nanoTime() - t0) / 1e6
        val cpu = Jvm.cpuMs - cpu0
        val wall1 = System.currentTimeMillis()
        val gc1 = Jvm.gcMs
        val (jobs, gap, added) = ctx.collector.map { c =>
          c.drain()
          val after = c.counters + ("gc_ms" -> gc1)
          (c.jobsStartedIn(wall0, wall1).size, (wall1 - wall0) - c.busyMs(wall0, wall1),
            after.map { case (k, v) => k -> (v - before.get(k)) })
        }.getOrElse((0, 0L, Map.empty[String, Long]))
        val d = tr.span("check") {
          val df = sess.read.parquet(out)
          Digest.of(df, df.columns.toSeq)
        }
        digests.get(name) match {
          case Some(prev) if prev != d => res.fail(s"$name: digest $d differs from this run's first $prev")
          case _ => digests(name) = d
        }
        execs += Exec(name, timed, msTaken, cpu, jobs, gap, Digest.rows(d), added)
      }
    }

    /** (wall seconds, CPU ms) the pass's queries took, output checks excluded. */
    def pass(order: Seq[String], timed: Boolean): (Double, Double) = {
      val from = execs.size
      order.foreach(exec(_, timed))
      val ran = execs.drop(from)
      (ran.map(_.ms).sum / 1000, ran.map(_.cpuMs).sum)
    }

    val setupS = (1 to ctx.setups).map { _ =>
      sess = ctx.spark.newSession()
      tr.span("setup") { pass(names, timed = false)._1 }
    }

    val passS = ArrayBuffer.empty[Double]
    val passCpuMs = ArrayBuffer.empty[Double]
    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    tr.span("timed") {
      while (System.nanoTime() < deadline || passS.isEmpty) {
        val (s, cpu) = pass(names, timed = true)
        passS += s
        passCpuMs += cpu
      }
    }

    // an epoch is one pass: the median of single queries would fall
    // between two different queries' latencies
    val timed = execs.filter(_.timed).toSeq
    val lat = passS.map(_ * 1000).toSeq
    val rows = timed.map(_.rows).sum
    val pct = Stats.tailPct(lat.size)
    val prefix = if (tr.enabled) "trace." else ""
    res.metric(s"${prefix}setup_s", Stats.median(setupS), "s", setupS.size)
    res.metric(s"${prefix}epoch_p50_ms", Stats.median(lat), "ms", lat.size)
    res.metric(s"${prefix}epoch_tail_ms", Stats.percentile(lat, pct), "ms", lat.size)
    res.metric(s"${prefix}rows_per_s", rows / (lat.sum / 1000.0), "1/s", lat.size)
    res.metric(s"${prefix}epoch_cpu_ms", Stats.median(passCpuMs.toSeq), "ms", lat.size)
    res.detail("tail_percentile", pct.toString)
    res.detail("pass_s", Json.nums(passS))
    res.detail("rows_per_epoch", Json.num(rows.toDouble / math.max(1, passS.size)))
    res.detail("setup_s", Json.nums(setupS))
    res.detail("epoch_ms", Json.nums(lat))
    res.detail("query_ms", Json.obj(names.map(q => q -> Json.nums(timed.filter(_.name == q).map(_.ms)))))
    res.detail("digests", digests.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
      .mkString("{", ",", "}"))

    if (tr.enabled) {
      val n = passS.size
      val perPass = (k: String) => timed.map(_.counters.getOrElse(k, 0L)).sum.toDouble / n
      res.detail("jobs_per_epoch", execs.map(_.jobs).mkString("[", ",", "]"))
      res.layer("spark.driver_gap_ms", timed.map(_.gapMs).sum.toDouble / passS.size, "ms")
      res.layer("spark.jobs_per_epoch", timed.map(_.jobs).sum.toDouble / passS.size, "count")
      names.foreach { q =>
        res.layer(s"operators.${q}_ms", Stats.median(timed.filter(_.name == q).map(_.ms)), "ms")
      }
      Seq("task_ms", "task_cpu_ms", "task_wait_ms", "shuffle_read_bytes", "shuffle_write_bytes",
        "input_bytes", "output_bytes", "jobs", "stages", "tasks", "job_ms", "gc_ms")
        .foreach(k => res.layer(s"spark.$k", perPass(k),
          if (k.endsWith("bytes")) "bytes" else if (k.endsWith("ms")) "ms" else "count"))
      // the streaming layers are bypassed entirely
      (Seq("exec.query_planning_ms", "exec.add_batch_ms", "exec.wal_commit_ms", "exec.trigger_ms",
        "exec.get_batch_ms", "exec.latest_offset_ms", "exec.commit_offsets_ms", "exec.drain_ms",
        "exec.wait_ms", "exec.batches", "exec.retract_amplification", "exec.live_ratio",
        "streaming.state_commit_ms", "streaming.state_store_rows", "streaming.state_store_bytes",
        "streaming.late_rows_dropped", "sources.append_ms", "sources.topic_bytes",
        "sources.append_rows", "ddl.parse_ms") ++
        Seq("rows", "bytes", "generations", "batch_dirs")
          .flatMap(k => Seq(s"streaming.join_state_$k", s"streaming.join_state_${k}_max")))
        .foreach(k => res.layer(k, 0.0, "n/a"))
    }
    res
  }
}
