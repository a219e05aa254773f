package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.ddl.StatementPreprocessor
import graft.exec.StreamingStatementRunner
import graft.sources.{TopicConf, Topics}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded, parallel generator columns: the same (seed, salt, inputs)
  * always give the same value. */
object Gen {
  def hash(seed: Long, salt: Int, cs: Column*): Column = xxhash64((lit(seed) +: lit(salt) +: cs): _*)
  def pick(seed: Long, salt: Int, n: Long, cs: Column*): Column = pmod(hash(seed, salt, cs: _*), lit(n))
}

/** Order-independent digest of a multiset of rows: (net row count, sum
  * of per-row 64-bit hashes over the string forms of `cols`). `sign`
  * weights each row, so a retract changelog folds to its net rows. */
object Digest {
  def of(df: DataFrame, cols: Seq[String], sign: Column = lit(1)): String = {
    val h = xxhash64(concat_ws("\u0001",
      cols.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*)).cast("decimal(38,0)")
    val r = df.select(sign.as("__w"), h.as("__h"))
      .agg(sum(col("__w").cast("long")), sum(when(col("__w") > 0, col("__h")).otherwise(-col("__h"))))
      .head()
    val n = if (r.isNullAt(0)) 0L else r.getLong(0)
    val s = if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString
    s"$n:$s"
  }
  def rows(d: String): Long = d.takeWhile(_ != ':').toLong

  /** Sign of a retract-changelog record: `-U`/`-D` retract, others add. */
  def retractSign(df: DataFrame): Column =
    if (df.columns.contains("__op")) when(col("__op").startsWith("-"), -1).otherwise(1) else lit(1)
}

/** One streaming workload: its topic sources, its statement script, a
  * seeded generator for the set-up slice and for each epoch's slice,
  * and a batch evaluation of the same SELECT over the generated inputs. */
trait StreamingWorkload {
  def name: String
  def sources: Seq[(String, StructType)]
  def script: String
  def sinks: Seq[String]
  /** Stage the set-up inputs; returns the rows appended. */
  def stageSetup(s: SparkSession, conf: TopicConf, seed: Long): Long
  /** Stage epoch `e`'s inputs; returns the timed rows it appends. */
  def stageEpoch(s: SparkSession, conf: TopicConf, seed: Long, e: Int): Long
  /** Digest of the sinks' net rows, as the runner produced them. */
  def actual(s: SparkSession): String
  /** Digest of a batch evaluation over the inputs of `epochs` epochs. */
  def expected(s: SparkSession, seed: Long, epochs: Int): String
}

object StreamingWorkloads {
  private def strs(names: String*) = StructType(names.map(StructField(_, StringType)))
  private def foldedRetract(s: SparkSession, table: String, cols: Seq[String]): String = {
    val df = s.table(table)
    Digest.of(df, cols, Digest.retractSign(df))
  }

  /** S1–S6 of the reference (`lab-aggregations`), verbatim as in
    * StreamBench: keyed customer/product dims, then an append order
    * stream joined to both into a retract sink. Only orders arrive per
    * epoch. */
  object LabEnrich extends StreamingWorkload {
    val name = "lab_enrich"
    val Customers = 10000L
    val Products = 200L
    val OrdersPerEpoch = 15000L
    private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val sources = Seq(
      "shoe_customers" -> strs("id", "first_name", "last_name", "email"),
      "shoe_products" -> strs("id", "brand", "name", "sale_price"),
      "shoe_orders" -> StructType(Seq(StructField("order_id", IntegerType),
        StructField("product_id", StringType), StructField("customer_id", StringType))))
    val sinks = Seq("shoe_orders_enriched")
    val script = """
      CREATE TABLE shoe_customers_keyed (
        customer_id STRING, first_name STRING, last_name STRING, email STRING,
        PRIMARY KEY (customer_id) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO shoe_customers_keyed SELECT id, first_name, last_name, email FROM shoe_customers;
      CREATE TABLE shoe_products_keyed (
        product_id STRING, brand STRING, `model` STRING, sale_price STRING,
        PRIMARY KEY (product_id) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO shoe_products_keyed SELECT id, brand, `name`, sale_price FROM shoe_products;
      CREATE TABLE shoe_orders_enriched (
        order_id INT, first_name STRING, brand STRING, sale_price STRING)
        WITH ('changelog.mode' = 'retract');
      INSERT INTO shoe_orders_enriched(order_id, first_name, brand, sale_price)
      SELECT so.order_id, sc.first_name, sp.brand, sp.sale_price
      FROM shoe_orders so
      INNER JOIN shoe_customers_keyed sc ON so.customer_id = sc.customer_id
      INNER JOIN shoe_products_keyed sp ON so.product_id = sp.product_id"""

    private def customers(s: SparkSession, seed: Long) = s.range(1, Customers + 1).select(
      col("id").cast("string").as("id"),
      concat(lit("fn_"), Gen.pick(seed, 1, 5000, col("id")).cast("string")).as("first_name"),
      element_at(array(segments.map(lit): _*), (Gen.pick(seed, 2, 5, col("id")) + 1).cast("int"))
        .as("last_name"),
      concat(col("id").cast("string"), lit("@example.test")).as("email"))
    private def products(s: SparkSession, seed: Long) = s.range(1, Products + 1).select(
      col("id").cast("string").as("id"),
      concat(lit("brand_"), Gen.pick(seed, 3, 25, col("id")).cast("string")).as("brand"),
      concat(lit("model_"), col("id").cast("string")).as("name"),
      ((Gen.pick(seed, 4, 20000, col("id")) + 1000).cast("decimal(12,0)") / 100)
        .cast("decimal(10,2)").cast("string").as("sale_price"))
    private def orders(s: SparkSession, seed: Long, from: Long, until: Long) =
      s.range(from, until).select(
        col("id").cast("int").as("order_id"),
        (Gen.pick(seed, 5, Products, col("id")) + 1).cast("string").as("product_id"),
        (Gen.pick(seed, 6, Customers, col("id")) + 1).cast("string").as("customer_id"))

    def stageSetup(s: SparkSession, conf: TopicConf, seed: Long): Long = {
      Topics.appendJson(customers(s, seed), "shoe_customers", conf, Nil, 1)
      Topics.appendJson(products(s, seed), "shoe_products", conf, Nil, 1)
      Customers + Products
    }
    def stageEpoch(s: SparkSession, conf: TopicConf, seed: Long, e: Int): Long = {
      Topics.appendJson(orders(s, seed, e * OrdersPerEpoch, (e + 1) * OrdersPerEpoch),
        "shoe_orders", conf, Nil, 2 + e)
      OrdersPerEpoch
    }
    private val outCols = Seq("order_id", "first_name", "brand", "sale_price")
    def actual(s: SparkSession): String = foldedRetract(s, "shoe_orders_enriched", outCols)
    def expected(s: SparkSession, seed: Long, epochs: Int): String = {
      val o = orders(s, seed, 0, epochs * OrdersPerEpoch)
      val c = customers(s, seed)
      val p = products(s, seed).withColumnRenamed("id", "pid").withColumnRenamed("name", "model")
      Digest.of(o.join(c, o("customer_id") === c("id")).join(p, o("product_id") === p("pid")),
        outCols)
    }
  }

  /** q245's shape: an append fact stream LEFT JOINed through a user dim
    * into a band dim, into a retract sink with a compacting join state.
    * Every epoch stages facts AND dim revisions, then drains once, so
    * each batch runs the bracket terms for the revisions against the
    * whole fact log. */
  object DimChurn extends StreamingWorkload {
    val name = "dim_churn"
    val Users = 20000L
    val FactsPerEpoch = 5000L
    val RevisedShare = 40L // about 1 user in 40 is revised per epoch
    private val types = Seq("click", "view", "cart", "buy", "share", "like")
    val sources = Seq(
      "dim_feed" -> StructType(Seq(StructField("user_id", LongType),
        StructField("event_type", StringType))),
      "band_feed" -> strs("event_type", "label"),
      "orders_feed" -> StructType(Seq(StructField("event_id", LongType),
        StructField("user_id", LongType), StructField("value", DoubleType))))
    val sinks = Seq("enriched")
    val script = """
      CREATE TABLE user_dim (user_id BIGINT, last_event_type STRING,
        PRIMARY KEY (user_id) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO user_dim SELECT user_id, event_type FROM dim_feed;
      CREATE TABLE band_dim (event_type STRING, label STRING,
        PRIMARY KEY (event_type) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO band_dim SELECT event_type, label FROM band_feed;
      CREATE TABLE enriched (event_id BIGINT, user_id BIGINT,
        last_event_type STRING, band_label STRING, value DOUBLE, __op STRING)
        WITH ('changelog.mode' = 'retract', 'join.state.ttl' = '7 d',
              'join.state.compact.threshold' = '2');
      INSERT INTO enriched (event_id, user_id, last_event_type, band_label, value)
      SELECT o.event_id, o.user_id, c.last_event_type, b.label, o.value
      FROM orders_feed o
      LEFT JOIN user_dim c ON o.user_id = c.user_id
      LEFT JOIN band_dim b ON c.last_event_type = b.event_type"""

    private val typeOf = (i: Column) => element_at(array(types.map(lit): _*), (i + 1).cast("int"))
    /** Version 0 is every user; version v > 0 revises a seeded subset. */
    private def users(s: SparkSession, seed: Long, v: Int) = {
      val all = s.range(1, Users + 1)
      val picked = if (v == 0) all else all.where(Gen.pick(seed, 10, RevisedShare, lit(v), col("id")) === 0)
      picked.select(col("id").as("user_id"),
        typeOf(Gen.pick(seed, 11, types.size, lit(v), col("id"))).as("event_type"))
    }
    /** Version 0 bands every type but `click`; version v relabels two. */
    private def bands(s: SparkSession, v: Int) = {
      val all = s.range(types.size)
      val picked =
        if (v == 0) all.where(col("id") =!= 0)
        else all.where(col("id") === v % types.size || col("id") === (v + 3) % types.size)
      picked.select(typeOf(col("id")).as("event_type"),
        concat(lit(s"L${v}_"), col("id").cast("string")).as("label"))
    }
    private def facts(s: SparkSession, seed: Long, from: Long, until: Long) =
      s.range(from, until).select(col("id").as("event_id"),
        (Gen.pick(seed, 12, Users + Users / 10, col("id")) + 1).as("user_id"),
        (Gen.pick(seed, 13, 100000, col("id")).cast("double") / 100).as("value"))

    def stageSetup(s: SparkSession, conf: TopicConf, seed: Long): Long = {
      Topics.appendJson(users(s, seed, 0), "dim_feed", conf, Nil, 1)
      Topics.appendJson(bands(s, 0), "band_feed", conf, Nil, 1)
      Users + types.size - 1
    }
    def stageEpoch(s: SparkSession, conf: TopicConf, seed: Long, e: Int): Long = {
      // facts first: they pad (or join stale dims), then the revisions
      // retract and upgrade them in the same batch
      Topics.appendJson(facts(s, seed, e * FactsPerEpoch, (e + 1) * FactsPerEpoch),
        "orders_feed", conf, Nil, 2 + e)
      Topics.appendJson(users(s, seed, e + 1), "dim_feed", conf, Nil, 2 + e)
      Topics.appendJson(bands(s, e + 1), "band_feed", conf, Nil, 2 + e)
      FactsPerEpoch
    }
    private val outCols = Seq("event_id", "user_id", "last_event_type", "band_label", "value")
    def actual(s: SparkSession): String = foldedRetract(s, "enriched", outCols)
    def expected(s: SparkSession, seed: Long, epochs: Int): String = {
      def latest(versions: Seq[DataFrame], key: String, value: String) =
        versions.zipWithIndex.map { case (df, v) => df.withColumn("__v", lit(v)) }
          .reduce(_ unionByName _)
          .groupBy(key).agg(max_by(col(value), col("__v")).as(value))
      val u = latest((0 to epochs).map(users(s, seed, _)), "user_id", "event_type")
        .withColumnRenamed("user_id", "u_id").withColumnRenamed("event_type", "last_event_type")
      val b = latest((0 to epochs).map(bands(s, _)), "event_type", "label")
        .withColumnRenamed("label", "band_label")
      val o = facts(s, seed, 0, epochs * FactsPerEpoch)
      val j = o.join(u, o("user_id") === u("u_id"), "left")
        .join(b, col("last_event_type") === b("event_type"), "left")
      Digest.of(j, outCols)
    }
  }

  /** An upsert-keyed account table revised every epoch, feeding two
    * aggregating INSERTs and no join: a count/sum GROUP BY (the
    * retract-fold route) and a min/max/COUNT(DISTINCT) GROUP BY (the
    * merge-fold route). */
  object ChangelogAgg extends StreamingWorkload {
    val name = "changelog_agg"
    val Accounts = 20000L
    val RevisedShare = 4L // about 1 account in 4 is revised per epoch
    val sources = Seq("acct_feed" -> StructType(Seq(StructField("acct_id", LongType),
      StructField("grp", StringType), StructField("region", StringType),
      StructField("amount", LongType), StructField("tag", StringType))))
    val sinks = Seq("grp_totals", "region_span")
    val script = """
      CREATE TABLE accounts (acct_id BIGINT, grp STRING, region STRING, amount BIGINT,
        tag STRING, PRIMARY KEY (acct_id) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO accounts SELECT acct_id, grp, region, amount, tag FROM acct_feed;
      CREATE TABLE grp_totals (grp STRING, n BIGINT, total BIGINT,
        PRIMARY KEY (grp) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO grp_totals
      SELECT grp, count(*) AS n, sum(amount) AS total FROM accounts GROUP BY grp;
      CREATE TABLE region_span (region STRING, lo BIGINT, hi BIGINT, n_tags BIGINT,
        PRIMARY KEY (region) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO region_span
      SELECT region, min(amount) AS lo, max(amount) AS hi, count(DISTINCT tag) AS n_tags
      FROM accounts GROUP BY region"""

    /** Version 0 is every account; version v > 0 revises a seeded subset. */
    private def accounts(s: SparkSession, seed: Long, v: Int) = {
      val all = s.range(1, Accounts + 1)
      val picked = if (v == 0) all else all.where(Gen.pick(seed, 20, RevisedShare, lit(v), col("id")) === 0)
      val p = (salt: Int, n: Long) => Gen.pick(seed, salt, n, lit(v), col("id"))
      picked.select(col("id").as("acct_id"),
        concat(lit("g"), p(21, 16).cast("string")).as("grp"),
        concat(lit("r"), p(22, 8).cast("string")).as("region"),
        p(23, 100000).as("amount"),
        concat(lit("t"), p(24, 50).cast("string")).as("tag"))
    }
    def stageSetup(s: SparkSession, conf: TopicConf, seed: Long): Long = {
      Topics.appendJson(accounts(s, seed, 0), "acct_feed", conf, Nil, 1)
      Accounts
    }
    def stageEpoch(s: SparkSession, conf: TopicConf, seed: Long, e: Int): Long = {
      Topics.appendJson(accounts(s, seed, e + 1), "acct_feed", conf, Nil, 2 + e)
      Accounts / RevisedShare
    }
    private val grpCols = Seq("grp", "n", "total")
    private val regionCols = Seq("region", "lo", "hi", "n_tags")
    def actual(s: SparkSession): String =
      Digest.of(s.table("grp_totals"), grpCols) + "|" + Digest.of(s.table("region_span"), regionCols)
    def expected(s: SparkSession, seed: Long, epochs: Int): String = {
      val latest = (0 to epochs).map(v => accounts(s, seed, v).withColumn("__v", lit(v)))
        .reduce(_ unionByName _)
        .groupBy("acct_id")
        .agg(max_by(struct("grp", "region", "amount", "tag"), col("__v")).as("a"))
        .select(col("acct_id"), col("a.*"))
      val g = latest.groupBy("grp").agg(count(lit(1)).as("n"), sum("amount").as("total"))
      val r = latest.groupBy("region").agg(min("amount").as("lo"), max("amount").as("hi"),
        countDistinct("tag").as("n_tags"))
      Digest.of(g, grpCols) + "|" + Digest.of(r, regionCols)
    }
  }

  val all: Seq[StreamingWorkload] = Seq(LabEnrich, DimChurn, ChangelogAgg)
  def byName(n: String): StreamingWorkload = all.find(_.name == n).get
}

/** The closed loop every streaming workload runs: one client, one epoch
  * in flight. Set-up is repeated `setups` times in fresh sessions and
  * topic roots (the median is reported); the last set-up's runner then
  * takes `warmup` untimed epochs and timed epochs until `seconds` have
  * elapsed. An epoch's latency runs from the start of its `appendJson`
  * to the return of `processAllAvailable`. The output check runs after
  * the timed region. */
object StreamingDriver {
  private def ms(t0: Long, t1: Long) = (t1 - t0) / 1e6

  def run(ctx: Ctx, wl: StreamingWorkload): Result = {
    val res = new Result
    val tr = ctx.tracer
    var sess: SparkSession = null
    var conf: TopicConf = null
    var runner: StreamingStatementRunner = null
    var inputRows = 0L
    var parseMs = 0.0

    val setupS = (1 to ctx.setups).flatMap { k =>
      if (runner != null) {
        runner.stopAll()
        deleteTree(new java.io.File(conf.root))
      }
      res.op(s"setup $k") {
        val t0 = System.nanoTime()
        tr.span("setup") {
          sess = ctx.spark.newSession()
          conf = TopicConf(s"${ctx.out}/topics$k")
          runner = new StreamingStatementRunner(sess, topicConf = Some(conf))
          tr.span("exec.register") { wl.sources.foreach { case (n, sch) => runner.registerTopicSource(n, sch) } }
          inputRows = tr.span("sources.append") { wl.stageSetup(sess, conf, ctx.seed) }
          if (tr.enabled) {
            val p0 = System.nanoTime()
            tr.span("ddl.parse") {
              StatementPreprocessor.splitScript(wl.script).foreach(StatementPreprocessor.parse)
            }
            parseMs = ms(p0, System.nanoTime())
          }
          tr.span("exec.runScript") { runner.runScript(wl.script) }
          tr.span("exec.drain") { runner.processAllAvailable() }
        }
        (System.nanoTime() - t0) / 1e9
      }
    }
    if (setupS.size < ctx.setups) throw new IllegalStateException(res.failures.mkString("; "))
    val setupRows = inputRows

    // per-query progress not yet attributed to an epoch
    val seenBatch = mutable.Map.empty[String, Long]
    def newProgress() = runner.activeQueries.flatMap { q =>
      val last = seenBatch.getOrElse(q.id.toString, Long.MinValue)
      val fresh = q.recentProgress.filter(_.batchId > last).toSeq
      fresh.lastOption.foreach(p => seenBatch(q.id.toString) = p.batchId)
      fresh
    }
    newProgress()

    final case class Epoch(timed: Boolean, rows: Long, appendMs: Double, drainMs: Double,
                           cpuMs: Double, jobs: Int, gapMs: Long, phases: Map[String, Double])
    val epochs = ArrayBuffer.empty[Epoch]
    val joinMax = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var lateRows = 0L

    def epoch(timed: Boolean): Unit = {
      val e = epochs.size
      val wall0 = System.currentTimeMillis()
      val cpu0 = Jvm.cpuMs
      val t0 = System.nanoTime()
      val rows = tr.span("sources.append") { wl.stageEpoch(sess, conf, ctx.seed, e) }
      val t1 = System.nanoTime()
      val wall1 = System.currentTimeMillis()
      tr.span("exec.drain") { runner.processAllAvailable() }
      val t2 = System.nanoTime()
      val cpu = Jvm.cpuMs - cpu0
      val wall2 = System.currentTimeMillis()
      var jobs = Seq.empty[String]
      var gap = 0L // drain wall not covered by any job, on one clock
      var phases = Map.empty[String, Double]
      ctx.collector.foreach { c =>
        c.drain()
        jobs = c.jobsStartedIn(wall0, wall2)
        gap = (wall2 - wall1) - c.busyMs(wall1, wall2)
        val ps = newProgress()
        val dur = ps.flatMap(_.durationMs.asScala.toSeq).groupMapReduce(_._1)(_._2.toDouble)(_ + _)
        val ops = ps.flatMap(_.stateOperators.toSeq)
        lateRows += ops.map(_.numRowsDroppedByWatermark).sum
        phases = dur ++ Map(
          "batches" -> ps.size.toDouble,
          "stateCommit" -> ops.map(_.commitTimeMs.toDouble).sum)
        runner.progressSummary.flatMap(_.joinState) match {
          case Nil =>
          case js =>
            Seq("rows" -> js.map(_.rows.toDouble).sum, "bytes" -> js.map(_.bytes.toDouble).sum,
              "generations" -> js.map(_.generations.toDouble).sum,
              "batch_dirs" -> js.map(_.batchDirs.toDouble).sum).foreach { case (k, v) =>
              joinMax(k) = math.max(joinMax(k), v)
              joinMax(s"$k.final") = v
            }
        }
      }
      epochs += Epoch(timed, rows, ms(t0, t1), ms(t1, t2), cpu, jobs.size, gap, phases)
      ctx.collector.foreach { c =>
        res.epochLog += s"""{"epoch":$e,"timed":$timed,"append_ms":${Json.num(ms(t0, t1))},""" +
          s""""drain_ms":${Json.num(ms(t1, t2))},"jobs":${jobs.size},"driver_gap_ms":$gap,""" +
          s""""job_sites":${jobs.map(Json.str).mkString("[", ",", "]")},""" +
          s""""progress":${Json.obj(phases.map { case (k, v) => k -> Json.num(v) })},""" +
          s""""listener":${Json.obj(c.counters.map { case (k, v) => k -> v.toString })}}"""
      }
    }

    var stopped = false
    def loop(timed: Boolean, cond: => Boolean): Unit =
      while (!stopped && cond) {
        if (res.op(s"epoch ${epochs.size}")(epoch(timed)).isEmpty) stopped = true
      }
    loop(timed = false, epochs.size < ctx.warmup)
    val before = ctx.collector.map { c => c.drain(); c.counters }.getOrElse(Map.empty)
    val gcBefore = Jvm.gcMs
    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    tr.span("timed") { loop(timed = true, System.nanoTime() < deadline) }
    val gcMs = Jvm.gcMs - gcBefore
    ctx.collector.foreach(_.drain())
    val after = ctx.collector.map(_.counters).getOrElse(Map.empty)
    val stateOps = runner.activeQueries.flatMap(q => Option(q.lastProgress))
      .flatMap(_.stateOperators.toSeq)
    runner.stopAll()
    epochs.foreach(ep => inputRows += ep.rows)

    // ---- output check, outside the timed region --------------------
    val n = epochs.size
    res.op("output check") {
      tr.span("check") {
        val got = wl.actual(sess)
        val want = wl.expected(sess, ctx.seed, n)
        res.detail("digest", s"""{"epochs":$n,"value":${Json.str(got)}}""")
        if (got != want) res.fail(s"output check after $n epochs: got $got, want $want")
        // waste ratios: changelog records the sinks received vs input
        // records, and net live rows vs those changelog records
        val sinkRecords = wl.sinks.map(t => sinkTopicRecords(sess, conf, t)).sum
        val live = got.split('|').map(Digest.rows).sum
        res.layer("exec.retract_amplification", sinkRecords.toDouble / inputRows, "ratio")
        res.layer("exec.live_ratio", live.toDouble / math.max(1L, sinkRecords), "ratio")
      }
    }

    // ---- end-to-end metrics ----------------------------------------
    val timed = epochs.filter(_.timed)
    val lat = timed.map(ep => ep.appendMs + ep.drainMs).toSeq
    val pct = Stats.tailPct(lat.size)
    val rowsTimed = timed.map(_.rows).sum
    val p50 = Stats.median(lat)
    val prefix = if (tr.enabled) "trace." else ""
    res.metric(s"${prefix}setup_s", Stats.median(setupS), "s", setupS.size)
    res.metric(s"${prefix}epoch_p50_ms", p50, "ms", lat.size)
    res.metric(s"${prefix}epoch_tail_ms", Stats.percentile(lat, pct), "ms", lat.size)
    res.metric(s"${prefix}rows_per_s", rowsTimed / (lat.sum / 1000.0), "1/s", lat.size)
    res.metric(s"${prefix}epoch_cpu_ms", Stats.median(timed.map(_.cpuMs).toSeq), "ms", lat.size)
    res.detail("tail_percentile", pct.toString)
    res.detail("rows_per_epoch", Json.num(if (timed.isEmpty) 0 else rowsTimed.toDouble / timed.size))
    res.detail("setup_s", Json.nums(setupS))
    res.detail("epoch_ms", Json.nums(lat))

    // ---- per-layer metrics (traced) --------------------------------
    if (tr.enabled) {
      val perEpoch = (k: String) => (after.getOrElse(k, 0L) - before.getOrElse(k, 0L)).toDouble / math.max(1, timed.size)
      val med = (f: Epoch => Double) => Stats.median(timed.map(f).toSeq)
      val phase = (k: String) => med(_.phases.getOrElse(k, 0.0))
      res.detail("jobs_per_epoch", epochs.map(_.jobs).mkString("[", ",", "]"))
      res.detail("batches_per_epoch", epochs.map(_.phases.getOrElse("batches", 0.0).toInt).mkString("[", ",", "]"))
      res.layer("spark.driver_gap_ms", med(_.gapMs.toDouble), "ms")
      res.layer("spark.jobs_per_epoch", med(_.jobs.toDouble), "count")
      res.layer("exec.query_planning_ms", phase("queryPlanning"), "ms")
      res.layer("exec.add_batch_ms", phase("addBatch"), "ms")
      res.layer("exec.wal_commit_ms", phase("walCommit"), "ms")
      res.layer("exec.trigger_ms", phase("triggerExecution"), "ms")
      res.layer("exec.get_batch_ms", phase("getBatch"), "ms")
      res.layer("exec.latest_offset_ms", phase("latestOffset"), "ms")
      res.layer("exec.commit_offsets_ms", phase("commitOffsets"), "ms")
      res.layer("exec.drain_ms", med(_.drainMs), "ms")
      res.layer("exec.wait_ms", med(ep => ep.drainMs - ep.phases.getOrElse("triggerExecution", 0.0)), "ms")
      res.layer("exec.batches", phase("batches"), "count")
      res.layer("streaming.state_commit_ms", phase("stateCommit"), "ms")
      res.layer("streaming.state_store_rows", stateOps.map(_.numRowsTotal.toDouble).sum, "count")
      res.layer("streaming.state_store_bytes", stateOps.map(_.memoryUsedBytes.toDouble).sum, "bytes")
      res.layer("streaming.late_rows_dropped", lateRows.toDouble, "count")
      Seq("rows" -> "count", "bytes" -> "bytes", "generations" -> "count", "batch_dirs" -> "count")
        .foreach { case (k, u) =>
          res.layer(s"streaming.join_state_$k", joinMax(s"$k.final"), u)
          res.layer(s"streaming.join_state_${k}_max", joinMax(k), u)
        }
      res.layer("sources.append_ms", med(_.appendMs), "ms")
      res.layer("sources.topic_bytes", topicBytes(new java.io.File(conf.root)).toDouble, "bytes")
      res.layer("sources.append_rows", setupRows.toDouble, "count")
      res.layer("ddl.parse_ms", parseMs, "ms")
      Seq("task_ms", "task_cpu_ms", "task_wait_ms", "shuffle_read_bytes", "shuffle_write_bytes",
        "input_bytes", "output_bytes", "jobs", "stages", "tasks", "job_ms")
        .foreach(k => res.layer(s"spark.$k", perEpoch(k),
          if (k.endsWith("bytes")) "bytes" else if (k.endsWith("ms")) "ms" else "count"))
      res.layer("spark.gc_ms", gcMs.toDouble / math.max(1, timed.size), "ms")
      BatchFamilies.names.foreach(q => res.layer(s"operators.${q}_ms", 0.0, "ms"))
    }
    res
  }

  /** Records in a runner-created sink's topic (its directory name is the
    * sanitized qualified table name). */
  private def sinkTopicRecords(s: SparkSession, conf: TopicConf, table: String): Long =
    Option(new java.io.File(conf.root).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.endsWith(s"_$table"))
      .map(f => Topics.readBatchRecords(s, f.getName, conf).count()).sum

  private def topicBytes(f: java.io.File): Long =
    if (f.getName.startsWith(".")) 0L
    else if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(topicBytes).sum
    else f.length()

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteTree)
    f.delete()
  }
}
