package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.pipeline.{Pipeline, Runner}

/** Benchmark harness: one JVM session that sets up, runs one closed-loop
  * workload (one client: a single thread issuing operations) for a given
  * time, and writes a record of every operation for `run.py` to check and
  * aggregate. Every call goes through the engine's public entry points
  * (`Runner.run`, `Pipeline.*`, `SparkEntry.queries`).
  *
  * Arguments (all `--key value`): workload, data, root, seconds, trace,
  * seed, out, launch-us. `data` holds the generated inputs, `root` is a
  * temporary directory that receives all Spark state, `out` receives
  * `records.json` (and, for the query mix, the first result of every
  * query as parquet plus its oracle SQL, the layout `tools/check_oracle.py`
  * reads).
  */
object Main {
  val Cores = 4

  /** The query mix: one analytics query per relational operator module
    * (Relational pivot, Extended multi-join, Events as-of join) and one
    * curation query per curation module (TextAnalysis quality filter,
    * Dedup indexed LSH dedup, Similarity indexed IVF search).
    */
  val QueryMix: Seq[String] = Seq(
    "q1_pivot_monthly_qty", "q44_supplier_revenue", "q20_asof_signup",
    "t13_quality_filter", "d12_incremental_dedup_indexed", "s16_ivf_indexed")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val root = Paths.get(a("root")).toAbsolutePath
    val out = Paths.get(a("out")).toAbsolutePath
    Files.createDirectories(out)
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "1min")
      .config("spark.local.dir", root.resolve("local").toString)
      .config("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, a, root, out)
    try {
      if (ctx.traced) ctx.tracer.install()
      workload match {
        case "elt_daily" => new Elt(ctx).run()
        case "query_mix" => new Mix(ctx, QueryMix).run()
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      ctx.finish()
    } finally spark.stop()
  }

  def nowUs: Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  def toJson(v: Any): String =
    org.json4s.jackson.Serialization.write(v.asInstanceOf[AnyRef])(org.json4s.DefaultFormats)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val m = s.size / 2
      if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }

  def deleteTree(p: Path): Unit = if (Files.exists(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
    if (Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS))
      Files.list(p).iterator().asScala.toList.foreach(deleteTree)
    Files.delete(p)
  }
}

/** State shared by a run: session, arguments, timing marks, records. */
final class Ctx(val spark: SparkSession, args: Map[String, String],
                val root: Path, val out: Path) {
  val data: Path = Paths.get(args("data")).toAbsolutePath
  val seconds: Double = args("seconds").toDouble
  val traced: Boolean = args.getOrElse("trace", "0") == "1"
  val seed: Long = args.getOrElse("seed", "0").toLong
  val launchUs: Long = args("launch-us").toLong
  val tracer = new Tracer(spark)
  val ops = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
  val extra = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  /** Seconds of untimed checking done during set-up (excluded from it). */
  var setupExcluded = 0.0
  var firstOpUs = 0L

  def tablesDir: String = data.resolve("tables").toString

  /** Time an untimed block and, while set-up is running, exclude it. */
  def untimed[A](f: => A): A = {
    val t0 = System.nanoTime()
    try f finally if (firstOpUs == 0L) setupExcluded += (System.nanoTime() - t0) / 1e9
  }

  def markFirstOp(): Unit = if (firstOpUs == 0L) firstOpUs = Main.nowUs

  /** Between-op sweep, outside the timed region: drop every persisted RDD
    * a query left behind, then collect garbage so shuffle files are reaped.
    */
  def sweep(): Unit = untimed {
    try {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      System.gc()
    } catch { case NonFatal(_) => () }
  }

  def finish(): Unit = {
    sweep()
    // heap still in use after full collections: the least of three, since a
    // collection can leave behind garbage that a concurrent thread made
    val heapMb = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    }.min
    tracer.drain()
    val rec = Map(
      "setup_s" -> ((firstOpUs - launchUs) / 1e6 - setupExcluded),
      "setup_excluded_s" -> setupExcluded,
      "retained_heap_mb" -> heapMb,
      "ops" -> ops.toSeq) ++ extra
    Files.writeString(out.resolve("records.json"), Main.toJson(rec))
    if (traced)
      Files.writeString(out.resolve("spans.json"), Main.toJson(tracer.spanRecords))
  }

  def errorText(e: Throwable): String = {
    val msg = s"${e.getClass.getSimpleName}: ${e.getMessage}"
    if (msg.length > 300) msg.take(300) + "..." else msg
  }

  /** Per-layer counters from the listeners, summed over `opSpans`. */
  def execMetrics(opSpans: Seq[Span]): Map[String, Double] = {
    val e = tracer.execOf(opSpans.flatMap(s => tracer.subtree(s.id)).toSet)
    val n = opSpans.size.max(1).toDouble
    val wall = opSpans.map(_.seconds).sum
    Map(
      "exec.core_busy_frac" -> (if (wall > 0) e.runMs / 1000.0 / (wall * Main.Cores) else 0.0),
      "exec.shuffle_mb_per_op" -> e.shuffleWriteBytes / 1e6 / n,
      "exec.spill_mb_per_op" -> e.spillBytes / 1e6 / n,
      "exec.jobs_per_op" -> e.jobs / n,
      "exec.tasks_per_op" -> e.tasks / n,
      "exec.gc_ms_per_op" -> e.gcMs / n,
      "sources.scan_mb" -> e.inputBytes / 1e6 / n,
      "sources.scan_rows" -> e.inputRecords / n)
  }

  /** Planning milliseconds of query executions that ran inside `opSpans`. */
  def planningMsPerOp(opSpans: Seq[Span]): Double = {
    val ids = opSpans.flatMap(s => tracer.subtree(s.id)).toSet
    val ms = tracer.planningMs.synchronized(tracer.planningMs.toSeq)
      .filter { case (at, _) => tracer.spanAt(at).exists(s => ids(s.id)) }
      .map(_._2).sum
    ms.toDouble / opSpans.size.max(1)
  }
}

/** Order-insensitive digest of a collected result: each row rendered with
  * its columns in name order (doubles to 10 significant digits, since
  * summation order is not part of any query's contract), rows sorted,
  * SHA-256 over the lot.
  */
object Digest {
  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else if (d == 0.0) "0"
      else new java.math.BigDecimal(d).round(new java.math.MathContext(10))
        .stripTrailingZeros.toString
    case f: Float => canon(f.toDouble)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case other => other.toString
  }

  def of(schema: StructType, rows: Array[Row]): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => canon(r.get(i))).mkString("|")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map(x => f"$x%02x").mkString
  }
}

/** `query_mix`: repeated passes over a fixed query list, each pass in a
  * seeded order. Two warm-up passes (set-up) execute every query twice;
  * the first pass's results are the first results checked against the
  * DuckDB oracle, and every later execution must reproduce them.
  */
final class Mix(ctx: Ctx, names: Seq[String]) {
  import ctx._

  private val seen = scala.collection.mutable.Set.empty[String]

  private def execute(name: String, pass: Int, timed: Boolean): Unit = {
    val t0 = System.nanoTime()
    try {
      val (df, rows) = tracer.span(s"query.$name") {
        val df = SparkEntry.queries(name)(spark, tablesDir)
        (df, df.collect())
      }
      val t = (System.nanoTime() - t0) / 1e9
      untimed {
        if (seen.add(name)) writeFirst(name, df.schema, rows)
        ops += Map("name" -> name, "pass" -> pass, "timed" -> timed, "t_s" -> t,
          "traced" -> tracer.enabled, "ok" -> true, "rows" -> rows.length,
          "digest" -> Digest.of(df.schema, rows))
      }
    } catch {
      case NonFatal(e) =>
        ops += Map("name" -> name, "pass" -> pass, "timed" -> timed,
          "t_s" -> (System.nanoTime() - t0) / 1e9, "ok" -> false, "error" -> errorText(e))
    }
    sweep()
  }

  /** The first result of a query, as parquet, for the oracle check. */
  private def writeFirst(name: String, schema: StructType, rows: Array[Row]): Unit =
    spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
      .write.parquet(out.resolve(name).toString)

  def run(): Unit = {
    untimed {
      Files.writeString(out.resolve("oracle_sql.json"), Main.toJson(
        names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap))
    }
    // set-up: the first warm-up pass pays session warm-up, codegen and the
    // index builds, and yields the first results; queries still run slower
    // on the pass after it, so a second, seeded pass is untimed too
    names.foreach(n => execute(n, 0, timed = false))
    order(1).foreach(n => execute(n, 1, timed = false))
    markFirstOp()
    // whole passes keep every query's share of the timed ops fixed; after
    // the first two, a pass starts only if it should end by the deadline
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var pass = 2
    var lastPassNs = 0L
    while (pass <= 3 || System.nanoTime() + lastPassNs <= deadline) {
      val p0 = System.nanoTime()
      order(pass).zipWithIndex.foreach { case (n, j) =>
        // the traced run executes every query twice, traced and untraced,
        // in alternating order: the difference is the tracing overhead
        val modes = if (!traced) Seq(false)
                    else if ((j + pass) % 2 == 0) Seq(true, false) else Seq(false, true)
        modes.foreach { on =>
          tracer.enabled = on
          tracer.op = ops.size
          execute(n, pass, timed = true)
        }
      }
      lastPassNs = System.nanoTime() - p0
      pass += 1
    }
    tracer.enabled = false
    if (traced) traceMetrics()
  }

  private def order(pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(names)

  private def traceMetrics(): Unit = {
    tracer.drain()
    val spans = tracer.spans.toSeq.filter(_.name.startsWith("query."))
    val layer = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    layer ++= ctx.execMetrics(spans)
    layer("plans.planning_ms") = ctx.planningMsPerOp(spans)
    extra("layer") = layer.toMap
  }
}

/** `elt_daily`: every operation is one `Runner.run` over the next generated
  * daily landing batch. A pass starts from an empty work directory and
  * stages the batches in order, so staging grows through the pass; batches
  * run until the measuring time is up.
  *
  * In the traced run each batch also goes through the same public calls
  * `Runner.run` makes, one span per call, in a second work directory; the
  * staged and analytics outputs of both must agree.
  */
final class Elt(ctx: Ctx) {
  import ctx._

  private val landing = data.resolve("landing")
  private val dates: Seq[String] =
    Files.readAllLines(landing.resolve("dates.txt")).asScala.map(_.trim).filter(_.nonEmpty).toSeq
  private val tables = Seq("orders", "shipment_deliveries", "reviews")
  private val analyticsNames = Seq("agg_monthly_orders", "agg_shipments", "review_percentages")

  private def freshWork(name: String): Path = {
    val w = root.resolve("work").resolve(name)
    Main.deleteTree(w)
    Files.createDirectories(w)
    Files.createSymbolicLink(w.resolve("landing"), landing)
    w
  }

  private def dataFiles(dir: Path): Set[String] =
    if (!Files.exists(dir)) Set.empty
    else Files.walk(dir).iterator().asScala
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith(".") &&
        !p.getFileName.toString.startsWith("_"))
      .map(_.toString).toSet

  /** What the work directory holds after a batch: staged row totals, the
    * analytics tables' contents and the export files' data-row counts.
    */
  private def observe(work: Path): Map[String, Any] = {
    val staged = tables.map(t => t -> spark.read.parquet(work.resolve(s"staging/$t").toString).count()).toMap
    val analytics = analyticsNames.map { n =>
      val df = spark.read.parquet(work.resolve(s"analytics/$n").toString)
      val cols = df.columns.sorted.toSeq
      n -> Map("columns" -> cols,
        "rows" -> df.select(cols.map(df.col): _*).collect().toSeq.sortBy(_.toString)
          .map(r => r.toSeq.map {
            case d: java.sql.Date => d.toString
            case x => x
          }))
    }.toMap
    val exportRows = analyticsNames.map { n =>
      val dir = work.resolve(s"export/$n")
      val files = Files.list(dir).iterator().asScala.filter(_.getFileName.toString.endsWith(".csv")).toSeq
      n -> files.map(f => (Files.readAllLines(f).size - 1).max(0).toLong).sum
    }.toMap
    Map("staged_total" -> staged, "analytics" -> analytics, "export_rows" -> exportRows)
  }

  /** Runner.run's stages as separate public calls, one span each. */
  private def decomposed(work: Path, dt: String): (Map[String, Long], Map[String, Long]) = {
    val w = work.toString
    val dir = s"$w/landing/dt=$dt"
    tracer.span("pipeline.batch") {
      val (orders, reviews, shipments) = tracer.span("pipeline.readCsv") {
        (Pipeline.normalizeOrders(Pipeline.readCsv(spark, s"$dir/orders.csv", Pipeline.ordersSchema)),
         Pipeline.readCsv(spark, s"$dir/reviews.csv", Pipeline.reviewsSchema),
         Pipeline.normalizeShipments(
           Pipeline.readCsv(spark, s"$dir/shipment_deliveries.csv", Pipeline.shipmentsSchema)))
      }
      val staged = Map(
        "orders" -> tracer.span("pipeline.watermarkAppend") {
          Pipeline.watermarkAppend(spark, orders, "order_id", s"$w/staging/orders")
        },
        "shipment_deliveries" -> tracer.span("pipeline.watermarkAppend") {
          Pipeline.watermarkAppend(spark, shipments, "shipment_id", s"$w/staging/shipment_deliveries")
        },
        "reviews" -> tracer.span("pipeline.fullAppend") {
          Pipeline.fullAppend(spark, reviews, s"$w/staging/reviews")
        })
      val analytics = tracer.span("pipeline.transform") {
        spark.read.parquet(s"$w/staging/orders").createOrReplaceTempView("staging_orders")
        spark.read.parquet(s"$w/staging/reviews").createOrReplaceTempView("staging_reviews")
        spark.read.parquet(s"$w/staging/shipment_deliveries")
          .createOrReplaceTempView("staging_shipment_deliveries")
        val a = tracer.span("pipeline.transformStaged")(Runner.transformStaged(spark))
        a.foreach { case (name, df) =>
          tracer.span("pipeline.overwriteParquet")(Pipeline.overwriteParquet(df, s"$w/analytics/$name"))
        }
        a
      }
      val counts = tracer.span("pipeline.exportCsv") {
        analytics.map { case (name, _) =>
          val persisted = spark.read.parquet(s"$w/analytics/$name")
          Pipeline.exportCsv(persisted, s"$w/export/$name")
          name -> persisted.count()
        }
      }
      (staged, counts)
    }
  }

  private def runBatch(work: Path, dt: String): (Map[String, Long], Map[String, Long]) = {
    val r = Runner.run(spark, work.toString, dt, retries = 0)
    (r.stagedRows, r.analyticsRows)
  }

  def run(): Unit = {
    // set-up: warm the pipeline on the first three batches (empty, then
    // growing staging) in a throwaway work dir: the runs right after the
    // cold first one are still warming up
    val warm = freshWork("warmup")
    dates.take(3).foreach { dt =>
      try runBatch(warm, dt) catch { case NonFatal(_) => () }
      sweep()
    }
    untimed(Main.deleteTree(warm))
    markFirstOp()
    // at least MinBatches timed batches however slow the host, so the
    // median always rests on as many samples
    val MinBatches = 4
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var pass = 1
    var done = false
    while (!done) {
      val work = untimed(freshWork(s"p$pass"))
      val twin = if (traced) untimed(Some(freshWork(s"p${pass}_traced"))) else None
      val tracedRun = if (traced) untimed(Some(freshWork(s"p${pass}_run"))) else None
      dates.zipWithIndex.iterator.takeWhile(_ => !done).foreach { case (dt, batch) =>
        val rec = scala.collection.mutable.LinkedHashMap[String, Any](
          "name" -> "batch", "pass" -> pass, "batch" -> batch, "dt" -> dt, "timed" -> true)
        // the traced Runner.run goes first on every other batch, so neither
        // side of the overhead comparison always runs on the warmer JVM
        val tracedFirst = batch % 2 == 1
        if (tracedFirst) tracedRun.foreach(tracedRunner(_, dt, rec))
        val t0 = System.nanoTime()
        try {
          val (staged, counts) = runBatch(work, dt)
          rec("t_s") = (System.nanoTime() - t0) / 1e9
          untimed {
            rec ++= Seq("ok" -> true, "staged" -> staged, "analytics_rows" -> counts) ++ observe(work)
          }
        } catch {
          case NonFatal(e) =>
            rec ++= Seq("t_s" -> (System.nanoTime() - t0) / 1e9, "ok" -> false, "error" -> errorText(e))
        }
        sweep()
        if (!tracedFirst) tracedRun.foreach(tracedRunner(_, dt, rec))
        twin.foreach(untimedTraced(_, dt, rec))
        ops += rec.toMap
        done = ops.size >= MinBatches && System.nanoTime() >= deadline
      }
      untimed { Main.deleteTree(work); twin.foreach(Main.deleteTree); tracedRun.foreach(Main.deleteTree) }
      pass += 1
    }
    if (traced) traceMetrics()
  }

  /** The same `Runner.run` with the listeners recording, in its own work
    * dir: compared with the untraced op, the cost of tracing. Its span
    * covers every stage, `validate` included, so the landing scans and
    * the exec counters are taken from it.
    */
  private def tracedRunner(dir: Path, dt: String,
                           rec: scala.collection.mutable.LinkedHashMap[String, Any]): Unit = {
    tracer.op = ops.size
    tracer.enabled = true
    val t0 = System.nanoTime()
    try {
      tracer.span("pipeline.run")(runBatch(dir, dt))
      rec("traced_run_t_s") = (System.nanoTime() - t0) / 1e9
    } catch {
      case NonFatal(e) => rec ++= Seq("ok" -> false, "error" -> s"traced run: ${errorText(e)}")
    } finally tracer.enabled = false
    sweep()
  }

  /** The traced decomposition of one batch, in the twin work dir: its time,
    * the files it wrote, and whether it matched the untraced `Runner.run`.
    */
  private def untimedTraced(tw: Path, dt: String,
                            rec: scala.collection.mutable.LinkedHashMap[String, Any]): Unit = {
    val before = dataFiles(tw).filterNot(_.startsWith(tw.resolve("landing").toString))
    tracer.op = ops.size
    tracer.enabled = true
    val t0 = System.nanoTime()
    try {
      val (staged, counts) = decomposed(tw, dt)
      rec("traced_t_s") = (System.nanoTime() - t0) / 1e9
      tracer.enabled = false
      val after = dataFiles(tw).filterNot(_.startsWith(tw.resolve("landing").toString))
      val rewritten = Seq("analytics", "export").flatMap(d => dataFiles(tw.resolve(d)))
      rec("files_written") = ((after -- before) ++ rewritten).size
      rec("landing_bytes") = Seq("orders.csv", "reviews.csv", "shipment_deliveries.csv")
        .map(f => Files.size(landing.resolve(s"dt=$dt").resolve(f))).sum
      rec("traced_staged") = staged
      val obs = observe(tw)
      val same = rec.get("ok").contains(true) && rec("staged") == staged &&
        rec("analytics_rows") == counts && rec("staged_total") == obs("staged_total") &&
        rec("analytics") == obs("analytics")
      if (!same) rec ++= Seq("ok" -> false,
        "error" -> "traced decomposition disagrees with Runner.run")
    } catch {
      case NonFatal(e) =>
        tracer.enabled = false
        rec ++= Seq("ok" -> false, "error" -> s"traced: ${errorText(e)}")
    }
    sweep()
  }

  /** Stage times and staging scans from the decomposition's spans; landing
    * scans, exec counters and planning time from the traced `Runner.run`,
    * which also pays for the `validate` stage the decomposition has no
    * public call for.
    */
  private def traceMetrics(): Unit = {
    tracer.drain()
    val byOp = tracer.spans.toSeq.groupBy(_.op)
    def named(op: Int, name: String) = byOp.getOrElse(op, Nil).filter(_.name == name)
    val traced = ops.indices.filter(i => ops(i).contains("traced_t_s") && ops(i).contains("traced_run_t_s"))
    val scans = tracer.scans.synchronized(tracer.scans.toSeq)
    def scansIn(op: Int, names: Set[String]) = scans.filter(s =>
      tracer.spanAt(s.atMs).exists(sp => sp.op == op && names(sp.name)))
    val perOp = traced.map { op =>
      val rec = ops(op)
      val stagedNow = rec("traced_staged").asInstanceOf[Map[String, Long]].values.sum.max(1L)
      Map(
        "pipeline.watermarkAppend_s" -> named(op, "pipeline.watermarkAppend").map(tracer.selfSeconds).sum,
        "pipeline.fullAppend_s" -> named(op, "pipeline.fullAppend").map(tracer.selfSeconds).sum,
        "pipeline.transform_s" -> named(op, "pipeline.transform").map(_.seconds).sum,
        "pipeline.exportCsv_s" -> named(op, "pipeline.exportCsv").map(tracer.selfSeconds).sum,
        "pipeline.landing_read_ratio" ->
          scansIn(op, Set("pipeline.run")).filter(_.csv).map(_.fileBytes).sum.toDouble /
            rec("landing_bytes").asInstanceOf[Long].max(1L),
        "pipeline.watermark_rows_read" ->
          scansIn(op, Set("pipeline.watermarkAppend")).filterNot(_.csv).map(_.rows).sum.toDouble,
        "pipeline.transform_rows_read_ratio" ->
          scansIn(op, Set("pipeline.transform", "pipeline.transformStaged", "pipeline.overwriteParquet"))
            .filter(_.roots.exists(_.contains("/staging/"))).map(_.rows).sum.toDouble / stagedNow,
        "pipeline.files_written" -> rec("files_written").asInstanceOf[Int].toDouble)
    }
    val runs = traced.flatMap(named(_, "pipeline.run"))
    val layer = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    if (perOp.nonEmpty) perOp.head.keys.foreach(k => layer(k) = Main.median(perOp.map(_(k))))
    layer ++= ctx.execMetrics(runs)
    layer("plans.planning_ms") = ctx.planningMsPerOp(runs)
    extra("layer") = layer.toMap
  }
}
