package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{Pipeline, SqlScriptRunner}

class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def tmpDir(): String =
    Files.createTempDirectory("graft_pipe").toString

  private def writeCsv(dir: String, name: String, content: String): String = {
    val p = java.nio.file.Paths.get(dir, name)
    Files.writeString(p, content)
    p.toString
  }

  val ordersCsv =
    """order_id,customer_id,order_date,product_id,unit_price,quantity,total_price
      |1,10,2022-01-03,5,100,2,200
      |2,11,2022-01-04,6,50,1,50
      |3,10,2022-01-05,5,100,3,300
      |""".stripMargin

  val ordersCsvBatch2 =
    """order_id,customer_id,order_date,product_id,unit_price,quantity,total_price
      |2,11,2022-01-04,6,50,1,50
      |3,10,2022-01-05,5,100,3,300
      |4,12,2022-01-06,7,20,5,100
      |""".stripMargin

  test("csv landing: pinned schema + total_price→amount rename + date parse") {
    val dir = tmpDir()
    val p = writeCsv(dir, "orders.csv", ordersCsv)
    val df = Pipeline.normalizeOrders(Pipeline.readCsv(spark, p, Pipeline.ordersSchema))
    assert(df.columns.contains("amount") && !df.columns.contains("total_price"))
    assert(df.schema("order_date").dataType.typeName == "date")
    assert(df.count() == 3)
  }

  test("s3a ingest seam: anonymous-credentials conf wired, readers stay scheme-agnostic") {
    val s = Pipeline.s3aConf(spark, anonymous = true)
    val hc = s.sparkContext.hadoopConfiguration
    assert(hc.get("fs.s3a.impl") == "org.apache.hadoop.fs.s3a.S3AFileSystem")
    assert(hc.get("fs.s3a.aws.credentials.provider") ==
      "org.apache.hadoop.fs.s3a.AnonymousAWSCredentialsProvider",
      "unsigned-GET parity: the reference reads a PUBLIC bucket anonymously")
    // endpoint override (MinIO/localstack) lands in the same conf
    Pipeline.s3aConf(spark, endpoint = Some("http://localhost:9000"))
    assert(hc.get("fs.s3a.endpoint") == "http://localhost:9000")
    // signed mode clears the anonymous provider back to the default chain
    Pipeline.s3aConf(spark, anonymous = false)
    assert(hc.get("fs.s3a.aws.credentials.provider") == null)

    // the reader itself is scheme-agnostic: an explicit URI scheme resolves
    // through the same Hadoop FS layer an s3a:// path would (no network in
    // the sandbox, so the live scheme exercised is file://)
    val dir = tmpDir()
    val p = writeCsv(dir, "orders.csv", ordersCsv)
    val viaUri = Pipeline.readCsv(spark, s"file://$p", Pipeline.ordersSchema)
    assert(viaUri.count() == 3)
  }

  test("watermark append is incremental and idempotent") {
    val dir = tmpDir()
    val staging = s"$dir/staging_orders"
    val b1 = Pipeline.normalizeOrders(Pipeline.readCsv(
      spark, writeCsv(dir, "b1.csv", ordersCsv), Pipeline.ordersSchema))
    val b2 = Pipeline.normalizeOrders(Pipeline.readCsv(
      spark, writeCsv(dir, "b2.csv", ordersCsvBatch2), Pipeline.ordersSchema))

    assert(Pipeline.watermarkAppend(spark, b1, "order_id", staging) == 3)
    // overlapping batch: only order_id 4 is new
    assert(Pipeline.watermarkAppend(spark, b2, "order_id", staging) == 1)
    // replay of the same batch: nothing new
    assert(Pipeline.watermarkAppend(spark, b2, "order_id", staging) == 0)
    val staged = spark.read.parquet(staging)
    assert(staged.count() == 4)
    assert(staged.select(countDistinct("order_id")).collect()(0).getLong(0) == 4)
  }

  test("full append duplicates by default (reference-faithful), dedup opt-in") {
    val dir = tmpDir()
    val reviews = "review,product_id\n5,1\n5,1\n4,2\n"
    val df = Pipeline.readCsv(spark,
      writeCsv(dir, "r.csv", reviews), Pipeline.reviewsSchema)
    val s1 = s"$dir/staging_r1"
    Pipeline.fullAppend(spark, df, s1)
    Pipeline.fullAppend(spark, df, s1)
    assert(spark.read.parquet(s1).count() == 6) // at-least-once, duplicated

    val s2 = s"$dir/staging_r2"
    Pipeline.fullAppend(spark, df, s2, dedup = true)
    assert(spark.read.parquet(s2).count() == 2) // in-batch dedup applied
  }

  test("sql script runner executes multi-statement scripts against temp views") {
    graft.sources.Tables.registerAll(spark, TestSpark.sf)
    val out = SqlScriptRunner.run(spark,
      """CREATE OR REPLACE TEMP VIEW big_orders AS
         SELECT * FROM orders WHERE o_totalprice > 100000;
         -- a comment statement
         SELECT count(*) AS n FROM big_orders;""")
    assert(out.isDefined)
    assert(out.get.collect()(0).getLong(0) > 0)
  }

  test("sql splitter: semicolons inside literals and comments do not split statements") {
    val stmts = SqlScriptRunner.splitStatements(
      """SELECT 'a;b' AS s1, "c;d" AS s2 -- trailing comment; with semicolon
        |FROM t;
        |/* block; comment */ SELECT 2;
        |SELECT 'it''s;fine'""".stripMargin)
    assert(stmts.length == 3, s"got ${stmts.length}: $stmts")
    assert(stmts(0).contains("'a;b'") && stmts(0).contains("\"c;d\""))
    assert(stmts(2).contains("it''s;fine"))
  }

  test("runner: full landing→staging→transform→export run, idempotent re-run") {
    import graft.pipeline.Runner
    val work = tmpDir()
    val landing = s"$work/landing/dt=2026-01-01"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(landing))
    writeCsv(landing, "orders.csv", ordersCsv)
    writeCsv(landing, "reviews.csv", "review,product_id\n5,5\n4,5\n5,6\n")
    writeCsv(landing, "shipment_deliveries.csv",
      """shipment_id,order_id,shipment_date,delivery_date
        |1,1,2022-01-10,
        |2,2,,
        |""".stripMargin)

    val r1 = Runner.run(spark, work, "2026-01-01")
    assert(r1.stagedRows == Map("orders" -> 3L, "shipment_deliveries" -> 2L, "reviews" -> 3L))
    assert(r1.analyticsRows("agg_monthly_orders") == 1)
    assert(r1.analyticsRows("agg_shipments") == 1)
    assert(r1.analyticsRows("review_percentages") == 2)

    // re-run same landing data: watermark tables stage nothing new;
    // reviews duplicate (reference-faithful at-least-once)
    val r2 = Runner.run(spark, work, "2026-01-01")
    assert(r2.stagedRows("orders") == 0 && r2.stagedRows("shipment_deliveries") == 0)
    assert(r2.stagedRows("reviews") == 3)
    // exports exist as header'd csv
    val exported = spark.read.option("header", "true")
      .csv(s"$work/export/review_percentages")
    assert(exported.count() == 2)
    // undelivered count: both staged shipments have null delivery_date,
    // one also has null shipment_date
    val aggShip = spark.read.parquet(s"$work/analytics/agg_shipments").collect()(0)
    assert(aggShip.getLong(1) == 1) // tt_undelivered_items
  }

  test("validate stage: a batch breaking the amount rule fails the run loudly") {
    import graft.pipeline.Runner
    val work = tmpDir()
    val landing = s"$work/landing/dt=2026-01-01"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(landing))
    // order 2 carries a negative amount — the gate must refuse the batch
    // BEFORE anything stages (validating after the append would advance
    // the watermark past the bad keys and wedge the pipeline forever)
    writeCsv(landing, "orders.csv",
      """order_id,customer_id,order_date,product_id,unit_price,quantity,total_price
        |1,10,2022-01-03,5,100,2,200
        |2,11,2022-01-04,6,50,1,-50
        |""".stripMargin)
    writeCsv(landing, "reviews.csv", "review,product_id\n5,5\n")
    writeCsv(landing, "shipment_deliveries.csv",
      "shipment_id,order_id,shipment_date,delivery_date\n1,1,2022-01-10,\n")
    // retryDelayMs = 0: a deterministic failure retries immediately (the
    // injectable-delay seam) instead of waiting the reference's 5 minutes
    val e = intercept[IllegalStateException] {
      Runner.run(spark, work, "2026-01-01", retryDelayMs = 0L)
    }
    assert(e.getMessage.contains("negative amount"))
    val log = java.nio.file.Paths.get(s"$work/error_log.txt")
    assert(java.nio.file.Files.exists(log) &&
      java.nio.file.Files.readString(log).contains("[validate]"))
    // nothing was staged, transformed, or exported
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$work/staging")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$work/analytics")))
    // recovery: upstream corrects the batch, the SAME keys stage cleanly
    writeCsv(landing, "orders.csv",
      """order_id,customer_id,order_date,product_id,unit_price,quantity,total_price
        |1,10,2022-01-03,5,100,2,200
        |2,11,2022-01-04,6,50,1,50
        |""".stripMargin)
    val r = Runner.run(spark, work, "2026-01-01")
    assert(r.stagedRows("orders") == 2L, "corrected batch must not be watermark-blocked")
  }

  test("failed stage is logged to error_log.txt and rethrown (T6, no swallow)") {
    import graft.pipeline.Runner
    val work = tmpDir() // no landing files → the landing stage fails
    intercept[Exception] { Runner.run(spark, work, "2026-01-01", retryDelayMs = 0L) }
    val log = java.nio.file.Paths.get(s"$work/error_log.txt")
    assert(java.nio.file.Files.exists(log), "error_log.txt written")
    val text = java.nio.file.Files.readString(log)
    assert(text.contains("[landing]"))
    // T1 retry parity: the default budget is one retry, so the exhausted
    // stage logged BOTH attempts before rethrowing
    assert(text.contains("attempt 1/2 failed, retrying in 0ms"), text)
    assert(text.contains("attempt 2/2 failed"), text)
  }

  test("T1 retry parity: first attempt throws, second succeeds, both on record") {
    import graft.pipeline.Runner
    val work = tmpDir()
    val landing = s"$work/landing/dt=2026-01-01"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(landing))
    writeCsv(landing, "reviews.csv", "review,product_id\n5,5\n")
    writeCsv(landing, "shipment_deliveries.csv",
      "shipment_id,order_id,shipment_date,delivery_date\n1,1,2022-01-10,\n")
    // orders.csv is MISSING at attempt 1; the injected sleep drops it in
    // place before attempt 2 — the transient-failure shape (late file
    // arrival) the reference's 5-minute retry budget exists for
    var slept = List.empty[Long]
    val deliverLate: Long => Unit = { ms =>
      slept ::= ms
      writeCsv(landing, "orders.csv",
        """order_id,customer_id,order_date,product_id,unit_price,quantity,total_price
          |1,10,2022-01-03,5,100,2,200
          |""".stripMargin)
    }
    val r = Runner.run(spark, work, "2026-01-01",
      retryDelayMs = 7L, sleep = deliverLate)
    assert(r.stagedRows("orders") == 1L, "second attempt must complete the run")
    assert(slept == List(7L), "exactly one retry, at the configured delay")
    val text = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$work/error_log.txt"))
    assert(text.contains("[landing] attempt 1/2 failed, retrying in 7ms"), text)
    assert(!text.contains("attempt 2/2"), s"second attempt succeeded: $text")
  }

  test("retried watermark load double-counts nothing (T1×T5, the Runner comment pinned)") {
    import graft.pipeline.Runner
    val work = tmpDir()
    val landing = s"$work/landing/dt=2026-01-01"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(landing))
    writeCsv(landing, "orders.csv",
      """order_id,customer_id,order_date,product_id,unit_price,quantity,total_price
        |1,10,2022-01-03,5,100,2,200
        |2,11,2022-01-04,6,50,1,50
        |""".stripMargin)
    writeCsv(landing, "reviews.csv", "review,product_id\n5,5\n")
    writeCsv(landing, "shipment_deliveries.csv",
      "shipment_id,order_id,shipment_date,delivery_date\n1,1,2022-01-10,\n")
    // sabotage: a garbage "parquet" in the shipments staging dir makes the
    // STAGING stage throw — but only AFTER the orders watermark append has
    // already committed (it runs beside the shipments append, and the stage
    // waits for both before it fails).
    // This is the non-idempotent-append risk the Runner scaladoc claims
    // retries don't have: a stage that half-ran, then retried whole.
    val shipStage = java.nio.file.Paths.get(s"$work/staging/shipment_deliveries")
    java.nio.file.Files.createDirectories(shipStage)
    val garbage = shipStage.resolve("part-corrupt.parquet")
    java.nio.file.Files.writeString(garbage, "not a parquet footer")
    // the injected sleep "repairs the transient fault" before attempt 2
    var slept = 0
    val repair: Long => Unit = { _ =>
      slept += 1
      java.nio.file.Files.delete(garbage)
    }
    val r = Runner.run(spark, work, "2026-01-01", retryDelayMs = 3L, sleep = repair)
    assert(slept == 1, "staging failed once and was retried once")
    val text = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$work/error_log.txt"))
    assert(text.contains("[staging] attempt 1/2 failed, retrying in 3ms"), text)
    // the retried stage re-ran the orders append against its own first
    // attempt's committed output — the watermark filtered every key, so
    // the successful attempt staged ZERO new orders rows...
    assert(r.stagedRows("orders") == 0L,
      s"retry must not re-append already-staged keys: ${r.stagedRows}")
    // ...and the store holds each key exactly once
    val staged = spark.read.parquet(s"$work/staging/orders")
      .select("order_id").collect().map(_.getInt(0)).toSeq
    assert(staged.sorted == Seq(1, 2), s"no double-count: $staged")
  }

  test("upsert: same-key rows replaced, new keys appended, idempotent") {
    val dir = tmpDir()
    val staging = s"$dir/stage_upsert"
    import spark.implicits._
    val b1 = Seq((1, "a"), (2, "b")).toDF("order_id", "v")
    val b2 = Seq((2, "B"), (3, "c")).toDF("order_id", "v")
    assert(Pipeline.upsert(spark, b1, "order_id", staging) == 2)
    assert(Pipeline.upsert(spark, b2, "order_id", staging) == 3)
    val rows = spark.read.parquet(staging).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(rows == Map(1 -> "a", 2 -> "B", 3 -> "c"))
    // replay is a no-op on content
    Pipeline.upsert(spark, b2, "order_id", staging)
    val rows2 = spark.read.parquet(staging).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(rows2 == rows)
  }

  test("scd2 merge: changed keys version, unchanged no-op, history preserved") {
    import spark.implicits._
    val dir = tmpDir()
    val staging = s"$dir/scd2"
    def ts(s: String) = java.sql.Timestamp.valueOf(s)

    // day 1: two customers
    val b1 = Seq((1, "alice", "gold"), (2, "bob", "silver")).toDF("id", "name", "tier")
    assert(Pipeline.scd2Merge(spark, b1, "id", ts("2026-01-01 00:00:00"), staging) == 2)

    // day 2: alice upgraded, bob unchanged, carol new
    val b2 = Seq((1, "alice", "platinum"), (2, "bob", "silver"), (3, "carol", "gold"))
      .toDF("id", "name", "tier")
    assert(Pipeline.scd2Merge(spark, b2, "id", ts("2026-01-02 00:00:00"), staging) == 4)

    val t = spark.read.parquet(staging)
    // alice: closed v1 + current v2; bob: single still-current v1; carol: current v1
    assert(t.count() == 4)
    val cur = t.filter(col("is_current")).collect()
      .map(r => r.getInt(0) -> r.getString(2)).toMap
    assert(cur == Map(1 -> "platinum", 2 -> "silver", 3 -> "gold"))
    val aliceV1 = t.filter(col("id") === 1 && !col("is_current")).collect()(0)
    assert(aliceV1.getString(2) == "gold")
    assert(aliceV1.getTimestamp(aliceV1.fieldIndex("effective_to")) == ts("2026-01-02 00:00:00"))
    val bobRows = t.filter(col("id") === 2).collect()
    assert(bobRows.length == 1 && bobRows(0).getBoolean(bobRows(0).fieldIndex("is_current")),
      "unchanged key produced no new version")

    // day 3 replay of day 2: pure no-op
    assert(Pipeline.scd2Merge(spark, b2, "id", ts("2026-01-03 00:00:00"), staging) == 4)
  }

  test("compaction preserves content and reduces file count") {
    val dir = tmpDir()
    val staging = s"$dir/stage_compact"
    import spark.implicits._
    // many tiny appends → many small files
    (1 to 6).foreach { i =>
      Seq((i, s"v$i")).toDF("k", "v").repartition(3)
        .write.mode("append").parquet(staging)
    }
    val before = spark.read.parquet(staging).collect().toSet
    val filesBefore = new java.io.File(staging).listFiles().count(_.getName.endsWith(".parquet"))
    assert(filesBefore > 3)
    val n = Pipeline.compact(spark, staging)
    val after = spark.read.parquet(staging).collect().toSet
    val filesAfter = new java.io.File(staging).listFiles().count(_.getName.endsWith(".parquet"))
    assert(after == before, "compaction must not change content")
    assert(filesAfter == n && filesAfter < filesBefore)

    // the same appends staged under a file: URI compact the same way
    val uri = s"file://$dir/stage_compact_uri"
    (1 to 6).foreach { i =>
      Seq((i, s"v$i")).toDF("k", "v").repartition(3)
        .write.mode("append").parquet(uri)
    }
    val nUri = Pipeline.compact(spark, uri)
    assert(spark.read.parquet(uri).collect().toSet == before)
    val uriFiles = new java.io.File(s"$dir/stage_compact_uri").listFiles()
    assert(uriFiles.count(_.getName.endsWith(".parquet")) == nUri && nUri == n)
    val leftover = new java.io.File(dir).list().filter(_.contains("__"))
    assert(leftover.isEmpty, s"compaction left ${leftover.mkString(", ")} behind")
  }

  test("every query has a DuckDB oracle — no rows-only gaps") {
    // round 2 closed the whole allowlist: portable hashes (hash52 md5-prefix,
    // Rabin–Karp replay), identical hyperplane literals, and contract
    // booleans (HLL tolerance) made every query hash-checkable
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"queries without an oracle: $missing")
    val stale = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(stale.isEmpty, s"oracles without a query: $stale")
  }

  test("malformed csv rows: quarantined under PERMISSIVE, dropped under DROPMALFORMED") {
    val dir = tmpDir()
    val bad = """order_id,customer_id,order_date,product_id,unit_price,quantity,total_price
                |1,10,2022-01-03,5,100,2,200
                |not,a,valid,row,at,all,xxx
                |3,10,2022-01-05,5,100,3,300
                |""".stripMargin
    val p = writeCsv(dir, "bad.csv", bad)
    // Spark disallows querying only the corrupt-record column straight off
    // the scan — cache the parsed batch first (the quarantine sink would
    // do the same)
    val permissive = Pipeline.readCsvWithPolicy(spark, p, Pipeline.ordersSchema).cache()
    assert(permissive.count() == 3, "PERMISSIVE keeps every row")
    assert(permissive.filter(col("_corrupt_record").isNotNull).count() == 1,
      "bad row lands in the quarantine column")
    permissive.unpersist()
    val dropped = Pipeline.readCsvWithPolicy(spark, p, Pipeline.ordersSchema,
      mode = "DROPMALFORMED")
    // collect, not count(): a count-only query never parses the fields, so
    // malformed rows are only detected when columns are materialized
    assert(dropped.collect().length == 2, "DROPMALFORMED removes the bad row")
  }

  test("jsonl landing: pinned schema, corrupt lines quarantined not fatal") {
    import org.apache.spark.sql.types._
    val dir = tmpDir()
    val p = s"$dir/docs.jsonl"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
      """{"doc_id": 1, "text": "alpha beta", "lang": "en"}
        |{"doc_id": 2, "text": "gamma", "lang": "fr"}
        |{"doc_id": broken not json
        |{"doc_id": 3, "text": "delta", "lang": "de"}
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType)))
    val df = Pipeline.readJsonl(spark, p, schema).cache()
    assert(df.count() == 4)
    assert(df.filter(col("_corrupt_record").isNotNull).count() == 1)
    assert(df.filter(col("doc_id").isNotNull).count() == 3)
    // DROPMALFORMED silently discards the corrupt line
    val dropped = Pipeline.readJsonl(spark, p, schema, mode = "DROPMALFORMED")
    assert(dropped.count() == 3)
    // FAILFAST is the strict-batch alternative: first corrupt line aborts
    val strict = Pipeline.readJsonl(spark, p, schema, mode = "FAILFAST")
    intercept[org.apache.spark.SparkException] {
      strict.collect()
    }
    df.unpersist()
  }

  test("orc staging: columnar round-trip with predicate pushdown") {
    val dir = tmpDir()
    val src = graft.sources.Tables.orders(spark, TestSpark.sf)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    src.write.mode("overwrite").orc(s"$dir/orders_orc")
    val back = spark.read.orc(s"$dir/orders_orc")
    assert(back.count() == src.count())
    val q = back.filter(col("o_orderkey") === 1).select("o_totalprice")
    assert(q.count() <= 1)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") || plan.contains("pushed"),
      s"ORC scan lost filter pushdown:\n$plan")
  }

  test("schema evolution: mergeSchema unions per-file parquet schemas") {
    val dir = tmpDir()
    val staging = s"$dir/stage_evolve"
    import spark.implicits._
    Seq((1, "a")).toDF("k", "v").write.mode("append").parquet(staging)
    Seq((2, "b", 9.5)).toDF("k", "v", "score").write.mode("append").parquet(staging)
    val merged = Pipeline.readStagingMerged(spark, staging)
    assert(merged.columns.toSet == Set("k", "v", "score"))
    val byK = merged.collect().map(r => r.getInt(0) -> r).toMap
    assert(byK(1).isNullAt(byK(1).fieldIndex("score")), "old file reads null for the new column")
    assert(byK(2).getDouble(byK(2).fieldIndex("score")) == 9.5)
  }

  /** Lands the small three-table fixture the runner tests use. */
  private def landFixture(work: String): Unit = {
    val landing = s"$work/landing/dt=2026-01-01"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(landing))
    writeCsv(landing, "orders.csv", ordersCsv)
    writeCsv(landing, "reviews.csv", "review,product_id\n5,5\n4,5\n5,6\n")
    writeCsv(landing, "shipment_deliveries.csv",
      """shipment_id,order_id,shipment_date,delivery_date
        |1,1,2022-01-10,
        |2,2,,
        |""".stripMargin)
  }

  /** Every job start (with its local properties) and job end a listener
    * sees. [[fence]] runs a marker job and returns its id together with the
    * jobs open (started, not ended) when its start arrived: listener events
    * arrive in the order they were posted, so that snapshot covers exactly
    * the events posted before the marker job was submitted.
    */
  private class JobLog extends org.apache.spark.scheduler.SparkListener {
    import org.apache.spark.scheduler.{SparkListenerJobEnd, SparkListenerJobStart}
    private val marker = s"graft-job-fence-${java.util.UUID.randomUUID}"
    val started = new java.util.concurrent.ConcurrentHashMap[Int, java.util.Properties]()
    private val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    private val fences = new java.util.concurrent.LinkedBlockingQueue[(Int, Set[Int])]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == marker))
        fences.put(e.jobId -> (started.keySet.asScala.toSet -- ended.asScala))
      else started.put(e.jobId, Option(e.properties).getOrElse(new java.util.Properties))
    override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId)
    def fence(): (Int, Set[Int]) = {
      val sc = spark.sparkContext
      sc.setJobGroup(marker, "job fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val f = fences.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      assert(f != null, "fence job never reached the listener")
      f
    }
  }

  /** The local properties of each Spark job `f` submits. Two fence jobs
    * bound them: job ids are assigned in submission order, so once the
    * closing fence has been seen, every job with an id between the two
    * fences was one of `f`'s.
    */
  private def jobPropsOf(f: => Any): Seq[java.util.Properties] = {
    val log = new JobLog
    spark.sparkContext.addSparkListener(log)
    try {
      val (from, _) = log.fence()
      f
      val (to, _) = log.fence()
      log.started.asScala.collect { case (id, p) if id > from && id < to => p }.toSeq
    } finally spark.sparkContext.removeSparkListener(log)
  }

  /** The number of Spark jobs `f` submits. */
  private def jobsOf(f: => Any): Int = jobPropsOf(f).size

  test("runner job budget: one run starts at most 24 Spark jobs on the fixture") {
    import graft.pipeline.Runner
    val work = tmpDir()
    landFixture(work)
    // first run on an empty work dir, then a steady-state re-run. Counts
    // from the writes, footer watermarks and known schemas keep both far
    // below the 39/41 jobs that separate count()s, MAX(pk) scans, schema
    // inference and read-back counts cost on this fixture
    val cold = jobsOf(Runner.run(spark, work, "2026-01-01"))
    val steady = jobsOf(Runner.run(spark, work, "2026-01-01"))
    assert(cold <= 24 && steady <= 24, s"jobs per run: cold $cold, steady $steady")
  }

  test("footer watermark equals the scanned MAX(pk), fallback included") {
    import spark.implicits._
    val dir = tmpDir()
    def scanned(path: String, pk: String): Long =
      if (!Files.exists(java.nio.file.Paths.get(path))) 0L
      else spark.read.parquet(path)
        .agg(coalesce(max(col(pk).cast("long")), lit(0L))).collect()(0).getLong(0)
    def same(path: String, pk: String, expected: Long): Unit = {
      assert(scanned(path, pk) == expected)
      assert(Pipeline.stagedWatermark(spark, path, pk) == expected, s"$path $pk")
    }
    val staging = s"$dir/staging_orders"
    same(staging, "order_id", 0L) // nothing staged yet
    val b1 = Pipeline.normalizeOrders(Pipeline.readCsv(
      spark, writeCsv(dir, "b1.csv", ordersCsv), Pipeline.ordersSchema))
    val b2 = Pipeline.normalizeOrders(Pipeline.readCsv(
      spark, writeCsv(dir, "b2.csv", ordersCsvBatch2), Pipeline.ordersSchema))
    Pipeline.watermarkAppend(spark, b1, "order_id", staging)
    Pipeline.watermarkAppend(spark, b2, "order_id", staging)
    same(staging, "order_id", 4L)
    // a no-op re-run still commits its (zero-row) file; the footers agree
    val filesBefore = new java.io.File(staging).list().count(_.endsWith(".parquet"))
    assert(Pipeline.watermarkAppend(spark, b2, "order_id", staging) == 0L)
    assert(new java.io.File(staging).list().count(_.endsWith(".parquet")) >= filesBefore)
    same(staging, "order_id", 4L)
    // BIGINT keys, negative keys (COALESCE keeps the negative max) and an
    // all-null key column read from footers too
    Seq(7L, 3000000000L).toDF("k").write.parquet(s"$dir/longs")
    same(s"$dir/longs", "k", 3000000000L)
    Seq(-5, -9).toDF("k").write.parquet(s"$dir/negative")
    same(s"$dir/negative", "k", -5L)
    Seq(Option.empty[Int], None).toDF("k").write.parquet(s"$dir/nulls")
    same(s"$dir/nulls", "k", 0L)
    // non-integral keys carry no integral statistics: the scan fallback
    Seq("7", "12", "9").toDF("k").write.parquet(s"$dir/strings")
    same(s"$dir/strings", "k", 12L)
    Seq(2.0, 40.0).toDF("k").write.parquet(s"$dir/doubles")
    same(s"$dir/doubles", "k", 40L)
  }

  test("run report counts equal the rows in staging, analytics and the exports") {
    import graft.pipeline.Runner
    val work = tmpDir()
    landFixture(work)
    def stagedNow(t: String): Long = {
      val p = s"$work/staging/$t"
      if (Files.exists(java.nio.file.Paths.get(p))) spark.read.parquet(p).count() else 0L
    }
    val tables = Seq("orders", "shipment_deliveries", "reviews")
    (1 to 2).foreach { _ =>
      val before = tables.map(t => t -> stagedNow(t)).toMap
      val r = Runner.run(spark, work, "2026-01-01")
      assert(r.stagedRows == tables.map(t => t -> (stagedNow(t) - before(t))).toMap)
      r.analyticsRows.foreach { case (name, n) =>
        assert(spark.read.parquet(s"$work/analytics/$name").count() == n, name)
        assert(spark.read.option("header", "true").csv(s"$work/export/$name").count() == n, name)
      }
    }
    // dedup = true reports the rows it wrote, not the rows it was handed
    val reviews = Pipeline.readCsv(spark,
      writeCsv(work, "r.csv", "review,product_id\n5,1\n5,1\n4,2\n"), Pipeline.reviewsSchema)
    val s = s"$work/staging_dedup"
    assert(Pipeline.fullAppend(spark, reviews, s, dedup = true) == 2L)
    assert(Pipeline.fullAppend(spark, reviews, s) == 3L)
    assert(spark.read.parquet(s).count() == 5L)
  }

  test("concurrent staging: a retried stage stages reviews exactly once") {
    import graft.pipeline.Runner
    val work = tmpDir()
    landFixture(work)
    // the shipments append fails on a garbage file while the orders append
    // beside it commits; reviews must not have been appended by the failed
    // attempt, or the retry would stage them twice
    val shipStage = java.nio.file.Paths.get(s"$work/staging/shipment_deliveries")
    Files.createDirectories(shipStage)
    val garbage = shipStage.resolve("part-corrupt.parquet")
    Files.writeString(garbage, "not a parquet footer")
    val r = Runner.run(spark, work, "2026-01-01", retryDelayMs = 0L,
      sleep = _ => Files.delete(garbage))
    val text = Files.readString(java.nio.file.Paths.get(s"$work/error_log.txt"))
    assert(text.contains("[staging] attempt 1/2 failed"), text)
    assert(r.stagedRows == Map("orders" -> 0L, "shipment_deliveries" -> 2L, "reviews" -> 3L))
    val reviews = spark.read.parquet(s"$work/staging/reviews")
      .collect().map(x => (x.getInt(0), x.getInt(1))).toSeq.sorted
    assert(reviews == Seq((4, 5), (5, 5), (5, 6)), s"landed reviews once: $reviews")
  }

  test("concurrent writes: a failed analytics write rethrows only after its siblings finish") {
    import graft.pipeline.Runner
    val work = tmpDir()
    landFixture(work)
    // staging appends never read reviews back, so the garbage file passes
    // staging and fails only review_percentages in the transform, on both
    // attempts; the other two analytics writes run beside it
    val revStage = java.nio.file.Paths.get(s"$work/staging/reviews")
    Files.createDirectories(revStage)
    Files.writeString(revStage.resolve("part-corrupt.parquet"), "not a parquet footer")
    def siblingsCommitted(): Boolean = Seq("agg_monthly_orders", "agg_shipments")
      .forall(t => Files.exists(java.nio.file.Paths.get(s"$work/analytics/$t/_SUCCESS")))
    val log = new JobLog
    spark.sparkContext.addSparkListener(log)
    try {
      var atRetry = Option.empty[(Set[Int], Boolean)]
      val e = intercept[Exception] {
        Runner.run(spark, work, "2026-01-01", retryDelayMs = 0L,
          sleep = _ => atRetry = Some(log.fence()._2 -> siblingsCommitted()))
      }
      val (_, openAtThrow) = log.fence()
      assert(!e.isInstanceOf[java.util.concurrent.ExecutionException], e)
      assert(openAtThrow.isEmpty, s"jobs still running at the throw: $openAtThrow")
      assert(siblingsCommitted(), "sibling analytics writes finished before the throw")
      assert(atRetry == Some(Set.empty[Int] -> true),
        s"open jobs / siblings committed when the stage retried: $atRetry")
      val lines = Files.readAllLines(java.nio.file.Paths.get(s"$work/error_log.txt")).asScala
      assert(lines.size == 2 && lines.forall(_.contains("[transform] attempt ")), lines)
      assert(lines(0).contains("attempt 1/2 failed") && lines(1).contains("attempt 2/2 failed"), lines)
    } finally spark.sparkContext.removeSparkListener(log)
  }

  test("concurrent writes: every job of a run carries the caller's job group") {
    import graft.pipeline.Runner
    val work = tmpDir()
    landFixture(work)
    val sc = spark.sparkContext
    val props = jobPropsOf {
      sc.setJobGroup("graft-runner-caller", "caller's group")
      try Runner.run(spark, work, "2026-01-01") finally sc.clearJobGroup()
    }
    assert(props.nonEmpty)
    val groups = props.map(p => Option(p.getProperty("spark.jobGroup.id")))
    assert(groups.forall(_.contains("graft-runner-caller")), s"job groups: $groups")
  }

  test("upsert and scd2 merge through a file: URI keep what a plain path keeps") {
    import spark.implicits._
    val dir = tmpDir()
    def upserted(path: String): Set[(Int, String)] = {
      Pipeline.upsert(spark, Seq((1, "a"), (2, "b")).toDF("order_id", "v"), "order_id", path)
      Pipeline.upsert(spark, Seq((2, "B"), (3, "c")).toDF("order_id", "v"), "order_id", path)
      spark.read.parquet(path).collect().map(r => r.getInt(0) -> r.getString(1)).toSet
    }
    val plain = upserted(s"$dir/upsert_plain")
    assert(plain == Set(1 -> "a", 2 -> "B", 3 -> "c"))
    assert(upserted(s"file://$dir/upsert_uri") == plain)

    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def merged(path: String): Set[(Int, String, Boolean, Option[java.sql.Timestamp])] = {
      Pipeline.scd2Merge(spark, Seq((1, "gold"), (2, "silver")).toDF("id", "tier"), "id",
        ts("2026-01-01 00:00:00"), path)
      Pipeline.scd2Merge(spark, Seq((1, "platinum"), (3, "gold")).toDF("id", "tier"), "id",
        ts("2026-01-02 00:00:00"), path)
      spark.read.parquet(path).select("id", "tier", "is_current", "effective_to").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getBoolean(2), Option(r.getTimestamp(3)))).toSet
    }
    val plainScd = merged(s"$dir/scd2_plain")
    assert(plainScd.size == 4, plainScd)
    assert(merged(s"file://$dir/scd2_uri") == plainScd)
  }

  test("error log: a file: URI work dir logs into that work dir") {
    import graft.pipeline.Runner
    val work = tmpDir() // no landing files → the landing stage fails
    intercept[Exception] { Runner.run(spark, s"file://$work", "2026-01-01", retryDelayMs = 0L) }
    val log = java.nio.file.Paths.get(s"$work/error_log.txt")
    assert(Files.exists(log), "error_log.txt written inside the work dir")
    val lines = Files.readAllLines(log).asScala
    assert(lines.size == 2 && lines.forall(_.contains("[landing] attempt ")), lines)
    assert(lines(0).contains("attempt 1/2 failed, retrying in 0ms"), lines)
    assert(lines(1).contains("attempt 2/2 failed"), lines)
  }

  test("staging aside: neither a refused batch nor a successful run leaves it behind") {
    import graft.pipeline.Runner
    val work = tmpDir()
    landFixture(work)
    val landing = s"$work/landing/dt=2026-01-01"
    writeCsv(landing, "orders.csv",
      """order_id,customer_id,order_date,product_id,unit_price,quantity,total_price
        |1,10,2022-01-03,5,100,2,-200
        |""".stripMargin)
    val aside = java.nio.file.Paths.get(Runner.asideDir(work))
    intercept[IllegalStateException] { Runner.run(spark, work, "2026-01-01", retryDelayMs = 0L) }
    assert(!Files.exists(aside), "a refused batch left its staging attempt aside")
    val text = Files.readString(java.nio.file.Paths.get(s"$work/error_log.txt"))
    assert(text.contains("[validate]") && !text.contains("[staging]"), text)
    writeCsv(landing, "orders.csv", ordersCsv)
    assert(Runner.run(spark, work, "2026-01-01", retryDelayMs = 0L).stagedRows("orders") == 3L)
    assert(!Files.exists(aside), "a successful run left its staging attempt aside")
  }

  test("staging aside: what a killed run left aside is dropped, never published") {
    import graft.pipeline.Runner
    import spark.implicits._
    val work = tmpDir()
    landFixture(work)
    // a killed run's leftovers: a torn orders part file and a whole reviews
    // append that never published
    val aside = Runner.asideDir(work)
    Files.createDirectories(java.nio.file.Paths.get(s"$aside/orders"))
    Files.writeString(java.nio.file.Paths.get(s"$aside/orders/part-00000-killed.parquet"),
      "not a parquet footer")
    Seq((1, 9)).toDF("review", "product_id").write.parquet(s"$aside/reviews")
    val r = Runner.run(spark, work, "2026-01-01", retryDelayMs = 0L)
    assert(r.stagedRows == Map("orders" -> 3L, "shipment_deliveries" -> 2L, "reviews" -> 3L))
    assert(!Files.exists(java.nio.file.Paths.get(s"$work/error_log.txt")), "no attempt failed")
    val orders = spark.read.parquet(s"$work/staging/orders")
      .select("order_id").collect().map(_.getInt(0)).toSeq.sorted
    assert(orders == Seq(1, 2, 3), s"staged orders: $orders")
    val reviews = spark.read.parquet(s"$work/staging/reviews")
      .collect().map(x => (x.getInt(0), x.getInt(1))).toSeq.sorted
    assert(reviews == Seq((4, 5), (5, 5), (5, 6)), s"staged reviews: $reviews")
    assert(!Files.exists(java.nio.file.Paths.get(aside)))
  }

  test("review_percentages exports its rows in product_id order") {
    import graft.pipeline.Runner
    val work = tmpDir()
    landFixture(work)
    val products = new scala.util.Random(11).shuffle((1 to 40).toList)
    writeCsv(s"$work/landing/dt=2026-01-01", "reviews.csv",
      products.flatMap(p => Seq(s"5,$p", s"${1 + p % 5},$p")).mkString("review,product_id\n", "\n", "\n"))
    assert(Runner.run(spark, work, "2026-01-01", retryDelayMs = 0L)
      .analyticsRows("review_percentages") == 40L)
    val csv = Files.list(java.nio.file.Paths.get(s"$work/export/review_percentages"))
      .iterator().asScala.filter(_.getFileName.toString.endsWith(".csv")).toSeq
    assert(csv.size == 1, csv)
    val lines = Files.readAllLines(csv.head).asScala
    assert(lines.head.startsWith("product_id,"), lines.head)
    val ids = lines.tail.map(_.takeWhile(_ != ',').toInt)
    assert(ids == (1 to 40), s"export order: $ids")
  }

  test("csv export round-trips with header") {
    val dir = tmpDir()
    val df = graft.operators.Relational.revenueByNation(spark, TestSpark.sf)
    Pipeline.exportCsv(df, s"$dir/export")
    val back = spark.read.option("header", "true").csv(s"$dir/export")
    assert(back.count() == df.count())
    assert(back.columns.toSeq == df.columns.toSeq)
  }
}
