package graft.pipeline

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.IntLogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's ELT pipeline surface re-expressed Spark-first
  * (SURVEY.md §2.1 S1-S10, §2.10 T3-T5):
  *
  *  - landing:   CSV scan with *pinned* StructTypes (the reference lets
  *               pandas infer, `extract_load_transform_data_pipeline.py.py:73`
  *               — nondeterministic at scale, so we pin).
  *  - staging:   incremental watermark append — only rows with pk > MAX(pk)
  *               already staged (`:95-107`), or full append for tables
  *               without a usable key (reviews, `:109-113`). A caller that
  *               must not publish before a check passes writes the batch
  *               aside ([[watermarkAppendAside]], or [[fullAppend]] into
  *               the aside directory) and moves the files into the staged
  *               table with [[publish]] once it may.
  *  - transform: the analytics queries (graft.operators.*), or a verbatim
  *               SQL script via [[SqlScriptRunner]] (`:120-134`).
  *  - export:    header'd CSV per analytics table (`:136-160`).
  *
  * The staging store here is parquet-on-filesystem; the JDBC variant is the
  * same `DataFrameWriter` calls with `.jdbc(url, table, props)` — semantics
  * (watermark, append, overwrite-truncate) are carried by this class, not
  * by the sink. All stages are wired, including the two the reference
  * defined but left out of its DAG (T3 ⚠).
  */
object Pipeline {
  import scala.jdk.CollectionConverters._

  /** Pinned landing schemas for the reference's three staging tables.
    * `orders.csv` headers call the last column `total_price` while the DDL
    * calls it `amount` (SURVEY.md §1 ⚠) — the rename is explicit here.
    */
  val ordersSchema: StructType = StructType(Seq(
    StructField("order_id", IntegerType, nullable = false),
    StructField("customer_id", IntegerType, nullable = false),
    StructField("order_date", StringType, nullable = false), // parsed defensively, E2
    StructField("product_id", IntegerType, nullable = false),
    StructField("unit_price", IntegerType, nullable = false),
    StructField("quantity", IntegerType, nullable = false),
    StructField("total_price", IntegerType, nullable = false)))

  val reviewsSchema: StructType = StructType(Seq(
    StructField("review", IntegerType, nullable = false),
    StructField("product_id", IntegerType, nullable = false)))

  val shipmentsSchema: StructType = StructType(Seq(
    StructField("shipment_id", IntegerType, nullable = false),
    StructField("order_id", IntegerType, nullable = false),
    StructField("shipment_date", StringType, nullable = true),
    StructField("delivery_date", StringType, nullable = true)))

  /** S1/S2: schema-pinned CSV scan (header row skipped by name). The path
    * is scheme-agnostic — `file:`, `hdfs:`, or `s3a:` all resolve through
    * the Hadoop filesystem layer, so the reference's S3 ingest is this
    * same call over an `s3a://bucket/key` path once [[s3aConf]] has been
    * applied to the session.
    */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  /** S1: the reference's defining ingest is an UNSIGNED GET from a public
    * S3 bucket (anonymous boto3 client,
    * `extract_load_transform_data_pipeline.py.py:43-63`). The Spark-native
    * equivalent is the `s3a://` filesystem with the anonymous credentials
    * provider — a session configuration, not a code path: every reader in
    * this class then accepts `s3a://` URIs unchanged, and the SCAN runs
    * distributed on the executors instead of the reference's
    * single-client download-then-read. Returns the session for chaining.
    */
  def s3aConf(spark: SparkSession, anonymous: Boolean = true,
              endpoint: Option[String] = None): SparkSession = {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.s3a.impl", "org.apache.hadoop.fs.s3a.S3AFileSystem")
    if (anonymous)
      hc.set("fs.s3a.aws.credentials.provider",
        "org.apache.hadoop.fs.s3a.AnonymousAWSCredentialsProvider")
    else
      hc.unset("fs.s3a.aws.credentials.provider") // default chain (env/IAM)
    endpoint.foreach(hc.set("fs.s3a.endpoint", _))
    // object stores have no rename/list consistency worth paying for on a
    // read-only landing scan; favor sequential whole-object reads (CSV)
    hc.set("fs.s3a.experimental.input.fadvise", "sequential")
    spark
  }

  /** CSV scan with an explicit malformed-row policy — the ingest decision
    * the reference leaves to pandas defaults. PERMISSIVE keeps bad rows
    * (nulls + the raw line in `_corrupt_record` for a quarantine sink),
    * DROPMALFORMED silently drops, FAILFAST aborts the batch. At 100 TB
    * PERMISSIVE + quarantine is the only auditable choice.
    */
  def readCsvWithPolicy(spark: SparkSession, path: String, schema: StructType,
                        mode: String = "PERMISSIVE"): DataFrame = {
    val s =
      if (mode == "PERMISSIVE" && !schema.fieldNames.contains("_corrupt_record"))
        schema.add(StructField("_corrupt_record", StringType, nullable = true))
      else schema
    spark.read.option("header", "true").option("mode", mode)
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(s).csv(path)
  }

  /** Schema-evolution read: merge the per-file parquet schemas of a staged
    * directory (a source that grew a column mid-stream stays readable;
    * missing columns are null for old files).
    */
  def readStagingMerged(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** JSON-lines scan with a pinned schema and the same malformed-row
    * policy surface as [[readCsvWithPolicy]] — the landing format of
    * every web-scale text corpus (one JSON document per line; a corrupt
    * line quarantines under PERMISSIVE instead of failing the batch).
    * Schema pinning matters doubly for JSONL: inference requires an extra
    * full pass AND drifts with whichever keys happen to appear in the
    * sampled split.
    */
  def readJsonl(spark: SparkSession, path: String, schema: StructType,
                mode: String = "PERMISSIVE"): DataFrame = {
    val s =
      if (mode == "PERMISSIVE" && !schema.fieldNames.contains("_corrupt_record"))
        schema.add(StructField("_corrupt_record", StringType, nullable = true))
      else schema
    spark.read.option("mode", mode)
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(s).json(path)
  }

  /** Ingest-time normalization for orders: `total_price`→`amount` rename and
    * string→date parse (`TO_DATE(order_date,'YYYY-MM-DD')`, E2).
    */
  def normalizeOrders(df: DataFrame): DataFrame =
    df.withColumnRenamed("total_price", "amount")
      .withColumn("order_date", to_date(col("order_date"), "yyyy-MM-dd"))

  def normalizeShipments(df: DataFrame): DataFrame =
    df.withColumn("shipment_date", to_date(col("shipment_date"), "yyyy-MM-dd"))
      .withColumn("delivery_date", to_date(col("delivery_date"), "yyyy-MM-dd"))

  /** S3/A7: the incremental watermark append. Takes the staged table's
    * current MAX(pk) (COALESCE 0) from the parquet footers
    * ([[stagedWatermark]], no Spark job), filters the incoming batch to
    * pk > max and appends it. Exactly-once for monotonic keys, idempotent on
    * re-run: the reference's semantics (`:95-107`) without the client-side
    * loop. One Spark job, the write; the returned row count is observed on
    * it. A batch with nothing new still commits, as one zero-row file.
    */
  def watermarkAppend(spark: SparkSession, incoming: DataFrame, pk: String,
                      stagingPath: String): Long =
    watermarkAppendAside(spark, incoming, pk, stagingPath, stagingPath)

  /** [[watermarkAppend]] with the rows above the watermark of `stagingPath`
    * written to `aside` instead, for [[publish]] to move into the staged
    * table later. The watermark is read from the staged table alone, so
    * nothing written aside moves it.
    */
  private[pipeline] def watermarkAppendAside(spark: SparkSession, incoming: DataFrame,
                                             pk: String, stagingPath: String,
                                             aside: String): Long = {
    val max = stagedWatermark(spark, stagingPath, pk)
    writeCounted(incoming.filter(col(pk).cast("long") > max))(
      _.write.mode(SaveMode.Append).parquet(aside))
  }

  /** Moves the data files written to `aside` into the staged table at
    * `stagingPath`, one Hadoop FileSystem rename per file, so `file:`,
    * `s3a:` and `hdfs:` URIs work as plain paths do. Spark's part-file names
    * carry the id of the write that made them, so they never collide with a
    * file already staged. Committer markers (`_SUCCESS`) stay behind with
    * the aside directory.
    */
  private[pipeline] def publish(spark: SparkSession, aside: String,
                                stagingPath: String): Unit = {
    val target = new Path(stagingPath)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(target)
    stagedFiles(spark, aside).foreach { st =>
      val to = new Path(target, st.getPath.getName)
      if (!fs.rename(st.getPath, to))
        throw new java.io.IOException(s"publish: could not move ${st.getPath} to $to")
    }
  }

  /** S4: full append, no dedup — reference-faithful for reviews (T5 ⚠:
    * at-least-once, duplicating on re-run; `dedup = true` opts into the fix).
    * One Spark job, the write (plus the dedup shuffle when opted in); the
    * returned row count is observed on it.
    */
  def fullAppend(spark: SparkSession, incoming: DataFrame, stagingPath: String,
                 dedup: Boolean = false): Long =
    writeCounted(if (dedup) incoming.dropDuplicates() else incoming)(
      _.write.mode(SaveMode.Append).parquet(stagingPath))

  /** Runs `write` over `df` and returns the rows it wrote, observed on the
    * write's own job (`Dataset.observe`) instead of a separate `count()`.
    */
  private def writeCounted(df: DataFrame)(write: DataFrame => Unit): Long = {
    val rows = Observation()
    write(df.observe(rows, count(lit(1)).as("rows")))
    rows.get("rows").asInstanceOf[Long]
  }

  /** COALESCE(MAX(pk), 0) over a staged parquet table, on the driver: the
    * largest `pk` row-group statistic in the footers of the table's files,
    * listed through the Hadoop FileSystem (so `s3a:` staging works). A
    * missing or empty table reads 0. Only when a footer carries no signed
    * INT32/INT64 statistics for a top-level column named exactly `pk`
    * (another type or name case, a nested or partitioned layout, a writer
    * that left statistics out) does it fall back to scanning the table. A
    * data file that is not parquet throws, as the scan would.
    */
  private[graft] def stagedWatermark(spark: SparkSession, stagingPath: String,
                                     pk: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val maxes = stagedFiles(spark, stagingPath)
      .map(st => if (st.isFile) footerMax(st, conf, pk) else None)
    if (maxes.forall(_.isDefined)) maxes.flatMap(_.get).maxOption.getOrElse(0L)
    else spark.read.parquet(stagingPath)
      .agg(coalesce(max(col(pk).cast("long")), lit(0L)))
      .collect()(0).getLong(0)
  }

  /** The entries of a staged table's directory that Spark's own listing
    * would read (none when the directory is missing), listed through the
    * Hadoop FileSystem, so `file:`, `s3a:` and `hdfs:` URIs work as plain
    * paths do.
    */
  private def stagedFiles(spark: SparkSession, stagingPath: String): Array[FileStatus] = {
    val dir = new Path(stagingPath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) Array.empty
    else fs.listStatus(dir).filterNot { st =>
      val n = st.getPath.getName
      n.startsWith("_") || n.startsWith(".") || n.endsWith("._COPYING_")
    }
  }

  /** The largest `pk` value in one parquet file by its row-group statistics:
    * Some(None) when the file holds no non-null `pk`, None when the footer
    * cannot tell.
    */
  private def footerMax(file: FileStatus, conf: Configuration,
                        pk: String): Option[Option[Long]] = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf))
    val footer = try reader.getFooter finally reader.close()
    val field = footer.getFileMetaData.getSchema.getFields.asScala
      .find(f => f.getName == pk && f.isPrimitive).map(_.asPrimitiveType)
    val integral = field.exists { f =>
      val signed = f.getLogicalTypeAnnotation match {
        case null => true
        case i: IntLogicalTypeAnnotation => i.isSigned
        case _ => false
      }
      signed && (f.getPrimitiveTypeName == PrimitiveTypeName.INT32 ||
        f.getPrimitiveTypeName == PrimitiveTypeName.INT64)
    }
    if (!integral) return None
    val perGroup = footer.getBlocks.asScala.filter(_.getRowCount > 0).map { block =>
      block.getColumns.asScala.find(_.getPath.toArray.sameElements(Array(pk)))
        .map(_.getStatistics).filter(s => s != null && !s.isEmpty)
        .map(s => if (!s.hasNonNullValue) None else s.genericGetMax match {
          case i: java.lang.Integer => Some(i.longValue)
          case l: java.lang.Long => Some(l.longValue)
        })
    }
    if (perGroup.forall(_.isDefined)) Some(perGroup.flatMap(_.get).maxOption) else None
  }

  /** A staged table read with `schema`, or an empty frame of `schema` when
    * nothing is staged at `path` yet.
    */
  private def readStagingOrEmpty(spark: SparkSession, path: String,
                                 schema: StructType): DataFrame =
    if (stagedFiles(spark, path).nonEmpty) spark.read.schema(schema).parquet(path)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** S6: analytics export — header'd CSV. Small aggregate outputs use a
    * single writer (`coalesce(1)`, matching the reference's one-file-per-
    * table export); large exports should pass coalesceTo > 1 or 0 (keep
    * natural partitioning).
    */
  def exportCsv(df: DataFrame, path: String, coalesceTo: Int = 1): Unit = {
    val out = if (coalesceTo > 0) df.coalesce(coalesceTo) else df
    out.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)
  }

  /** S10: idempotent overwrite of an analytics table (TRUNCATE+INSERT).
    * Returns the rows written, observed on the write's own job.
    */
  def overwriteParquet(df: DataFrame, path: String): Long =
    writeCounted(df)(_.write.mode(SaveMode.Overwrite).parquet(path))

  /** Upsert (merge-by-key): incoming rows replace same-key staged rows,
    * new keys append — the natural extension of the reference's
    * insert-only watermark for sources that mutate rows. Implemented as
    * anti-join + union + full rewrite; on a real deployment the same
    * semantics ride a MERGE-capable sink, but the row-level contract
    * (latest write wins per key) is identical and tested here.
    */
  def upsert(spark: SparkSession, incoming: DataFrame, pk: String,
             stagingPath: String): Long = {
    val existing = readStagingOrEmpty(spark, stagingPath, incoming.schema)
    val merged = existing
      .join(incoming.select(pk).distinct(), Seq(pk), "left_anti")
      .unionByName(incoming)
    // materialize before overwriting the directory being read
    val rows = merged.cache().count()
    merged.write.mode(SaveMode.Overwrite).parquet(stagingPath)
    merged.unpersist()
    rows
  }

  /** SCD Type-2 merge: history-tracking upsert. Each staged row carries
    * `effective_from` / `effective_to` / `is_current`; merging a snapshot
    * batch (rows as-of `asOf`):
    *
    *  - a key whose attributes CHANGED closes its current row
    *    (`effective_to = asOf`, `is_current = false`) and appends the new
    *    version;
    *  - an unchanged key is a no-op (no new version);
    *  - a brand-new key appends its first version;
    *  - closed history rows are never touched.
    *
    * Change detection hashes the non-key payload columns, so callers don't
    * enumerate attributes. Rewrite-on-merge like [[upsert]]; on a
    * MERGE-capable warehouse sink the same row-level contract rides a
    * single MERGE statement.
    */
  def scd2Merge(spark: SparkSession, incoming: DataFrame, pk: String,
                asOf: java.sql.Timestamp, stagingPath: String): Long = {
    val payloadCols = incoming.columns.filterNot(_ == pk).sorted
    def withHash(df: DataFrame): DataFrame =
      df.withColumn("__payload_hash",
        md5(to_json(struct(payloadCols.map(col).toIndexedSeq: _*))))

    val versionedSchema = StructType(incoming.schema.fields ++ Seq(
      StructField("effective_from", TimestampType, nullable = false),
      StructField("effective_to", TimestampType, nullable = true),
      StructField("is_current", BooleanType, nullable = false)))
    val existing = readStagingOrEmpty(spark, stagingPath, versionedSchema)

    val inc = withHash(incoming)
    val current = withHash(existing.filter(col("is_current")))
      .withColumnRenamed("__payload_hash", "__cur_hash")
    val history = existing.filter(!col("is_current"))

    // classify incoming keys against the current version
    val joined = inc.join(
      current.select(col(pk), col("__cur_hash")), Seq(pk), "left")
    val newVersions = joined
      .filter(col("__cur_hash").isNull || col("__cur_hash") =!= col("__payload_hash"))
      .select(incoming.columns.map(col).toIndexedSeq: _*)
      .withColumn("effective_from", lit(asOf))
      .withColumn("effective_to", lit(null).cast(TimestampType))
      .withColumn("is_current", lit(true))
    // close current rows superseded by a changed incoming version
    val changedKeys = newVersions.select(col(pk)).distinct()
    val closed = existing.filter(col("is_current"))
      .join(changedKeys, Seq(pk), "left_semi")
      .withColumn("effective_to", lit(asOf))
      .withColumn("is_current", lit(false))
    val untouchedCurrent = existing.filter(col("is_current"))
      .join(changedKeys, Seq(pk), "left_anti")

    val merged = history.unionByName(untouchedCurrent)
      .unionByName(closed).unionByName(newVersions)
    val rows = merged.cache().count() // materialize before overwriting the source dir
    merged.write.mode(SaveMode.Overwrite).parquet(stagingPath)
    merged.unpersist()
    rows
  }

  /** Small-file compaction: rewrite a staged directory into
    * ceil(bytes / targetBytes) files. Streaming/incremental appends
    * accumulate small files; periodic compaction keeps scan parallelism
    * aligned with data size instead of append count. Sizing and the swap
    * go through the Hadoop FileSystem, so `file:`, `s3a:` and `hdfs:` URIs
    * work as plain paths do.
    */
  def compact(spark: SparkSession, stagingPath: String,
              targetBytes: Long = 128L * 1024 * 1024): Int = {
    val bytes = stagedFiles(spark, stagingPath).map(_.getLen).sum
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val df = spark.read.parquet(stagingPath)
    val target = new Path(stagingPath)
    val tmp = target.suffix("__compacting")
    val backup = target.suffix("__old")
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    df.repartition(nFiles).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    // atomic-ish swap: every rename is checked, a failed second rename
    // restores the backup so the staged table is never left missing, and
    // a failed swap removes the compacted copy
    fs.delete(backup, true)
    if (!fs.rename(target, backup)) {
      fs.delete(tmp, true)
      throw new java.io.IOException(
        s"compact: could not move $stagingPath aside to $backup; staging left untouched")
    }
    if (!fs.rename(tmp, target)) {
      val restored = fs.rename(backup, target)
      fs.delete(tmp, true)
      throw new java.io.IOException(
        s"compact: could not move $tmp into place" +
          (if (restored) "; original data restored"
           else s"; RESTORE FAILED — original data is at $backup"))
    }
    // only drop the backup once the new directory is confirmed readable
    if (!fs.listStatus(target).exists(_.getPath.getName.endsWith(".parquet")))
      throw new java.io.IOException(
        s"compact: swapped directory $target has no parquet files; backup kept at $backup")
    fs.delete(backup, true)
    nFiles
  }
}

/** S5: the reference ships its whole transformation as one SQL script
  * executed verbatim (`extract_load_transform_data_pipeline.py.py:120-134`).
  * Here the engine owns the queries: split into statements with a
  * quote-and-comment-aware scanner (a ';' inside a string literal or after
  * '--' on a line does NOT end a statement), run each against the session
  * catalog, return the last result.
  */
object SqlScriptRunner {

  /** Split a SQL script on statement-terminating ';' only: semicolons
    * inside '…' / "…" literals (with '' and "" escapes) and in `--` or
    * slash-star comments are part of the statement text.
    */
  def splitStatements(script: String): Seq[String] = {
    val stmts = Seq.newBuilder[String]
    val cur = new StringBuilder
    var i = 0
    var state: Char = 'n' // n=normal, s='…', d="…", l=line comment, b=block comment
    while (i < script.length) {
      val c = script.charAt(i)
      val next = if (i + 1 < script.length) script.charAt(i + 1) else '\u0000'
      state match {
        case 'n' =>
          c match {
            case ';' => stmts += cur.result(); cur.clear()
            case '\'' => state = 's'; cur += c
            case '"' => state = 'd'; cur += c
            case '-' if next == '-' => state = 'l'; cur += c
            case '/' if next == '*' => state = 'b'; cur += c
            case _ => cur += c
          }
        case 's' =>
          cur += c
          if (c == '\'') state = if (next == '\'') { cur += next; i += 1; 's' } else 'n'
        case 'd' =>
          cur += c
          if (c == '"') state = if (next == '"') { cur += next; i += 1; 'd' } else 'n'
        case 'l' =>
          cur += c
          if (c == '\n') state = 'n'
        case 'b' =>
          cur += c
          if (c == '*' && next == '/') { cur += next; i += 1; state = 'n' }
      }
      i += 1
    }
    stmts += cur.result()
    stmts.result()
      .map(_.linesIterator.filterNot(_.trim.startsWith("--")).mkString("\n").trim)
      .filter(_.nonEmpty)
  }

  def run(spark: SparkSession, script: String): Option[DataFrame] =
    splitStatements(script)
      .foldLeft(Option.empty[DataFrame]) { (_, stmt) => Some(spark.sql(stmt)) }
}
