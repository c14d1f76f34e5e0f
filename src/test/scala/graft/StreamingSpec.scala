package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Events

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  test("streaming windowed counts equal the batch twin") {
    val batch = Events.windowedCounts(spark, sf).collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap

    val q = Events.streamingWindowedCounts(spark, sf)
      .writeStream.outputMode("complete")
      .format("memory").queryName("stream_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql("SELECT * FROM stream_out").collect()
        .map(r => (r.getTimestamp(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
      assert(streamed == batch,
        s"streamed=${streamed.size} batch=${batch.size} diff=${(streamed.toSet diff batch.toSet).take(3)}")
    } finally q.stop()
  }

  test("st7: stream-static enrichment equals the batch twin") {
    val batch = Events.enrichedWindowCounts(spark, sf).collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap

    val q = Events.streamingEnrichedCounts(spark, sf)
      .writeStream.outputMode("complete")
      .format("memory").queryName("st7_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql("SELECT * FROM st7_out").collect()
        .map(r => (r.getTimestamp(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
      assert(streamed == batch,
        s"streamed=${streamed.size} batch=${batch.size} diff=${(streamed.toSet diff batch.toSet).take(3)}")
      // the enrichment must not drop events: every event lands in exactly
      // one (window, nation) bucket
      val total = Events
        .enrichedWindowCounts(spark, sf).collect().map(_.getLong(2)).sum
      assert(total == graft.sources.Tables.events(spark, sf).count())
    } finally q.stop()
  }

  test("st5: per-window top-k over the streamed aggregate equals the batch twin") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val batch = Events.windowTopTypes(spark, sf).collect()
      .map(r => (r.getTimestamp(0), r.getLong(3)) -> r.getString(1)).toMap

    // the streaming aggregate runs in complete mode; the rank is applied
    // to each emitted result set (ranking is not a streaming operator —
    // it re-ranks the complete aggregate, which is exactly the contract)
    val q = Events.streamingWindowedCounts(spark, sf)
      .writeStream.outputMode("complete")
      .format("memory").queryName("topk_out").start()
    try {
      q.processAllAvailable()
      val w = Window.partitionBy(col("window_start"))
        .orderBy(col("n_events").desc, col("event_type").asc)
      val streamed = spark.sql("SELECT window_start, event_type, n_events FROM topk_out")
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 3)
        .collect().map(r => (r.getTimestamp(0), r.getLong(3)) -> r.getString(1)).toMap
      assert(streamed == batch,
        s"streamed=${streamed.size} batch=${batch.size}")
    } finally q.stop()
  }

  test("streaming ingest dedup: sink holds exactly the arrivals d11 clears against the corpus") {
    import org.apache.spark.sql.functions._
    val work = java.nio.file.Files.createTempDirectory("graft_ingest").toString
    val q = graft.operators.Dedup.streamingIncrementalDedup(
      spark, sf, s"$work/sink", s"$work/ckpt")
    try q.processAllAvailable() finally q.stop()

    val landed = spark.read.parquet(s"$work/sink")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val arrivals = graft.sources.Tables.documents(spark, sf)
      .filter(col("doc_id") % 2 =!= 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val dups = graft.operators.Dedup.incrementalDedup(spark, sf)
      .select("batch_id").collect().map(_.getLong(0)).toSet
    assert(landed == (arrivals -- dups),
      s"landed=${landed.size} arrivals=${arrivals.size} dups=${dups.size}")
    assert(dups.nonEmpty, "planted near-dups should cross the parity split")
  }

  test("streaming ingest dedup over the persisted bucketed index matches the computed-corpus run") {
    import org.apache.spark.sql.functions._
    Seq("stream_corpus_index_shingles", "stream_corpus_index_bands").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val d = new java.io.File(s"spark-warehouse/$t")
      if (d.exists()) { d.listFiles().foreach(_.delete()); d.delete() }
    }
    graft.operators.Dedup.persistCorpusBandIndex(spark, sf, "stream_corpus_index", buckets = 4)
    val work = java.nio.file.Files.createTempDirectory("graft_ingest_idx").toString
    val q = graft.operators.Dedup.streamingIncrementalDedup(
      spark, sf, s"$work/sink", s"$work/ckpt",
      indexPrefix = Some("stream_corpus_index"))
    try q.processAllAvailable() finally q.stop()
    val landed = spark.read.parquet(s"$work/sink")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val arrivals = graft.sources.Tables.documents(spark, sf)
      .filter(col("doc_id") % 2 =!= 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val dups = graft.operators.Dedup.incrementalDedup(spark, sf)
      .select("batch_id").collect().map(_.getLong(0)).toSet
    assert(landed == (arrivals -- dups),
      s"landed=${landed.size} arrivals=${arrivals.size} dups=${dups.size}")
  }

  test("streaming ingest dedup sink is idempotent across checkpoint replay") {
    val work = java.nio.file.Files.createTempDirectory("graft_replay").toString
    val (sink, ckpt) = (s"$work/sink", s"$work/ckpt")
    def runOnce(): Unit = {
      val q = graft.operators.Dedup.streamingIncrementalDedup(spark, sf, sink, ckpt)
      try q.processAllAvailable() finally q.stop()
    }
    runOnce()
    val first = spark.read.parquet(sink)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(first.nonEmpty)
    // simulate a crash AFTER the sink write but BEFORE the offset commit:
    // drop the newest commit marker, so the restart REPLAYS that micro-batch
    // (this is exactly the recovery path where the old append sink wrote
    // every replayed row a second time)
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.nonEmpty, "checkpoint should hold at least one committed batch")
    // also remove the Hadoop checksum shadow — a stale .N.crc makes the
    // replayed commit's rename fail as a phantom "concurrent query"
    val crc = new java.io.File(commits.last.getParent, s".${commits.last.getName}.crc")
    if (crc.exists()) crc.delete()
    assert(commits.last.delete())
    runOnce() // replay lands in the same ingest_batch dir: overwrite, not append
    val second = spark.read.parquet(sink)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(second.sameElements(first),
      s"replay changed the sink: ${second.length} rows vs ${first.length}")
    assert(second.distinct.length == second.length,
      "no duplicate doc_ids after replay")
  }

  test("ingest sink compaction: row-identical reads, bounded file count, crash-leftover safe") {
    import org.apache.spark.sql.functions._
    val work = java.nio.file.Files.createTempDirectory("graft_compact").toString
    val (src, sink, ckpt) = (s"$work/src", s"$work/sink", s"$work/ckpt")
    // land the arrivals as 5 separate files so maxFilesPerTrigger=1 yields
    // 5 micro-batches → 5 ingest_batch directories (the small-file bomb in miniature)
    val docs = graft.sources.Tables.documents(spark, sf)
    (0 until 5).foreach { i =>
      docs.filter(col("doc_id") % 10 === 2 * i + 1)
        .coalesce(1).write.mode("append").parquet(src)
    }
    val q = graft.operators.Dedup.streamingIncrementalDedup(spark, sf, sink, ckpt,
      sourcePath = Some(src), maxFilesPerTrigger = Some(1))
    try q.processAllAvailable() finally q.stop()

    def parquetFiles(f: java.io.File): Int =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).map(parquetFiles).sum
      else if (f.getName.endsWith(".parquet")) 1 else 0
    def liveDirs() = new java.io.File(sink).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("ingest_batch="))
    assert(liveDirs().length == 5, s"expected 5 micro-batch dirs, got ${liveDirs().length}")

    def readAll() = graft.operators.Dedup.readIngestSink(spark, sink)
      .select("doc_id", "ingest_batch").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    val before = readAll()
    assert(before.nonEmpty)
    val filesBefore = parquetFiles(new java.io.File(sink))

    val seg = graft.operators.Dedup.compactIngestSink(spark, sink, ckpt)
    assert(seg.isDefined, "5 committed batches should be compactable")
    val (lo, hi, nFiles) = seg.get
    assert(lo == 0 && hi == 4)
    assert(readAll().sameElements(before), "compaction changed the read")
    val filesAfter = parquetFiles(new java.io.File(sink))
    assert(filesAfter == nFiles && filesAfter < filesBefore,
      s"filesBefore=$filesBefore filesAfter=$filesAfter segmentFiles=$nFiles")
    assert(liveDirs().isEmpty, "compacted live dirs must be deleted")
    // nothing newly committed → second pass is a no-op
    assert(graft.operators.Dedup.compactIngestSink(spark, sink, ckpt).isEmpty)

    // crash leftover: a live dir covered by the segment (as if the process
    // died between segment rename and dir delete, or a compacted batch were
    // somehow replayed) is invisible to the reader and swept by the next pass
    val leftover = s"$sink/ingest_batch=$lo"
    docs.filter(col("doc_id") % 10 === 1).drop("doc_id")
      .withColumn("doc_id", lit(-1L)) // poison rows: visible iff the guard fails
      .coalesce(1).write.parquet(leftover)
    assert(readAll().sameElements(before), "covered leftover dir leaked into the read")
    assert(graft.operators.Dedup.compactIngestSink(spark, sink, ckpt).isEmpty)
    assert(liveDirs().isEmpty, "sweep should remove the covered leftover")
    assert(readAll().sameElements(before))
  }

  test("ingest segment major merge: two compaction epochs fold into one spanning segment") {
    import org.apache.spark.sql.functions._
    val work = java.nio.file.Files.createTempDirectory("graft_merge").toString
    val (src, sink, ckpt) = (s"$work/src", s"$work/sink", s"$work/ckpt")
    val docs = graft.sources.Tables.documents(spark, sf)
    def land(mods: Seq[Int]): Unit = mods.foreach { m =>
      docs.filter(col("doc_id") % 10 === m).coalesce(1).write.mode("append").parquet(src)
    }
    def runStream(): Unit = {
      val q = graft.operators.Dedup.streamingIncrementalDedup(spark, sf, sink, ckpt,
        sourcePath = Some(src), maxFilesPerTrigger = Some(1))
      try q.processAllAvailable() finally q.stop()
    }
    def readAll() = graft.operators.Dedup.readIngestSink(spark, sink)
      .select("doc_id", "ingest_batch").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    land(Seq(1, 3, 5)); runStream()                     // batches 0-2
    assert(graft.operators.Dedup.compactIngestSink(spark, sink, ckpt).isDefined)
    land(Seq(7, 9)); runStream()                        // batches 3-4
    assert(graft.operators.Dedup.compactIngestSink(spark, sink, ckpt).isDefined)
    val segBase = new java.io.File(sink, "_compacted")
    def segs() = segBase.listFiles().filter(_.getName.startsWith("batches_"))
    assert(segs().length == 2, s"expected 2 segments, got ${segs().map(_.getName).toSeq}")
    val before = readAll()
    assert(before.map(_._2).distinct.sorted.sameElements(Array(0L, 1L, 2L, 3L, 4L)))

    val merged = graft.operators.Dedup.mergeIngestSegments(spark, sink)
    assert(merged.exists(m => m._1 == 0L && m._2 == 4L), s"merged=$merged")
    assert(segs().map(_.getName).toSeq == Seq("batches_0_4"))
    assert(readAll().sameElements(before), "major merge changed the read")
    // single spanning segment left → nothing further to merge
    assert(graft.operators.Dedup.mergeIngestSegments(spark, sink).isEmpty)
  }

  test("ingest sink retraction: read-time delete, replay-proof, physically purged") {
    import org.apache.spark.sql.functions._
    import graft.operators.Dedup
    val work = java.nio.file.Files.createTempDirectory("graft_retract").toString
    val (src, sink, ckpt) = (s"$work/src", s"$work/sink", s"$work/ckpt")
    val docs = graft.sources.Tables.documents(spark, sf)
    (0 until 5).foreach { i =>
      docs.filter(col("doc_id") % 10 === 2 * i + 1)
        .coalesce(1).write.mode("append").parquet(src)
    }
    val q = Dedup.streamingIncrementalDedup(spark, sf, sink, ckpt,
      sourcePath = Some(src), maxFilesPerTrigger = Some(1))
    try q.processAllAvailable() finally q.stop()
    def readAll() = Dedup.readIngestSink(spark, sink)
      .select("doc_id", "ingest_batch").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    val before = readAll()
    // victims from two different micro-batches
    val victims = Seq(before.head, before.find(_._2 != before.head._2).get)
    val victimIds = victims.map(_._1)
    val expected = before.filterNot(r => victimIds.contains(r._1))

    Dedup.retractFromIngestSink(spark, sink, victimIds)
    assert(readAll().sameElements(expected), "retraction must apply at read time")
    // no segments yet → nothing to purge, and the read stays filtered
    assert(Dedup.purgeIngestSink(spark, sink).isEmpty)
    assert(readAll().sameElements(expected))

    // replay resurrection guard: a restarted uncommitted batch overwrites
    // its live dir with the ORIGINAL rows — the deleted ids must stay gone
    val replayBatch = victims.last._2
    val replayDir = s"$sink/ingest_batch=$replayBatch"
    val original = spark.read.option("basePath", sink).parquet(replayDir)
      .drop("ingest_batch")
    original.write.mode("overwrite").parquet(s"$work/replay_stash")
    spark.read.parquet(s"$work/replay_stash")
      .write.mode("overwrite").parquet(replayDir)
    assert(readAll().sameElements(expected), "replayed live batch resurrected a deleted row")

    // compaction folds the live area minus tombstones: the segment files
    // themselves (read raw, no tombstone filter) must not hold the victims
    val seg = Dedup.compactIngestSink(spark, sink, ckpt)
    assert(seg.isDefined)
    val segDir = s"$sink/_compacted/batches_${seg.get._1}_${seg.get._2}"
    val rawSeg = spark.read.parquet(segDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(victimIds.forall(!rawSeg.contains(_)), "compacted segment still holds retracted rows")
    assert(readAll().sameElements(expected))

    // retract another id after compaction → purge rewrites the segment
    val victim3 = expected.head._1
    Dedup.retractFromIngestSink(spark, sink, Seq(victim3))
    val expected2 = expected.filterNot(_._1 == victim3)
    assert(readAll().sameElements(expected2), "second retraction must apply at read time")
    val purged = Dedup.purgeIngestSink(spark, sink)
    assert(purged == Seq((seg.get._1, seg.get._2)), s"purged=$purged")
    val rawSeg2 = spark.read.parquet(segDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!rawSeg2.contains(victim3), "purged segment still holds the retracted row")
    assert(readAll().sameElements(expected2))
    // nothing left to purge
    assert(Dedup.purgeIngestSink(spark, sink).isEmpty)
  }

  test("mid-rewrite read: the .old_ fallback sees every row inside the move-aside window") {
    import org.apache.spark.sql.functions._
    import graft.operators.Dedup
    val work = java.nio.file.Files.createTempDirectory("graft_oldread").toString
    val (src, sink, ckpt) = (s"$work/src", s"$work/sink", s"$work/ckpt")
    val docs = graft.sources.Tables.documents(spark, sf)
    (0 until 3).foreach { i =>
      docs.filter(col("doc_id") % 10 === 2 * i + 1)
        .coalesce(1).write.mode("append").parquet(src)
    }
    val q = Dedup.streamingIncrementalDedup(spark, sf, sink, ckpt,
      sourcePath = Some(src), maxFilesPerTrigger = Some(1))
    try q.processAllAvailable() finally q.stop()
    val seg = Dedup.compactIngestSink(spark, sink, ckpt)
    assert(seg.isDefined)
    def readAll() = Dedup.readIngestSink(spark, sink)
      .select("doc_id", "ingest_batch").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    val before = readAll()
    assert(before.nonEmpty)

    // simulate the purge/merge window between move-aside and rename-in:
    // the canonical segment name does not exist, only the .old_ copy does
    val segBase = new java.io.File(s"$sink/_compacted")
    val canonical = new java.io.File(segBase, s"batches_${seg.get._1}_${seg.get._2}")
    val aside = new java.io.File(segBase, s".old_batches_${seg.get._1}_${seg.get._2}")
    require(canonical.renameTo(aside))
    assert(readAll().sameElements(before),
      "reader inside the move-aside window must fall back to the .old_ segment")

    // retractions stay in force through the fallback path (what makes the
    // pre-purge .old_ rows equivalent to the purged canonical)
    val victim = before.head._1
    Dedup.retractFromIngestSink(spark, sink, Seq(victim))
    assert(readAll().sameElements(before.filterNot(_._1 == victim)),
      "tombstone must filter the .old_ fallback read")

    // window closes: canonical back in place, stale .old_ copy lingers
    // (rewriter crash before its delete) — reader must NOT double-count
    require(aside.renameTo(canonical))
    spark.read.parquet(canonical.getPath).write.parquet(aside.getPath)
    assert(readAll().sameElements(before.filterNot(_._1 == victim)),
      "a .old_ copy whose canonical exists must be ignored")
  }

  test("streaming sink longevity: 200+ micro-batches, compaction cadence, mid-run retraction, kill/recover") {
    // The composed long-run a continuously-fed corpus actually exercises:
    // five landing waves of 40 single-file micro-batches each, a
    // compaction after every wave with a major merge holding the segment
    // count bounded, one crash/replay between waves, one GDPR retraction
    // mid-run, and a final merge+purge. Invariants at every wave: bounded
    // segments, retraction durability; at the end: >= 200 committed
    // micro-batches, exactly-once content, physical absence of retracted
    // rows from the spanning segment's raw files.
    import org.apache.spark.sql.functions._
    import graft.operators.Dedup
    val work = java.nio.file.Files.createTempDirectory("graft_longevity").toString
    val (src, sink, ckpt) = (s"$work/src", s"$work/sink", s"$work/ckpt")
    val docs = graft.sources.Tables.documents(spark, sf)
    val odd = docs.filter(col("doc_id") % 2 =!= 0)
    // range partitioning with AQE off for the landing write: hash
    // repartition leaves empty partitions (no file), and AQE coalesces
    // the tiny shuffle partitions into a handful of files — either way
    // the micro-batch count collapses below the 200 target
    val waves = 5; val filesPerWave = 45
    def land(w: Int): Unit = {
      val aqe = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try odd.filter(col("doc_id") % 10 === 2 * w + 1)
        .repartitionByRange(filesPerWave, col("doc_id"))
        .write.mode("append").parquet(src)
      finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    }
    def runStream(): Unit = {
      val q = Dedup.streamingIncrementalDedup(spark, sf, sink, ckpt,
        sourcePath = Some(src), maxFilesPerTrigger = Some(1))
      try q.processAllAvailable() finally q.stop()
    }
    def readAll() = Dedup.readIngestSink(spark, sink)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    def segs() = Option(new java.io.File(sink, "_compacted").listFiles())
      .getOrElse(Array.empty[java.io.File]).filter(_.getName.startsWith("batches_"))

    var victims = Seq.empty[Long]
    (0 until waves).foreach { w =>
      land(w); runStream()
      if (w == 1) {
        // crash AFTER sink write, BEFORE offset commit: drop the newest
        // commit marker (+ its checksum shadow) and restart — the batch
        // replays into its own ingest_batch dir byte-identically
        val pre = readAll()
        val commits = new java.io.File(s"$ckpt/commits").listFiles()
          .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
        val crc = new java.io.File(commits.last.getParent, s".${commits.last.getName}.crc")
        if (crc.exists()) crc.delete()
        assert(commits.last.delete())
        runStream()
        assert(readAll().sameElements(pre), "replay changed the sink")
      }
      if (w == 2) {
        victims = readAll().take(3).toSeq
        Dedup.retractFromIngestSink(spark, sink, victims)
      }
      assert(Dedup.compactIngestSink(spark, sink, ckpt).isDefined,
        s"wave $w produced no compactable batches")
      if (segs().length > 2)
        assert(Dedup.mergeIngestSegments(spark, sink).nonEmpty, s"wave $w merge")
      assert(segs().length <= 2,
        s"segment count unbounded at wave $w: ${segs().map(_.getName).toSeq}")
      val visible = readAll().toSet
      assert(victims.forall(!visible.contains(_)), s"retraction regressed at wave $w")
    }
    // the commit LOG retains only the trailing minBatchesToRetain (~100)
    // entries, so count batches by the highest committed id, not by
    // retained files (compaction always runs within the retention window
    // here — each wave compacts its own just-committed batches)
    val nCommits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit))
      .map(_.getName.toLong).max + 1
    assert(nCommits >= 200, s"only $nCommits committed micro-batches")

    Dedup.mergeIngestSegments(spark, sink)
    assert(segs().length == 1, s"major merge left ${segs().map(_.getName).toSeq}")
    Dedup.purgeIngestSink(spark, sink)
    val rawSpanning = spark.read.parquet(segs().head.getPath)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(victims.forall(!rawSpanning.contains(_)),
      "retracted rows survive on disk after the final purge")

    val arrivals = odd.select("doc_id").collect().map(_.getLong(0)).toSet
    val dups = Dedup.incrementalDedup(spark, sf)
      .select("batch_id").collect().map(_.getLong(0)).toSet
    val fin = readAll()
    assert(fin.distinct.length == fin.length,
      "duplicate doc_ids after 200+ micro-batches with replay")
    assert(fin.toSet == (arrivals -- dups -- victims),
      s"final content drifted: ${fin.length} rows vs expected " +
        s"${(arrivals -- dups -- victims).size}")
  }

  test("purge deletes merge-crash contained segments so retracted rows cannot survive on disk") {
    import org.apache.spark.sql.functions._
    import graft.operators.Dedup
    val work = java.nio.file.Files.createTempDirectory("graft_purge_leftover").toString
    val sink = s"$work/sink"
    def seg(name: String, ids: Seq[Long]): Unit =
      spark.createDataFrame(ids.map(id => (id, s"doc $id", 0L)))
        .toDF("doc_id", "text", "ingest_batch")
        .coalesce(1).write.parquet(s"$sink/_compacted/$name")
    // the merge-crash shape: the spanning segment landed, the contained
    // old segment was never deleted — BOTH physically hold doc 1
    seg("batches_0_1", Seq(1L, 2L, 3L))
    seg("batches_0_0", Seq(1L, 2L))
    Dedup.retractFromIngestSink(spark, sink, Seq(1L))
    val purged = Dedup.purgeIngestSink(spark, sink)
    assert(purged == Seq((0L, 1L)), s"purged=$purged")
    assert(!new java.io.File(s"$sink/_compacted/batches_0_0").exists(),
      "contained leftover segment must be deleted, not skipped")
    val rawSpanning = spark.read.parquet(s"$sink/_compacted/batches_0_1")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(rawSpanning == Set(2L, 3L), "retracted row survived the spanning rewrite")
    val read = Dedup.readIngestSink(spark, sink)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(read.sameElements(Array(2L, 3L)))
  }

  test("ingest compaction refuses a gapped commit log and leaves the sink untouched") {
    import org.apache.spark.sql.functions._
    val work = java.nio.file.Files.createTempDirectory("graft_gap").toString
    val (sink, ckpt) = (s"$work/sink", s"$work/ckpt")
    Seq(0, 1, 2).foreach { b =>
      spark.range(3).select(col("id").as("doc_id"))
        .coalesce(1).write.parquet(s"$sink/ingest_batch=$b")
    }
    val commits = new java.io.File(s"$ckpt/commits"); commits.mkdirs()
    Seq("0", "2").foreach(n => new java.io.File(commits, n).createNewFile()) // 1 missing
    val e = intercept[IllegalArgumentException] {
      graft.operators.Dedup.compactIngestSink(spark, sink, ckpt)
    }
    assert(e.getMessage.contains("gap"))
    val dirs = new java.io.File(sink).listFiles()
      .filter(_.getName.startsWith("ingest_batch=")).map(_.getName).sorted
    assert(dirs.sameElements(Array("ingest_batch=0", "ingest_batch=1", "ingest_batch=2")),
      "refusal must not delete or fold anything")
    assert(!new java.io.File(sink, "_compacted").exists())
  }

  test("streaming dedup-within-watermark covers every distinct key exactly once") {
    val q = Events.streamingDedup(spark, sf)
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql("SELECT user_id, event_type FROM dedup_out").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      val batchDistinct = graft.sources.Tables.events(spark, sf)
        .select("user_id", "event_type").distinct().count()
      assert(streamed.length == batchDistinct, "one row per distinct key")
      assert(streamed.toSet.size == streamed.length, "no duplicates emitted")
    } finally q.stop()
  }

  test("st8 sizes the watermark: a grace-second watermark drops exactly n_late rows") {
    // st8's claim is operational: "n_late at grace g = the rows a
    // g-second watermark would drop". The organic events fixture is
    // perfectly ordered (max_lateness 0 at every SF), so this plants a
    // disordered per-user stream and closes the loop: the SAME arrivals,
    // (a) audited by the batch disorderAudit, (b) replayed one arrival
    // per micro-batch through withWatermark(grace) + a stateful op — so
    // the engine watermark advances exactly like the audit's running
    // max — must drop exactly n_late rows. Per-user streams make the
    // GLOBAL engine watermark coincide with the per-user running max the
    // audit reasons about. Boundary: the engine's eviction predicate is
    // `ts <= watermark` — an arrival late by EXACTLY the grace is
    // dropped by the engine but NOT counted by the audit's strict
    // `late_us > g`, so equality is asserted away from the boundary and
    // the one-tick difference is pinned as its own case below (which is
    // why sizing a production watermark straight from max_lateness needs
    // a one-tick margin).
    val spark2 = spark
    import spark2.implicits._
    import org.apache.spark.sql.functions._
    val t0 = java.time.Instant.parse("2024-01-01T00:00:00Z")
    def ts(off: Long) = java.sql.Timestamp.from(t0.plusSeconds(off))
    // arrival-ordered event-time offsets (seconds); grace = 600 s:
    // late by 650 s, 700 s, 1200 s -> 3 drops; 550 s late -> kept
    val user1 = Seq(0L, 1000L, 450L, 350L, 2000L, 1500L, 1300L, 2100L, 900L, 2200L)
    val user2 = Seq(0L, 100L, 200L, 300L) // fully ordered control
    val user3 = Seq(0L, 1000L, 400L)      // one arrival EXACTLY grace late
    val dir = java.nio.file.Files.createTempDirectory("graft_st8_twin").toString
    (user1.zipWithIndex.map { case (off, i) => (i + 1L, ts(off), 1L) } ++
      user2.zipWithIndex.map { case (off, i) => (i + 100L, ts(off), 2L) } ++
      user3.zipWithIndex.map { case (off, i) => (i + 200L, ts(off), 3L) })
      .toDF("event_id", "ts", "user_id")
      .withColumn("event_type", lit("view"))
      .withColumn("value", lit(1.0)).withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val audit = Events.disorderAudit(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(audit(1L) == ((10L, 3L, 1200L * 1000000L)), s"audit=${audit(1L)}")
    assert(audit(2L) == ((4L, 0L, 0L)), s"audit=${audit(2L)}")
    assert(audit(3L) == ((3L, 0L, 600L * 1000000L)), s"audit=${audit(3L)}")

    // user3's exactly-at-grace arrival: audit keeps it (strict >), the
    // engine's <= eviction drops it — the one-tick boundary, pinned
    for ((uid, offs, expDrops) <- Seq((1L, user1, 3L), (2L, user2, 0L),
                                      (3L, user3, 1L))) {
      implicit val sqlCtx = spark.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, java.sql.Timestamp)]
      val q = mem.toDF().toDF("event_id", "ts")
        .withWatermark("ts", s"${Events.DisorderGraceSeconds} seconds")
        .dropDuplicates("event_id")
        .writeStream.outputMode("append").format("memory")
        .queryName(s"st8_twin_$uid").start()
      try {
        offs.zipWithIndex.foreach { case (off, i) =>
          mem.addData((i + 1L, ts(off)))
          q.processAllAvailable() // one micro-batch per arrival
        }
        val survived = spark.sql(s"SELECT count(*) FROM st8_twin_$uid")
          .collect()(0).getLong(0)
        assert(offs.size - survived == expDrops,
          s"user $uid: watermark dropped ${offs.size - survived}, expected $expDrops")
      } finally q.stop()
    }
  }

  test("st9: stateful funnel over a real readStream equals the batch form and q57's rollup") {
    import org.apache.spark.sql.functions._
    val batch = Events.funnelStagesStateful(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDate(1)) -> (r.getBoolean(2), r.getBoolean(3))).toMap
    val spark2 = spark
    import spark2.implicits._
    val stream = Events.eventsStream(spark, sf)
      .select(col("user_id"), to_date(col("ts")).as("day"),
        unix_micros(col("ts")).as("us"), col("event_id"), col("event_type"))
      .as[Events.FunnelEvent]
    val q = Events.funnelStagesOf(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("st9_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql("SELECT * FROM st9_out").collect()
        .map(r => (r.getLong(0), r.getDate(1)) -> (r.getBoolean(2), r.getBoolean(3))).toMap
      assert(streamed == batch,
        s"streamed=${streamed.size} batch=${batch.size} diff=${(streamed.toSet diff batch.toSet).take(3)}")
      // and the stage report rolls up to exactly q57's daily funnel
      val rollup = batch.groupBy(_._1._2).map { case (day, rows) =>
        day -> ((rows.size.toLong, rows.count(_._2._1).toLong, rows.count(_._2._2).toLong))
      }
      val q57 = graft.operators.Extended.funnel(spark, sf).collect()
        .map(r => r.getDate(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      assert(rollup == q57, s"stage rollup disagrees with q57: ${rollup.size} vs ${q57.size}")
    } finally q.stop()
  }

  test("file stream discovers newly-landed files incrementally") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val ev = graft.sources.Tables.events(spark, sf).select("event_id", "value")
    // land batch 1
    ev.filter(col("event_id") < 500).write.mode("append").parquet(dir)
    val stream = spark.readStream
      .schema(ev.schema)
      .parquet(dir)
      .groupBy().agg(count(lit(1)).as("n"))
    val q = stream.writeStream.outputMode("complete")
      .format("memory").queryName("incr_out").start()
    try {
      q.processAllAvailable()
      val n1 = spark.sql("SELECT n FROM incr_out").collect()(0).getLong(0)
      // land batch 2 after the stream started — must be discovered
      ev.filter(col("event_id") >= 500).write.mode("append").parquet(dir)
      q.processAllAvailable()
      val n2 = spark.sql("SELECT n FROM incr_out").collect()(0).getLong(0)
      assert(n1 > 0 && n2 == ev.count(), s"n1=$n1 n2=$n2 total=${ev.count()}")
    } finally q.stop()
  }

  test("checkpointed file sink is exactly-once across query restarts") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("graft_eo").toString
    val (in, out, ckpt) = (s"$base/in", s"$base/out", s"$base/ckpt")
    val ev = graft.sources.Tables.events(spark, sf).select("event_id", "event_type")
    ev.filter(col("event_id") < 400).write.mode("append").parquet(in)

    def runOnce(): Unit = {
      val q = spark.readStream.schema(ev.schema).parquet(in)
        .withColumn("etype_upper", upper(col("event_type")))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    runOnce()                                            // batch 1 committed
    ev.filter(col("event_id") >= 400).write.mode("append").parquet(in)
    runOnce()                                            // restart picks up batch 2 only
    runOnce()                                            // idle restart writes nothing

    val result = spark.read.parquet(out)
    assert(result.count() == ev.count(), "every input row exactly once")
    assert(result.select(countDistinct("event_id")).collect()(0).getLong(0) == ev.count(),
      "no duplicate event_ids across restarts")
  }

  test("stream-stream interval join matches the batch theta-join pair count") {
    import org.apache.spark.sql.functions._
    val q = Events.streamingPurchaseClickJoin(spark, sf)
      .writeStream.outputMode("append")
      .format("memory").queryName("ssj_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql("SELECT count(*) AS n FROM ssj_out")
        .collect()(0).getLong(0)
      val ev = graft.sources.Tables.events(spark, sf)
      val batchPairs = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
        .join(ev.filter(col("event_type") === "click")
          .select(col("user_id").as("cu"), col("ts").as("cts")),
          col("user_id") === col("cu") &&
            col("cts") >= col("ts") - expr("INTERVAL 30 MINUTES") &&
            col("cts") < col("ts"))
        .count()
      assert(streamed == batchPairs, s"streamed=$streamed batch=$batchPairs")
    } finally q.stop()
  }

  test("st9 timeout-armed form drops state at the day boundary and emits each upgrade once") {
    // The production configuration st9's scaladoc prescribes, proven
    // end-to-end: per-(user, day) state arms an event-time timeout at the
    // END of its day; once the watermark (grace 600 s) passes that
    // boundary the key's state row is REMOVED (state-operator numRowsTotal
    // drops), and the change-driven emission means an append sink sees
    // each stage upgrade exactly once — never one row per touching batch.
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = java.time.Instant.parse("2024-01-01T00:00:00Z")
    def ts(daySec: Long) = java.sql.Timestamp.from(t0.plusSeconds(daySec))
    def day(d: Int) = new java.sql.Date(t0.plusSeconds(d * 86400L).toEpochMilli)
    def ev(uid: Long, d: Int, off: Long, et: String) = {
      val sec = d * 86400L + off
      Events.FunnelEventTs(uid, day(d), sec * 1000000L, off, et, ts(sec))
    }
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Events.FunnelEventTs]
    val q = Events.funnelStagesExpiringOf(mem.toDS(), 600L * 1000000L)
      .writeStream.outputMode("append")
      .format("memory").queryName("st9_exp_out").start()
    try {
      // batch 1: user 1 opens day 0 with a view -> one row out
      mem.addData(ev(1L, 0, 100L, "view"))
      q.processAllAvailable()
      // batch 2: a click (upgrade -> one row) plus a redundant view (no
      // further upgrade -> nothing extra)
      mem.addData(ev(1L, 0, 200L, "click"), ev(1L, 0, 150L, "view"))
      q.processAllAvailable()
      val liveAfterDay0 = q.recentProgress.filter(_.stateOperators.nonEmpty)
        .last.stateOperators(0).numRowsTotal
      assert(liveAfterDay0 == 1L, s"day-0 key live: $liveAfterDay0")
      // batches 3-4: day-2 activity advances the watermark 2 days past
      // day 0's end -> (1, day0) times out and its state row is dropped.
      // The (2, day2) key is created in batch 3's data batch (both keys
      // coexist at that batch's end), then the watermark-advance no-data
      // batch fires the timeout — assert the 2 -> 1 transition over the
      // progress history rather than pinning which batch evicts.
      mem.addData(ev(2L, 2, 1000L, "view"))
      q.processAllAvailable()
      mem.addData(ev(2L, 2, 2000L, "click"))
      q.processAllAvailable()
      val totals = q.recentProgress.filter(_.stateOperators.nonEmpty)
        .map(_.stateOperators(0).numRowsTotal).toSeq
      assert(totals.max == 2L, s"both day keys coexisted before expiry: $totals")
      assert(totals.last == 1L, s"closed-day state dropped: $totals")
      val rows = spark.sql("SELECT * FROM st9_exp_out").collect()
        .map(r => (r.getLong(0), r.getDate(1), r.getBoolean(2), r.getBoolean(3)))
      assert(rows.length == 4 && rows.toSet == Set(
        (1L, day(0), false, false), (1L, day(0), true, false),
        (2L, day(2), false, false), (2L, day(2), true, false)),
        s"exactly one row per stage upgrade: ${rows.mkString(", ")}")
    } finally q.stop()
  }

  test("st10: the stream-stream interval join emits exactly the batch pair multiset") {
    val batch = Events.attributedPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getTimestamp(3), r.getTimestamp(4), r.getLong(5)))
    assert(batch.nonEmpty, "fixture should produce attribution pairs")
    // multiset-safe: pair keys are unique (click_id, purchase_id)
    assert(batch.map(p => (p._2, p._3)).distinct.length == batch.length)

    val q = Events.streamingAttributedPairs(spark, sf)
      .writeStream.outputMode("append")
      .format("memory").queryName("st10_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql("SELECT * FROM st10_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getTimestamp(3), r.getTimestamp(4), r.getLong(5)))
      assert(streamed.toSet == batch.toSet && streamed.length == batch.length,
        s"streamed=${streamed.length} batch=${batch.length} " +
          s"diff=${(streamed.toSet diff batch.toSet).take(3)}")
    } finally q.stop()
  }

  test("st10: multi-batch ordered file arrival emits the full pair multiset") {
    // the regression that found two real hazards at soak scale: (1) two
    // INDEPENDENT file sources over one directory drift onto different
    // files per trigger (nondeterministic mtime tie-breaks) and lose
    // whole files' pairs to the watermark — streamingAttributedPairs
    // therefore branches ONE source; (2) parallel-written part files have
    // random mtimes, so a ts-sorted staged corpus still ARRIVES shuffled
    // unless mtimes are forced ascending. This
    // drives the one-source join through 8 genuinely ordered micro-batches
    // and asserts nothing is lost.
    import org.apache.spark.sql.functions._
    val dir = sf
    val staged = java.nio.file.Files.createTempDirectory("graft_st10_mb").toString
    val ev = graft.sources.Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
      .filter(col("event_type").isin("click", "purchase"))
    ev.repartitionByRange(8, col("ts")).sortWithinPartitions(col("ts"))
      .write.mode("overwrite").parquet(s"$staged/events.parquet")
    val parts = new java.io.File(s"$staged/events.parquet").listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    val base = System.currentTimeMillis()
    parts.zipWithIndex.foreach { case (f, i) =>
      f.setLastModified(base + i * 1000L) }

    val batch = Events.attributedPairs(spark, dir).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(5))).toSet
    assert(batch.nonEmpty)

    val schema = spark.read.parquet(s"$staged/events.parquet").schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$staged/events.parquet")
    // the derived d26 dial (1 µs on this in-order corpus, ms-quantized),
    // not a pinned literal — the r12 rule the twins follow
    val d = Events.watermarkDelayString(Events.deriveWatermarkDelayUs(spark, dir))
    val joined = Events.attributionJoin(
      src.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
        .withWatermark("click_ts", d),
      src.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          col("user_id").as("p_user_id"), col("ts").as("purchase_ts"))
        .withWatermark("purchase_ts", d),
      Events.AttributionWindowMinutes)
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("st10_mb_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql("SELECT click_id, purchase_id, lag_us FROM st10_mb_out")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val nBatches = q.recentProgress.count(_.numInputRows > 0)
      assert(nBatches >= 8, s"expected one micro-batch per staged file, got $nBatches")
      assert(streamed == batch,
        s"multi-batch arrival lost pairs: streamed=${streamed.size} batch=${batch.size} " +
          s"missing=${(batch -- streamed).take(3)}")
    } finally q.stop()
  }

  test("st10: join state is evicted once both watermarks pass the attribution window") {
    // the stream-stream join's scale contract: a click/purchase row lives
    // in the symmetric-hash state only while the OTHER side's watermark
    // still admits a match inside the 60-min window — day-old rows are
    // dropped, so state is bounded by the watermark horizon + window, not
    // stream lifetime. Proven the st9 way: feed a matching pair, observe
    // its state rows live; advance both watermarks two days; assert the
    // state-row total falls back to just the fresh rows.
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = java.time.Instant.parse("2024-01-01T00:00:00Z")
    def ts(sec: Long) = java.sql.Timestamp.from(t0.plusSeconds(sec))
    val clicks = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Events.ClickRow]
    val purchases = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Events.PurchaseRow]
    val joined = Events.attributionJoin(
      clicks.toDF().withWatermark("click_ts", "10 minutes"),
      purchases.toDF().withWatermark("purchase_ts", "10 minutes"),
      Events.AttributionWindowMinutes)
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("st10_state_out").start()
    try {
      // batch 1: a matching pair on user 1 -> one output row, 2 state rows
      clicks.addData(Events.ClickRow(100L, 1L, ts(0L)))
      purchases.addData(Events.PurchaseRow(200L, 1L, ts(300L)))
      q.processAllAvailable()
      val live = q.recentProgress.filter(_.stateOperators.nonEmpty)
        .last.stateOperators(0).numRowsTotal
      assert(live == 2L, s"both sides of the day-0 pair held in state: $live")
      // batch 2: day-2 activity on user 2 advances BOTH watermarks two
      // days past the window -> user 1's rows can never match again and
      // are evicted; only the fresh pair's rows remain
      clicks.addData(Events.ClickRow(101L, 2L, ts(2 * 86400L)))
      purchases.addData(Events.PurchaseRow(201L, 2L, ts(2 * 86400L + 300L)))
      q.processAllAvailable()
      val totals = q.recentProgress.filter(_.stateOperators.nonEmpty)
        .map(_.stateOperators(0).numRowsTotal).toSeq
      assert(totals.max >= 3L, s"old and new state coexisted pre-eviction: $totals")
      assert(totals.last == 2L, s"expired pair evicted from join state: $totals")
      val rows = spark.sql("SELECT click_id, purchase_id, lag_us FROM st10_state_out")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(rows == Set((100L, 200L, 300000000L), (101L, 201L, 300000000L)),
        s"exactly the two in-window pairs, exact microsecond lags: $rows")
    } finally q.stop()
  }

  test("st11: outer-join null rows are delayed until the watermark proves no match, then emit once") {
    // the semantics that distinguish the OUTER stream-stream join: a
    // matched pair emits as soon as both sides arrive, but an organic
    // purchase's null row may only emit once the click watermark passes
    // the purchase's match horizon — emitting earlier would be wrong the
    // moment a matching click arrived late-but-in-watermark
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = java.time.Instant.parse("2024-01-01T00:00:00Z")
    def ts(sec: Long) = java.sql.Timestamp.from(t0.plusSeconds(sec))
    val clicks = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Events.ClickRow]
    val purchases = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Events.PurchaseRow]
    val joined = Events.attributionOuterJoin(
      purchases.toDF().withWatermark("purchase_ts", "10 minutes"),
      clicks.toDF().withWatermark("click_ts", "10 minutes"),
      Events.AttributionWindowMinutes)
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("st11_out").start()
    try {
      // batch 1: user 1 matched pair; user 2 purchase with NO click
      clicks.addData(Events.ClickRow(100L, 1L, ts(0L)))
      purchases.addData(Events.PurchaseRow(200L, 1L, ts(300L)),
        Events.PurchaseRow(201L, 2L, ts(400L)))
      q.processAllAvailable()
      val early = spark.sql("SELECT purchase_id, click_id FROM st11_out")
        .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      assert(early.toSet == Set((200L, 100L)),
        s"only the matched pair may emit before the watermark verdict: ${early.mkString(",")}")
      // batch 2: day-2 activity on BOTH sides (the global watermark is the
      // MIN across the two event-time columns — a click alone would leave
      // the purchase watermark at epoch) advances it far past user 2's
      // match horizon -> its null row emits, exactly once. User 4's day-2
      // purchase has no verdict yet: its own horizon is still open.
      clicks.addData(Events.ClickRow(101L, 3L, ts(2 * 86400L)))
      purchases.addData(Events.PurchaseRow(202L, 4L, ts(2 * 86400L + 100L)))
      q.processAllAvailable()
      val rows = spark.sql("SELECT purchase_id, click_id, lag_us FROM st11_out")
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) -1L else r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2)))
      assert(rows.length == 2 && rows.toSet ==
        Set((200L, 100L, 300000000L), (201L, -1L, -1L)),
        s"matched pair once + organic null once: ${rows.mkString(",")}")
    } finally q.stop()
  }

  test("st11: multi-batch file arrival emits all matches and exactly the provable null verdicts") {
    import org.apache.spark.sql.functions._
    val dir = sf
    val staged = java.nio.file.Files.createTempDirectory("graft_st11_mb").toString
    val ev = graft.sources.Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
      .filter(col("event_type").isin("click", "purchase"))
    ev.repartitionByRange(8, col("ts")).sortWithinPartitions(col("ts"))
      .write.mode("overwrite").parquet(s"$staged/events.parquet")
    val parts = new java.io.File(s"$staged/events.parquet").listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    val base = System.currentTimeMillis()
    parts.zipWithIndex.foreach { case (f, i) =>
      f.setLastModified(base + i * 1000L) }

    def key(r: org.apache.spark.sql.Row) = (r.getLong(0),
      if (r.isNullAt(1)) -1L else r.getLong(1))
    val batchRows = Events.attributionOuter(spark, dir)
      .select(col("purchase_id"), col("click_id"), col("purchase_ts")).collect()
    val batchMatched = batchRows.filter(!_.isNullAt(1)).map(key).toSet
    val batchNullTs = batchRows.filter(_.isNullAt(1))
      .map(r => r.getLong(0) -> r.getTimestamp(2)).toMap
    // the final watermark each column can reach is ITS OWN max minus the
    // delay, and the global watermark is the min of the two — a purchase
    // within ~delay of the last purchase can never receive its verdict
    // on a finite stream without a drain (the watermark dies with the
    // data; the drain test below is the completion path)
    val delayUs = Events.deriveWatermarkDelayUs(spark, dir)
    val d = Events.watermarkDelayString(delayUs)
    val wmFloorUs = graft.sources.Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy(col("event_type")).agg(max(unix_micros(col("ts"))).as("m"))
      .agg(min(col("m"))).collect()(0).getLong(0) -
      Events.watermarkDelayMs(delayUs) * 1000L

    val schema = spark.read.parquet(s"$staged/events.parquet").schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$staged/events.parquet")
    val joined = Events.attributionOuterJoin(
      src.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          col("user_id").as("p_user_id"), col("ts").as("purchase_ts"))
        .withWatermark("purchase_ts", d),
      src.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
        .withWatermark("click_ts", d),
      Events.AttributionWindowMinutes)
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("st11_mb_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql("SELECT purchase_id, click_id FROM st11_mb_out")
        .collect().map(key)
      val sMatched = streamed.filter(_._2 >= 0).toSet
      val sNull = streamed.filter(_._2 < 0).map(_._1).toSet
      assert(sMatched == batchMatched,
        s"every match must emit: streamed=${sMatched.size} batch=${batchMatched.size}")
      assert(sNull.subsetOf(batchNullTs.keySet),
        s"no spurious organic verdicts: ${(sNull -- batchNullTs.keySet).take(3)}")
      // every organic purchase whose horizon the final watermark provably
      // passed must have its verdict (margin: the window + 1 min below
      // the final reachable watermark)
      val cutoffUs = wmFloorUs - (Events.AttributionWindowMinutes + 1) * 60000000L
      val owed = batchNullTs.filter { case (_, t) => t.getTime * 1000L < cutoffUs }.keySet
      assert(owed.subsetOf(sNull),
        s"provable organic verdicts missing: ${(owed -- sNull).take(3)} " +
          s"(owed=${owed.size} emitted=${sNull.size} of ${batchNullTs.size} total)")
      assert(streamed.length == streamed.distinct.length, "verdicts emit exactly once")
    } finally q.stop()
  }

  test("st11 drain: a sentinel final arrival closes the horizon — streamed verdicts equal batch exactly") {
    // the r12 completion path for finite backfills: the multi-batch test
    // above pins the caveat (trailing purchases lack verdicts when the
    // watermark dies with the data); this stages the SAME ordered replay
    // plus Events.drainSentinelEvents as the last arrival and asserts the
    // caveat is GONE — every purchase gets its verdict, exactly once, and
    // the sentinels never reach the sink
    import org.apache.spark.sql.functions._
    val dir = sf
    val staged = java.nio.file.Files.createTempDirectory("graft_st11_drain").toString
    val ev = graft.sources.Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
      .filter(col("event_type").isin("click", "purchase"))
    ev.repartitionByRange(8, col("ts")).sortWithinPartitions(col("ts"))
      .write.mode("overwrite").parquet(s"$staged/events.parquet")
    val parts = new java.io.File(s"$staged/events.parquet").listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    val base = System.currentTimeMillis()
    parts.zipWithIndex.foreach { case (f, i) =>
      f.setLastModified(base + i * 1000L) }
    // derive BEFORE staging the drain — the sentinels are not corpus
    val delayUs = Events.deriveWatermarkDelayUs(spark, dir)
    val before = parts.map(_.getName).toSet
    val schema0 = spark.read.parquet(s"$staged/events.parquet").schema
    val maxTsUs = ev.agg(max(unix_micros(col("ts")))).collect()(0).getLong(0)
    Events.drainSentinelEvents(spark, schema0, maxTsUs,
        Events.AttributionWindowMinutes, delayUs)
      .coalesce(1).write.mode("append").parquet(s"$staged/events.parquet")
    new java.io.File(s"$staged/events.parquet").listFiles()
      .filter(f => f.getName.startsWith("part-") && !before(f.getName))
      .foreach(_.setLastModified(base + parts.length * 1000L + 60000L))

    def key(r: org.apache.spark.sql.Row) = (r.getLong(0),
      if (r.isNullAt(1)) -1L else r.getLong(1))
    val batch = Events.attributionOuter(spark, dir)
      .select(col("purchase_id"), col("click_id")).collect().map(key)

    // the REGISTERED twin over the staged replay (NO sentinel filters —
    // a user_id filter would be pushed below the watermark node into the
    // scan and neuter the drain; sentinels are invisible by
    // construction, see drainSentinelEvents), multi-batch via the same
    // one-source construction the soak replays drove
    val schema = spark.read.parquet(s"$staged/events.parquet").schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$staged/events.parquet")
    val d = Events.watermarkDelayString(delayUs)
    val joined = Events.attributionOuterJoin(
      src.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          col("user_id").as("p_user_id"), col("ts").as("purchase_ts"))
        .withWatermark("purchase_ts", d),
      src.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
        .withWatermark("click_ts", d),
      Events.AttributionWindowMinutes)
    val q = joined.writeStream.outputMode("append")
      .option("checkpointLocation", s"$staged/ckpt")
      .format("memory").queryName("st11_drain_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql(
        "SELECT purchase_id, click_id, user_id FROM st11_drain_out").collect()
      assert(!streamed.exists(_.getLong(2) == Events.DrainUserId),
        "sentinel rows must never reach the sink")
      val streamedKeys = streamed.map(key)
      assert(streamedKeys.length == streamedKeys.distinct.length,
        "verdicts emit exactly once")
      assert(streamedKeys.toSet == batch.toSet &&
        streamedKeys.length == batch.length,
        s"drained replay must equal the batch query exactly: " +
          s"streamed=${streamedKeys.length} batch=${batch.length} " +
          s"missing=${(batch.toSet -- streamedKeys.toSet).take(3)}")
    } finally q.stop()
  }

  test("blue/green corpus refresh lands under a live ingest stream at a batch boundary") {
    import org.apache.spark.sql.functions._
    import graft.operators.Dedup
    val alias = "streaming_rotate_test"
    val work = java.nio.file.Files.createTempDirectory("graft_rotate_stream").toString
    val (src, sink, ckpt) = (s"$work/src", s"$work/sink", s"$work/ckpt")
    val docs = graft.sources.Tables.documents(spark, sf)
    def land(mods: Seq[Int]): Unit = mods.foreach { m =>
      docs.filter(col("doc_id") % 10 === m)
        .coalesce(1).write.mode("append").parquet(src)
    }
    // expectation machinery: dup ids of ALL odd arrivals vs each corpus,
    // probed through throwaway pinned indexes (per-arrival independence
    // makes restricting to a wave's subset afterwards exact)
    def dupsVs(prefix: String, filter: org.apache.spark.sql.Column): Set[Long] = {
      Dedup.persistCorpusBandIndex(spark, sf, prefix, buckets = 4, corpusFilter = filter)
      val d = Dedup.incrementalDedupFromIndex(spark, sf, prefix)
        .select("batch_id").collect().map(_.getLong(0)).toSet
      Dedup.retireCorpusBandIndex(spark, prefix)
      d
    }
    val dupsV1 = dupsVs("rotate_exp_v1", col("doc_id") % 2 === 0)
    val dupsV2 = dupsVs("rotate_exp_v2", col("doc_id") % 4 === 0)

    Dedup.unlinkCorpusBandPointer(spark, alias)
    try {
      // first corpus version live: the standard even-id corpus (the
      // refresh picks the color itself — blue on first flip)
      val v1 = Dedup.refreshCorpusBandIndex(spark, sf, alias, buckets = 4)
      assert(Dedup.currentCorpusBandPrefix(spark, alias).contains(v1))
      land(Seq(1, 3))
      val q = Dedup.streamingIncrementalDedup(spark, sf, sink, ckpt,
        sourcePath = Some(src), indexAlias = Some(alias))
      try {
        q.processAllAvailable() // batch 0 probes corpus version 1
        // rotate to the quarter-id corpus at the batch boundary; the
        // refresh RETIRES version 1's tables — a stale plan would now
        // fail, so the next batch passing proves per-batch resolution
        val v2 = Dedup.refreshCorpusBandIndex(spark, sf, alias,
          buckets = 4, corpusFilter = col("doc_id") % 4 === 0)
        assert(v2 != v1)
        assert(!spark.catalog.tableExists(s"${v1}_bands"),
          "refresh must retire the old color")
        land(Seq(5, 7, 9))
        q.processAllAvailable() // batch 1 probes corpus version 2
      } finally q.stop()

      val wave1 = docs.filter(col("doc_id") % 10 === 1 || col("doc_id") % 10 === 3)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val wave2 = docs.filter(col("doc_id") % 10 === 5 || col("doc_id") % 10 === 7 ||
          col("doc_id") % 10 === 9)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val landed = spark.read.parquet(sink)
        .select(col("doc_id"), input_file_name().as("f")).collect()
        .map(r => (r.getLong(0), r.getString(1).contains("ingest_batch=0")))
      val landed0 = landed.filter(_._2).map(_._1).toSet
      val landed1 = landed.filterNot(_._2).map(_._1).toSet
      assert(landed0 == (wave1 -- dupsV1),
        s"batch 0 (corpus v1): landed=${landed0.size} expected=${(wave1 -- dupsV1).size}")
      assert(landed1 == (wave2 -- dupsV2),
        s"batch 1 (corpus v2): landed=${landed1.size} expected=${(wave2 -- dupsV2).size}")
      // the rotation must be OBSERVABLE: version 2's smaller corpus
      // clears arrivals version 1 would have flagged
      assert((wave2 -- dupsV2) != (wave2 -- dupsV1),
        "corpus variants must disagree on wave 2, or the test proves nothing")
      // batch live probe resolves the same pointer
      val live = Dedup.incrementalDedupLive(spark, sf, alias)
        .select("batch_id").collect().map(_.getLong(0)).toSet
      assert(live == dupsV2, s"live=${live.size} v2=${dupsV2.size}")
    } finally {
      Seq(s"${alias}_blue", s"${alias}_green").foreach(
        Dedup.retireCorpusBandIndex(spark, _))
      Dedup.unlinkCorpusBandPointer(spark, alias)
    }
  }

  test("ANN serving: an IVF cutover lands under a live query stream at " +
    "a batch boundary") {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    val alias = "streaming_ann_test"
    val work = java.nio.file.Files.createTempDirectory("graft_ann_stream").toString
    val (src, sink, ckpt) = (s"$work/src", s"$work/sink", s"$work/ckpt")
    val emb = graft.sources.Tables.embeddings(spark, sf)
    def land(mods: Seq[Int]): Unit = mods.foreach { m =>
      emb.filter(col("vec_id") % 10 === m)
        .coalesce(1).write.mode("append").parquet(src)
    }
    // expectation machinery: per-query independence makes the pinned
    // probe of exactly a wave's queries the exact per-batch expectation
    def probeVs(prefix: String, corpus: org.apache.spark.sql.Column,
                queries: Seq[Int]): Set[(Long, Long, Long, Double)] = {
      Similarity.persistIvfIndex(spark, sf, prefix, corpusFilter = corpus)
      val out = Similarity.ivfProbeOf(spark, prefix,
        emb.filter(queries.map(col("vec_id") % 10 === _).reduce(_ || _))
          .select(col("vec_id"), col("embedding")), 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
      Similarity.dropIvfTables(spark, prefix)
      out
    }
    val exp0 = probeVs("ann_exp_v1", col("vec_id") % 2 === 0, Seq(1, 3))
    val exp1 = probeVs("ann_exp_v2", col("vec_id") % 4 === 0, Seq(5, 7, 9))
    val exp1underV1 = probeVs("ann_exp_v1b", col("vec_id") % 2 === 0,
      Seq(5, 7, 9))

    Similarity.unlinkIvfPointer(spark, alias)
    val v1 = s"${alias}_blue"
    val v2 = s"${alias}_green"
    try {
      Similarity.persistIvfIndex(spark, sf, v1,
        corpusFilter = col("vec_id") % 2 === 0)
      Similarity.flipIvfIndex(spark, v1, alias)
      land(Seq(1, 3))
      val q = Similarity.streamingAnnTopK(spark, sf, sink, ckpt, alias,
        sourcePath = Some(src))
      try {
        q.processAllAvailable() // batch 0 probes index version 1
        // cut over to the quarter-id corpus at the batch boundary and
        // RETIRE version 1 — a stale per-stream plan would now fail, so
        // the next batch passing proves per-batch pointer resolution
        Similarity.persistIvfIndex(spark, sf, v2,
          corpusFilter = col("vec_id") % 4 === 0)
        Similarity.flipIvfIndex(spark, v2, alias)
        Similarity.dropIvfTables(spark, v1)
        land(Seq(5, 7, 9))
        q.processAllAvailable() // batch 1 probes index version 2
      } finally q.stop()

      val served = spark.read.parquet(sink)
        .select(col("query_id"), col("neighbor_id"), col("rnk"),
          col("cos_sim"), input_file_name().as("f")).collect()
        .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3)), r.getString(4).contains("serve_batch=0")))
      val served0 = served.filter(_._2).map(_._1).toSet
      val served1 = served.filterNot(_._2).map(_._1).toSet
      assert(served0 == exp0,
        s"batch 0 (index v1): served=${served0.size} expected=${exp0.size}")
      assert(served1 == exp1,
        s"batch 1 (index v2): served=${served1.size} expected=${exp1.size}")
      // the rotation must be OBSERVABLE: the two index versions disagree
      // on wave 2, or the per-batch resolution proves nothing
      assert(exp1 != exp1underV1,
        "index versions must disagree on wave 2")
    } finally {
      Seq(v1, v2).foreach(Similarity.dropIvfTables(spark, _))
      Similarity.unlinkIvfPointer(spark, alias)
    }
  }

  test("composed ANN serving: an IVF-PQ cutover lands under a live " +
    "query stream at a batch boundary, self-contained on stored floats") {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    val alias = "streaming_ivfpq_test"
    val work =
      java.nio.file.Files.createTempDirectory("graft_xpq_stream").toString
    val (src, sink, ckpt) = (s"$work/src", s"$work/sink", s"$work/ckpt")
    val emb = graft.sources.Tables.embeddings(spark, sf)
    def land(mods: Seq[Int]): Unit = mods.foreach { m =>
      emb.filter(col("vec_id") % 10 === m)
        .coalesce(1).write.mode("append").parquet(src)
    }
    // per-query independence: the pinned-index probe of exactly a wave's
    // queries is the exact per-batch expectation; the probe reranks on
    // the pinned index's OWN stored floats — the same self-contained
    // source the serving path uses
    def probeVs(prefix: String, corpus: org.apache.spark.sql.Column,
                queries: Seq[Int]): Set[(Long, Long, Long, Double)] = {
      Similarity.persistIvfPqIndex(spark, sf, prefix, corpusFilter = corpus)
      val out = Similarity.ivfPqProbeOf(spark, prefix,
        emb.filter(queries.map(col("vec_id") % 10 === _).reduce(_ || _))
          .select(col("vec_id"), col("embedding")),
        spark.table(s"${prefix}_xcell")
          .select(col("vec_id").as("neighbor_id"), col("embedding")), 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
      Similarity.dropIvfPqTables(spark, prefix)
      out
    }
    val exp0 = probeVs("xpq_exp_v1", col("vec_id") % 2 === 0, Seq(1, 3))
    val exp1 = probeVs("xpq_exp_v2", col("vec_id") % 4 === 0, Seq(5, 7, 9))
    val exp1underV1 = probeVs("xpq_exp_v1b", col("vec_id") % 2 === 0,
      Seq(5, 7, 9))

    Similarity.unlinkIvfPqPointer(spark, alias)
    val v1 = s"${alias}_blue"
    val v2 = s"${alias}_green"
    try {
      Similarity.persistIvfPqIndex(spark, sf, v1,
        corpusFilter = col("vec_id") % 2 === 0)
      Similarity.flipIvfPqIndex(spark, v1, alias)
      land(Seq(1, 3))
      val q = Similarity.streamingIvfPqTopK(spark, sf, sink, ckpt, alias,
        k = 5, sourcePath = Some(src))
      try {
        q.processAllAvailable() // batch 0 probes index version 1
        // cut over at the batch boundary and RETIRE version 1 — a stale
        // per-stream plan would now fail, so the next batch passing
        // proves per-batch pointer resolution; serving never touches a
        // corpus path, so retiring v1 removes batch 1's ONLY possible
        // stale dependency
        Similarity.persistIvfPqIndex(spark, sf, v2,
          corpusFilter = col("vec_id") % 4 === 0)
        Similarity.flipIvfPqIndex(spark, v2, alias)
        Similarity.dropIvfPqTables(spark, v1)
        land(Seq(5, 7, 9))
        q.processAllAvailable() // batch 1 probes index version 2
      } finally q.stop()

      val served = spark.read.parquet(sink)
        .select(col("query_id"), col("neighbor_id"), col("rnk"),
          col("cos_sim"), input_file_name().as("f")).collect()
        .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3)), r.getString(4).contains("serve_batch=0")))
      val served0 = served.filter(_._2).map(_._1).toSet
      val served1 = served.filterNot(_._2).map(_._1).toSet
      assert(served0 == exp0,
        s"batch 0 (index v1): served=${served0.size} expected=${exp0.size}")
      assert(served1 == exp1,
        s"batch 1 (index v2): served=${served1.size} expected=${exp1.size}")
      assert(exp1 != exp1underV1,
        "index versions must disagree on wave 2")
    } finally {
      Seq(v1, v2).foreach(Similarity.dropIvfPqTables(spark, _))
      Similarity.unlinkIvfPqPointer(spark, alias)
    }
  }

  test("media serving: a band-index cutover lands under a live document " +
    "stream at a batch boundary") {
    import org.apache.spark.sql.functions._
    import graft.multimodal.Multimodal
    val alias = "streaming_media_test"
    val work =
      java.nio.file.Files.createTempDirectory("graft_media_stream").toString
    val (fix, src, sink, ckpt) =
      (s"$work/fixture", s"$work/src", s"$work/sink", s"$work/ckpt")
    // synthetic corpus with planted radius-0 twins ACROSS the version
    // partitions: groups of 4 consecutive ids share a payload, so a
    // batch doc 4k+1 finds {4k, 4k+2} under the even-half index but only
    // {4k} under the quarter-id one — the two versions provably disagree
    val textExpr = "repeat(concat('stream payload ', " +
      "CAST(id DIV 4 AS STRING), ' '), CAST((id DIV 4) % 5 + 3 AS INT))"
    spark.range(200).selectExpr(
      "id AS doc_id", s"$textExpr AS text", "'en' AS lang",
      "'syn' AS source", s"CAST(length($textExpr) AS BIGINT) AS n_chars")
      .coalesce(2).write.mode("overwrite").parquet(s"$fix/documents.parquet")
    val docs = spark.read.parquet(s"$fix/documents.parquet")
    def land(mods: Seq[Int]): Unit = mods.foreach { m =>
      docs.filter(col("doc_id") % 10 === m)
        .coalesce(1).write.mode("append").parquet(src)
    }
    // per-pair independence: the pinned-index probe of exactly a wave's
    // documents is the exact per-batch expectation
    def probeVs(prefix: String, corpus: org.apache.spark.sql.Column,
                queries: Seq[Int]): Set[(Long, Long, Long)] = {
      Multimodal.persistMediaIndex(spark, fix, prefix, corpusFilter = corpus)
      val out = Multimodal.mediaProbeOf(spark, prefix,
        Multimodal.hashesOfDocs(spark,
          docs.filter(queries.map(col("doc_id") % 10 === _).reduce(_ || _))
            .select(col("doc_id"), col("text"))))
        .collect().map(r => (r.getAs[Long]("batch_id"),
          r.getAs[Long]("corpus_id"), r.getAs[Long]("hamming"))).toSet
      Multimodal.dropMediaIndexTables(spark, prefix)
      out
    }
    val exp0 = probeVs("media_exp_v1", col("doc_id") % 2 === 0, Seq(1, 3))
    val exp1 = probeVs("media_exp_v2", col("doc_id") % 4 === 0, Seq(5, 7, 9))
    val exp1underV1 = probeVs("media_exp_v1b", col("doc_id") % 2 === 0,
      Seq(5, 7, 9))

    Multimodal.unlinkMediaPointer(spark, alias)
    val v1 = s"${alias}_blue"
    val v2 = s"${alias}_green"
    try {
      Multimodal.persistMediaIndex(spark, fix, v1,
        corpusFilter = col("doc_id") % 2 === 0)
      Multimodal.flipMediaIndex(spark, v1, alias)
      land(Seq(1, 3))
      val q = Multimodal.streamingMediaProbe(spark, fix, sink, ckpt, alias,
        sourcePath = Some(src))
      try {
        q.processAllAvailable() // batch 0 probes index version 1
        // cut over at the batch boundary and RETIRE version 1 — the next
        // batch passing proves per-batch pointer resolution
        Multimodal.persistMediaIndex(spark, fix, v2,
          corpusFilter = col("doc_id") % 4 === 0)
        Multimodal.flipMediaIndex(spark, v2, alias)
        Multimodal.dropMediaIndexTables(spark, v1)
        land(Seq(5, 7, 9))
        q.processAllAvailable() // batch 1 probes index version 2
      } finally q.stop()

      val served = spark.read.parquet(sink)
        .select(col("batch_id"), col("corpus_id"), col("hamming"),
          input_file_name().as("f")).collect()
        .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)),
          r.getString(3).contains("serve_batch=0")))
      val served0 = served.filter(_._2).map(_._1).toSet
      val served1 = served.filterNot(_._2).map(_._1).toSet
      assert(served0.nonEmpty && served1.nonEmpty,
        "planted twins must make both batches non-vacuous")
      assert(served0 == exp0,
        s"batch 0 (index v1): served=${served0.size} expected=${exp0.size}")
      assert(served1 == exp1,
        s"batch 1 (index v2): served=${served1.size} expected=${exp1.size}")
      // the rotation must be OBSERVABLE, or per-batch resolution is
      // unproven
      assert(exp1 != exp1underV1, "index versions must disagree on wave 2")
    } finally {
      Seq(v1, v2).foreach(Multimodal.dropMediaIndexTables(spark, _))
      Multimodal.unlinkMediaPointer(spark, alias)
    }
  }

  test("stateful sessionization agrees with the declarative sessionizer") {
    val declarative = Events.sessionize(spark, sf).collect()
      .map(r => (r.getLong(0), r.getTimestamp(2), r.getTimestamp(3), r.getLong(4))).toSet
    val stateful = Events.sessionizeStateful(spark, sf).collect()
      .map(s => (s.user_id, s.session_start, s.session_end, s.n_events)).toSet
    assert(stateful == declarative,
      s"stateful=${stateful.size} declarative=${declarative.size}")
  }
}
