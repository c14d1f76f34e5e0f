package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Events

/** Round-13 additions: the O(F log F) file-arrival fold (r12 verdict
  * "what's wrong" #3), the drain's min-watermark-policy assertion (r12
  * ADVICE), the d30 rebuild policy, the d28 break-even, and the st9
  * state-rows d26 row.
  */
class Round13Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  /** The r12 quadratic fold, verbatim, kept as the property-test oracle
    * for [[Events.fileArrivalWorstUs]]'s O(F log F) rewrite.
    */
  private def quadraticOracle(files: Array[(Long, Long, Long)]): Long =
    files.iterator.map { g =>
      val prior = files.filter(f => !(f eq g) && f._1 <= g._1)
      if (prior.isEmpty) 0L else math.max(prior.map(_._3).max - g._2, 0L)
    }.max

  test("file-arrival fold: O(F log F) form equals the quadratic oracle " +
    "across shuffled mtimes with ties") {
    val rnd = new scala.util.Random(13L)
    for (trial <- 1 to 300) {
      val n = 2 + rnd.nextInt(40)
      // mtimes drawn from a SMALL pool so tie groups are common (and
      // often hold several files); fmin <= fmax per file
      val files = Array.fill(n) {
        val mtime = rnd.nextInt(8).toLong * 1000L
        val a = rnd.nextInt(10000).toLong
        val b = rnd.nextInt(10000).toLong
        (mtime, math.min(a, b), math.max(a, b))
      }
      assert(Events.fileArrivalWorstUs(files) == quadraticOracle(files),
        s"trial $trial diverged on ${files.toSeq}")
    }
  }

  test("file-arrival fold: duplicated tuples and duplicated fmax maxima " +
    "price each other inside a tie group") {
    // two IDENTICAL files sharing an mtime: each must see the other's
    // fmax (the oracle's `eq` excludes only the same object) — the
    // top-two trick must not let a duplicated maximum exclude itself
    val dup = Array((0L, 10L, 500L), (0L, 10L, 500L))
    assert(Events.fileArrivalWorstUs(dup) == 490L)
    assert(quadraticOracle(dup) == 490L)
    // unique argmax in a tie group excludes itself: the 500-max file
    // only sees the 300 tie-mate
    val tri = Array((0L, 10L, 500L), (0L, 20L, 300L), (1000L, 600L, 700L))
    assert(Events.fileArrivalWorstUs(tri) == quadraticOracle(tri))
    // Round12Spec's tie fixture shape: A [0,100] and B [3600,3700] at a
    // shared mtime — worst order (B first) prices A's fmin against B's
    // fmax
    val r12 = Array((0L, 0L, 100L), (0L, 3600L, 3700L))
    assert(Events.fileArrivalWorstUs(r12) == 3700L)
    // distinct mtimes, time-ordered: nothing trails
    val ordered = Array((0L, 0L, 100L), (2000L, 3600L, 3700L))
    assert(Events.fileArrivalWorstUs(ordered) == 0L)
  }

  test("d30 emits the rebuild policy: ratio arithmetic, threshold " +
    "boundary, fully-stale flip") {
    import org.apache.spark.sql.functions._
    import graft.operators.Dedup
    val row = Dedup.indexOrderDriftAudit(spark, sf).collect()(0)
    val frozen = row.getAs[Long]("frozen_candidate_rows")
    val fresh = row.getAs[Long]("fresh_candidate_rows")
    assert(fresh > 0L && frozen >= fresh,
      "the frozen order can only widen the candidate set on this fixture")
    val expect = BigDecimal(frozen.toDouble / fresh)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(row.getAs[Double]("drift_ratio") == expect,
      s"drift_ratio ${row.getAs[Double]("drift_ratio")} != $expect")
    // boundary contract: >= — a ratio exactly AT the threshold rebuilds
    assert(row.getAs[Long]("rebuild_recommended") ==
      (if (expect >= Dedup.DriftRebuildRatio) 1L else 0L))
    // the fully-stale limit on the REAL gate corpus: every lookup at
    // df 0, the order collapses to plain string order — drift must be
    // strictly worse than the even-half fixture's, but at 500 docs it
    // measures 1.89, honestly BELOW the one-probe-payback threshold
    // (drift grows with corpus scale: the r12 sweep hits 2.01–3.76 at
    // sf3/sf10) — so the flip itself is pinned on the contrived corpus
    // below, where the drift is structural rather than scale-dependent
    val stale = Dedup.indexOrderDriftAudit(spark, sf,
      buildFilter = lit(false)).collect()(0)
    assert(stale.getAs[Double]("drift_ratio") >
      row.getAs[Double]("drift_ratio"),
      "a fully-stale order must drift strictly past the half-stale one")
    assert(stale.getAs[Long]("prefix_rows") == row.getAs[Long]("prefix_rows"),
      "prefix length is order-invariant even in the fully-stale limit")
  }

  test("d30 verdict flips to rebuild when the stale order floods the prefix") {
    import org.apache.spark.sql.functions._
    import graft.operators.Dedup
    // the drift mechanism in miniature: every doc shares one
    // alphabetically-FIRST shingle ('aa aa aa') plus six doc-unique
    // shingles. A fresh order ranks the shared shingle most common →
    // last → prefixes hold only doc-unique shingles (volume 2N); a
    // build snapshot that never saw the corpus ranks everything df 0 →
    // string order → every prefix leads with the shared shingle
    // (volume N² + N). Ratio (N+1)/2 = 6.5 at N=12: the policy must say
    // rebuild, and the DuckDB twin replays the same arithmetic on the
    // registered fixture
    val spark2 = spark
    import spark2.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_r13_d30").toString
    val docs = (0 until 12).map { i =>
      val uniq = (1 to 6).map(j => s"u${('a' + i).toChar}$j").mkString(" ")
      (i.toLong, s"aa aa aa aa $uniq", "en", "synthetic", 0L)
    }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val flip = Dedup.indexOrderDriftAudit(spark, dir,
      buildFilter = lit(false)).collect()(0)
    assert(flip.getAs[Long]("fresh_candidate_rows") == 24L,
      s"fresh volume: $flip")
    assert(flip.getAs[Long]("frozen_candidate_rows") == 156L,
      s"frozen volume: $flip")
    assert(flip.getAs[Double]("drift_ratio") == 6.5)
    assert(flip.getAs[Long]("rebuild_recommended") == 1L)
  }

  test("d26 carries st9's state-rows dial: the funnel horizon row equals " +
    "the derivation and the ad-hoc soak form") {
    import org.apache.spark.sql.functions._
    import graft.operators.Dedup
    val rows = Dedup.autoConfigReport(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val k = Events.funnelStateHorizonKeys(spark, sf)
    assert(rows("st9_funnel_partitions") ==
      ((k, Events.deriveStatefulShufflePartitions(k).toLong)),
      s"report row ${rows("st9_funnel_partitions")} != derivation over $k")
    // the promoted dial must equal the ad-hoc form the soaks used through
    // r12 (per-day distinct users, max over adjacent-day sums) on a
    // contiguous-day corpus — the r9-r12 soak anchors (80880 at sf3,
    // 269600 at sf10, peaks 0.85-0.86x) price exactly this number
    val perDay = graft.sources.Tables.events(spark, sf)
      .groupBy(to_date(col("ts")).as("d"))
      .agg(countDistinct(col("user_id")).as("c"))
      .orderBy(col("d")).collect().map(_.getLong(1))
    val adHoc =
      if (perDay.length < 2) perDay.max else perDay.sliding(2).map(_.sum).max
    assert(k == adHoc, s"promoted dial $k != ad-hoc adjacent-day max $adHoc")
    // gate-scale state sits far below the 2^16 crossover -> the floor
    assert(rows("st9_funnel_partitions")._2 == 1L)
  }

  test("live-index drift audit equals the hashed closed form; " +
    "maybeRebuild consumes the policy blue/green") {
    import org.apache.spark.sql.functions._
    import graft.operators.Dedup
    val prefix = "r13_live_idx"
    val to = "r13_live_idx_rebuilt"
    // a drifted live index: built over the even half, odd half appended
    // (appended docs adopt the frozen order through the df-0 lookup)
    Dedup.persistContainmentIndex(spark, sf, prefix,
      corpusFilter = col("doc_id") % 2 === 0)
    Dedup.appendToContainmentIndex(spark, sf, col("doc_id") % 2 =!= 0, prefix)
    val audit = Dedup.containmentIndexDriftAudit(spark, 0.8, prefix)
      .collect()(0)
    // exact pin against the closed form in the index's OWN tie order
    // (hashed shingles): the stored _cfull positions must price the
    // same volumes driftVolumeUnder derives from scratch
    val sh = Dedup.docShingles(spark, sf)
      .select(col("doc_id"), explode(col("sh")).as("s")).cache()
    try {
      val frozenDf = sh.filter(col("doc_id") % 2 === 0)
        .groupBy(col("s")).agg(count(lit(1)).as("df"))
      val frozen = Dedup.driftVolumeUnder(sh, frozenDf, 0.8, "f").collect()(0)
      val fresh = Dedup.driftVolumeUnder(sh,
        sh.groupBy(col("s")).agg(count(lit(1)).as("df")), 0.8, "g")
        .collect()(0)
      assert(audit.getAs[Long]("frozen_candidate_rows") ==
        frozen.getAs[Long]("candidate_rows"),
        s"frozen: audit $audit vs closed form $frozen")
      assert(audit.getAs[Long]("fresh_candidate_rows") ==
        fresh.getAs[Long]("candidate_rows"),
        s"fresh: audit $audit vs closed form $fresh")
      assert(audit.getAs[Long]("prefix_rows") ==
        fresh.getAs[Long]("prefix_rows"))
    } finally { sh.unpersist(); () }
    // gate-scale drift is real but below one-probe payback: the default
    // threshold must NOT rebuild, and the no-op leaves toPrefix absent
    assert(audit.getAs[Double]("drift_ratio") > 1.0)
    assert(audit.getAs[Long]("rebuild_recommended") == 0L)
    assert(!Dedup.maybeRebuildContainmentIndex(spark, prefix, to))
    assert(!spark.catalog.tableExists(s"${to}_cdocs"))
    // the ACT branch at a deployment-tuned ratio: the same drifted index
    // rebuilds blue/green (fromPrefix never mutated)
    assert(Dedup.maybeRebuildContainmentIndex(spark, prefix, to,
      rebuildRatio = 1.01))
    val post = Dedup.containmentIndexDriftAudit(spark, 0.8, to).collect()(0)
    assert(post.getAs[Double]("drift_ratio") == 1.0 &&
      post.getAs[Long]("rebuild_recommended") == 0L,
      s"a just-rebuilt index must audit at exactly 1.0: $post")
    assert(post.getAs[Long]("prefix_rows") == audit.getAs[Long]("prefix_rows"),
      "prefix length is order-invariant across the rebuild")
    assert(post.getAs[Long]("frozen_candidate_rows") ==
      audit.getAs[Long]("fresh_candidate_rows"),
      "the rebuilt frozen order IS the old audit's fresh order")
    // pair-set invariance across the rebuild: any one consistent total
    // order preserves the verified survivors (the Round10Spec theorem,
    // re-pinned on the ACT step) — probes against old and new indexes
    // are identical row multisets
    def probe(p: String) =
      Dedup.incrementalContainmentFromIndex(spark, sf, p).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(probe(prefix) == probe(to),
      "rebuild must not change the verified pair set")
  }

  test("DriftRebuildRatio is coupled to the d30 oracle's threshold") {
    import graft.operators.Dedup
    // r15: the twin INTERPOLATES the Scala constant (the s17/s19/s23
    // discipline), so the sides cannot desync by construction — pin that
    // the interpolated value actually reaches the SQL text in both the
    // sentinel branch and the verdict comparison
    assert(Dedup.DriftRebuildRatio == 2.0)
    val sql = SparkEntry.oracleSql("d30_order_drift")
    assert(sql.contains(s">=\n          ${Dedup.DriftRebuildRatio}") ||
      sql.contains(s">= ${Dedup.DriftRebuildRatio}"),
      "d30's oracle verdict no longer carries the interpolated threshold")
    assert(sql.contains(s"CAST(${Dedup.DriftRebuildRatio} AS DOUBLE)"),
      "d30's oracle sentinel branch no longer carries the threshold")
  }

  test("drainSentinelEvents refuses a non-min multipleWatermarkPolicy") {
    // r12 ADVICE: under policy=max with a sub-second derived delay the
    // global watermark follows the sentinel click past the sentinel
    // purchase's horizon and the outer join emits a user_id=-1
    // null-verdict row — the drain asserts the session instead of
    // silently breaking the exact-equality contract
    val key = "spark.sql.streaming.multipleWatermarkPolicy"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType)))
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "max")
      val e = intercept[IllegalArgumentException] {
        Events.drainSentinelEvents(spark, schema, 0L, 30L, 1L)
      }
      assert(e.getMessage.contains("multipleWatermarkPolicy"))
      spark.conf.set(key, "min")
      assert(Events.drainSentinelEvents(spark, schema, 0L, 30L, 1L)
        .count() == 2L)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("blue/green cutover: the pointer flip is the lifecycle's commit " +
    "point; probes follow it; every crash half-state heals forward") {
    import org.apache.spark.sql.functions._
    import graft.operators.Dedup
    val alias = "r13_rotate"
    val blue = s"${alias}_blue"
    val green = s"${alias}_green"
    def probe() = Dedup.incrementalContainmentLive(spark, sf, alias)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sorted.toSeq
    // the pointer is a warehouse FILE, so it survives JVM restarts (by
    // design); unlink any previous run's before asserting the cold state
    Dedup.unlinkContainmentPointer(spark, alias)
    // before the first flip the live probe refuses, it does not guess
    assert(Dedup.currentContainmentPrefix(spark, alias).isEmpty)
    intercept[IllegalStateException] {
      Dedup.incrementalContainmentLive(spark, sf, alias)
    }
    // init: build blue over the even half, flip — the live probe now
    // equals the explicit-prefix probe verbatim
    Dedup.persistContainmentIndex(spark, sf, blue,
      corpusFilter = col("doc_id") % 2 === 0)
    Dedup.flipContainmentIndex(spark, blue, alias)
    assert(Dedup.currentContainmentPrefix(spark, alias).contains(blue))
    val onBlue = probe()
    assert(onBlue == Dedup.incrementalContainmentFromIndex(spark, sf, blue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sorted.toSeq)
    // an undrifted index must not rotate even at a hair-trigger ratio
    // above 1.0, and the idle color stays absent
    assert(!Dedup.rotateContainmentIndex(spark, alias, rebuildRatio = 1.01))
    assert(!spark.catalog.tableExists(s"${green}_cdocs"))
    // drift it (append the odd half under the frozen order), then rotate
    // at a ratio gate-scale drift clears: pointer commits to green, blue
    // is retired, and the verified pair set is UNCHANGED across the
    // cutover (the Round10Spec any-one-consistent-order theorem, now
    // pinned on the full rotate rather than the bare rebuild)
    Dedup.appendToContainmentIndex(spark, sf, col("doc_id") % 2 =!= 0, blue)
    val preRotate = probe()
    assert(Dedup.rotateContainmentIndex(spark, alias, rebuildRatio = 1.01))
    assert(Dedup.currentContainmentPrefix(spark, alias).contains(green))
    assert(!spark.catalog.tableExists(s"${blue}_cdocs"),
      "the old color must be retired after the flip")
    assert(probe() == preRotate,
      "rotation must not change the verified pair set")
    // crash between rebuild and flip: a complete-but-unreferenced idle
    // color; the NEXT rotate heals it at start even when it declines to
    // act (a fresh index audits at 1.0 < any ratio)
    Dedup.rebuildContainmentIndexTo(spark, green, blue)
    assert(!Dedup.rotateContainmentIndex(spark, alias, rebuildRatio = 1.01))
    assert(!spark.catalog.tableExists(s"${blue}_cdocs"),
      "idle-color residue must be healed by the next rotate")
    assert(Dedup.currentContainmentPrefix(spark, alias).contains(green))
    // crash between flip and retire: pointer committed, old color
    // orphaned — simulate by rebuilding to blue and flipping without
    // retiring; the next rotate's start-heal drops the orphan (green),
    // and the live probe is already on the committed side throughout
    Dedup.rebuildContainmentIndexTo(spark, green, blue)
    Dedup.flipContainmentIndex(spark, blue, alias)
    assert(probe() == preRotate)
    assert(!Dedup.rotateContainmentIndex(spark, alias, rebuildRatio = 1.01))
    assert(!spark.catalog.tableExists(s"${green}_cdocs"),
      "orphaned old color must be healed by the next rotate")
    assert(probe() == preRotate)
    Dedup.retireContainmentIndex(spark, blue)
    Dedup.unlinkContainmentPointer(spark, alias)
  }

  test("s16 persisted IVF probe equals s3 verbatim; append adopts the " +
    "frozen quantizer; the live audit equals the registered closed form") {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    // full-corpus index: the probe IS s3 (same quantizer derivation,
    // same argmax, same rerank — only WHERE the assignment lives moved)
    Similarity.persistIvfIndex(spark, sf, "r13_ivf_full")
    assert(rows(Similarity.annIvfFromIndex(spark, sf, "r13_ivf_full")) ==
      rows(Similarity.annIvfTopK(spark, sf)))
    // a drifted index: built over the even half, odd half appended under
    // the STORED centroids
    Similarity.persistIvfIndex(spark, sf, "r13_ivf_half",
      corpusFilter = col("vec_id") % 2 === 0)
    Similarity.appendToIvfIndex(spark, sf, col("vec_id") % 2 =!= 0,
      "r13_ivf_half")
    // re-appending an indexed id is refused on the _icell registration
    intercept[IllegalArgumentException] {
      Similarity.appendToIvfIndex(spark, sf, col("vec_id") % 2 =!= 0,
        "r13_ivf_half")
    }
    // append parity: stored assignments == every corpus vector assigned
    // under the stored (frozen) centroids, computed from scratch
    val stored = spark.table("r13_ivf_half_icell")
      .select(col("vec_id"), col("cent_id"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    val expected = Similarity.assignUnderCentArr(
      graft.sources.Tables.embeddings(spark, sf)
        .select(col("vec_id"), col("embedding")),
      Similarity.centArrOf(spark.table("r13_ivf_half_icent")))
      .select(col("vec_id"), col("cent_id"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    assert(stored == expected)
    // the LIVE audit (stored assignments, no recompute) equals the
    // registered s17 hypothesis form on the same corpus: the even-half
    // build IS s17's frozen hypothesis, and the index is self-contained
    val live = Similarity.ivfIndexDriftAudit(spark, "r13_ivf_half")
      .collect()(0)
    val reg = Similarity.ivfDriftAudit(spark, sf).collect()(0)
    assert(live.getAs[Long]("frozen_candidate_rows") ==
      reg.getAs[Long]("frozen_candidate_rows"), s"live $live vs reg $reg")
    assert(live.getAs[Long]("fresh_candidate_rows") ==
      reg.getAs[Long]("fresh_candidate_rows"))
    assert(live.getAs[Double]("drift_ratio") ==
      reg.getAs[Double]("drift_ratio"))
    // drift moves the CANDIDATE SET, not just its count — the mechanism
    // by which a stale quantizer moves recall (candidates are the only
    // rows the exact rerank ever sees)
    val frozenCand = Similarity.assignUnderCentArr(
      graft.sources.Tables.embeddings(spark, sf)
        .select(col("vec_id"), col("embedding")),
      Similarity.centArrOf(spark.table("r13_ivf_half_icent")))
      .select(col("vec_id"), col("cent_id"))
    val freshCand = spark.table("r13_ivf_full_icell")
      .select(col("vec_id"), col("cent_id"))
    def cellSets(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(cellSets(frozenCand) != cellSets(freshCand),
      "even-half-frozen and fresh quantizers must place some vector " +
        "differently at gate scale, or the drift fixture is vacuous")
    Seq("r13_ivf_full", "r13_ivf_half")
      .foreach(Similarity.dropIvfTables(spark, _))
  }

  test("IVF blue/green rotate: pointer cutover, post-rotate probe IS s3, " +
    "idle-color residue heals") {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    val alias = "r13_ivf_live"
    val blue = s"${alias}_blue"
    val green = s"${alias}_green"
    Similarity.unlinkIvfPointer(spark, alias)
    intercept[IllegalStateException] {
      Similarity.annIvfLive(spark, sf, alias)
    }
    Similarity.persistIvfIndex(spark, sf, blue,
      corpusFilter = col("vec_id") % 2 === 0)
    Similarity.flipIvfIndex(spark, blue, alias)
    Similarity.appendToIvfIndex(spark, sf, col("vec_id") % 2 =!= 0, blue)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(rows(Similarity.annIvfLive(spark, sf, alias)) ==
      rows(Similarity.annIvfFromIndex(spark, sf, blue)))
    // force the ACT branch regardless of the fixture's drift direction
    // (ratio 0 is below any drift_ratio): rebuild re-derives the
    // quantizer from the stored full corpus, so the post-rotate live
    // probe must equal s3 on the same corpus VERBATIM — and the
    // post-rotate audit must read exactly 1.0
    assert(Similarity.rotateIvfIndex(spark, alias, rebuildRatio = 0.0))
    assert(graft.operators.LiveIndexPointer.current(spark, alias)
      .contains(green))
    assert(!spark.catalog.tableExists(s"${blue}_icell"))
    assert(rows(Similarity.annIvfLive(spark, sf, alias)) ==
      rows(Similarity.annIvfTopK(spark, sf)))
    val post = Similarity.ivfIndexDriftAudit(spark, green).collect()(0)
    assert(post.getAs[Double]("drift_ratio") == 1.0 &&
      post.getAs[Long]("rebuild_recommended") == 0L, s"post: $post")
    // crash between rebuild and flip: unreferenced idle color — the next
    // rotate heals it at start even when it declines to act
    Similarity.rebuildIvfIndexTo(spark, green, blue)
    assert(!Similarity.rotateIvfIndex(spark, alias,
      rebuildRatio = Double.MaxValue))
    assert(!spark.catalog.tableExists(s"${blue}_icell"),
      "idle-color residue must be healed by the next rotate")
    Similarity.dropIvfTables(spark, green)
    Similarity.unlinkIvfPointer(spark, alias)
  }

  test("t35: the two-level running sum equals the naive global window, " +
    "including the oversized-score-group sub-split path") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    // 400 docs over 3 scores; score 0.5 holds 300 docs — oversized at
    // maxGroup = 50, forcing the 256-way doc_id-range sub-split (the
    // all-docs-score-alike cliff). Sparse ids exercise range emptiness.
    val rnd = new scala.util.Random(35L)
    val rows = (1 to 400).map { i =>
      val score = if (i % 4 == 0) 0.7 else if (i % 7 == 0) 0.3 else 0.5
      (i.toLong * 97L, 1L + rnd.nextInt(50).toLong, score)
    }
    val base = spark.createDataFrame(rows)
      .toDF("doc_id", "n_tokens", "quality_score")
    val fast = graft.operators.TextAnalysis
      .budgetRunningSum(spark, base, maxGroup = 50L)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    val naive = base.withColumn("run",
        sum(col("n_tokens")).over(Window
          .orderBy(col("quality_score").desc, col("doc_id").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(fast == naive,
      s"diverged on ${fast.toSet.diff(naive.toSet).take(3)}")
  }

  test("t34: every funnel gate fires on a planted fixture (the driver corpus " +
    "leaves quality/exact-dedup structurally inert)") {
    import org.apache.spark.sql.functions._
    val enA = "the quick brown fox jumps over a lazy dog and runs to the " +
      "old mill near of the river bank while birds sing"
    val leak = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, enA, "en", "web"),                              // survivor
      (3L, enA, "en", "web"),                              // exact dup of 1 → dies s4
      (5L, "the cat sat on mat", "en", "web"),             // 5 tokens → dies s3 (too_short)
      (7L, "the " + Seq.fill(30)("spam").mkString(" "), "en", "web"), // dies s3 (repetitive)
      (9L, s"the report discusses $leak and further details of a modern " +
        "study to improve results", "en", "web"),          // dies s6 (eval 8-gram)
      (11L, "an independent survey covers seven distinct regions and " +
        "documents the broad variety of outcomes to compare", "en", "web"), // survivor
      (20L, s"notes $leak end", "en", "web"))              // eval split → held out s1
    val dir = java.nio.file.Files.createTempDirectory("graft_t34_fixture").toString
    spark.createDataFrame(docs).toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")))
      .coalesce(1).write.parquet(s"$dir/documents.parquet")

    val funnel = graft.operators.Curation.curationFunnel(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(funnel == Map(
      "0_base" -> 7L,            // the full fixture
      "1_holdout" -> 6L,         // doc 20 held out (eval split)
      "2_lang_id" -> 6L,         // every kept doc carries en markers
      "3_quality" -> 4L,         // 5 too_short, 7 repetitive
      "4_exact_dedup" -> 3L,     // 3 loses to 1 (min-id survivor)
      "5_near_dup" -> 3L,        // the only j>=0.8 pair died at s4 already
      "6_decontaminated" -> 2L,  // 9 shares an 8-gram with held-out 20
      "7_source_cap" -> 2L),     // 2 <= cap
      s"funnel=$funnel")
  }

  test("s21 modality coverage: duplicate ids and both orphan directions " +
    "counted on a planted fixture; the driver corpus is a real finding") {
    import org.apache.spark.sql.functions._
    // planted: docs {1,1,2,3} (1 duplicated), vectors {2,3,3,9} (3
    // duplicated, 9 dangling) → docs 4 rows/3 ids, vecs 4 rows/3 ids,
    // doc 1 uncovered, vec 9 dangling, coverage 2/3
    val dir = java.nio.file.Files.createTempDirectory("graft_s21").toString
    spark.createDataFrame(Seq((1L, "a"), (1L, "a2"), (2L, "b"), (3L, "c")))
      .toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'syn' AS source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    spark.createDataFrame(Seq(
      (2L, Seq.fill(64)(0.1f), 0), (3L, Seq.fill(64)(0.2f), 0),
      (3L, Seq.fill(64)(0.3f), 0), (9L, Seq.fill(64)(0.4f), 0)))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    val r = graft.operators.Similarity.modalityCoverageAudit(spark, dir)
      .collect()(0)
    assert((r.getAs[Long]("n_docs"), r.getAs[Long]("n_doc_ids"),
      r.getAs[Long]("n_vectors"), r.getAs[Long]("n_vec_ids"),
      r.getAs[Long]("docs_without_vector"),
      r.getAs[Long]("vectors_without_doc"),
      r.getAs[Double]("coverage_pct")) ==
      ((4L, 3L, 4L, 3L, 1L, 1L, 66.6667)), s"s21 planted: $r")
    // the driver corpus at the off-gate scale is a REAL coverage gap
    // (2,000 of 5,000 docs carry vectors) — pinned at the gate's full
    // coverage here so the off-gate sweep's 40.0 is a measured contrast
    val gate = graft.operators.Similarity.modalityCoverageAudit(spark, sf)
      .collect()(0)
    assert(gate.getAs[Double]("coverage_pct") == 100.0 &&
      gate.getAs[Long]("vectors_without_doc") == 0L, s"gate: $gate")
  }

  test("retraction across the ANN/media index families: staged rewrite " +
    "minus ids, frozen layout untouched, probes equal a survivor-only " +
    "index under the same frozen definition") {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    import graft.multimodal.Multimodal

    // ---- IVF: _icell filtered under the SAME frozen _icent
    Seq("ret_ivf", "ret_ivfref")
      .foreach(Similarity.dropIvfTables(spark, _))
    Similarity.persistIvfIndex(spark, sf, "ret_ivf")
    // retract ids that actually serve as neighbors, so the probe must move
    val ivfIds = Similarity.annIvfFromIndex(spark, sf, "ret_ivf")
      .select(col("neighbor_id")).distinct().limit(3)
      .collect().map(_.getLong(0)).toSeq
    val icentBefore = spark.table("ret_ivf_icent").collect().map(_.toSeq).toSet
    Similarity.retractFromIvfIndex(spark, ivfIds, "ret_ivf")
    assert(spark.table("ret_ivf_icent").collect().map(_.toSeq).toSet ==
      icentBefore, "retraction must not touch the frozen quantizer")
    // reference: every survivor re-assigned FRESH under the same frozen
    // centroids (an empty clone appended to) — retraction must be
    // indistinguishable from never having indexed the ids at all
    spark.table("ret_ivf_icent").write.saveAsTable("ret_ivfref_icent")
    spark.table("ret_ivf_icell").limit(0)
      .write.partitionBy("cent_id").saveAsTable("ret_ivfref_icell")
    Similarity.appendToIvfIndex(spark, sf,
      !col("vec_id").isin(ivfIds: _*), "ret_ivfref")
    assert(spark.table("ret_ivf_icell").collect().map(_.toSeq).toSet ==
      spark.table("ret_ivfref_icell").collect().map(_.toSeq).toSet,
      "retracted _icell must equal the survivors re-assigned under the " +
        "frozen quantizer")
    assert(Similarity.annIvfFromIndex(spark, sf, "ret_ivf")
      .collect().map(_.toSeq).toSeq ==
      Similarity.annIvfFromIndex(spark, sf, "ret_ivfref")
        .collect().map(_.toSeq).toSeq,
      "post-retract IVF probe must equal the survivor-only index's")

    // ---- PQ: _pcode filtered under the SAME frozen codec
    Seq("ret_pq", "ret_pqref")
      .foreach(Similarity.dropPqTables(spark, _))
    Similarity.persistPqIndex(spark, sf, "ret_pq")
    val pqIds = Similarity.annPqFromIndex(spark, sf, "ret_pq")
      .select(col("neighbor_id")).distinct().limit(3)
      .collect().map(_.getLong(0)).toSeq
    val pcbBefore = spark.table("ret_pq_pcb").collect().map(_.toSeq).toSet
    Similarity.retractFromPqIndex(spark, pqIds, "ret_pq")
    assert(spark.table("ret_pq_pcb").collect().map(_.toSeq).toSet ==
      pcbBefore, "retraction must not touch the frozen codec")
    spark.table("ret_pq_pcb").write.saveAsTable("ret_pqref_pcb")
    spark.table("ret_pq_pcode").limit(0)
      .write.saveAsTable("ret_pqref_pcode")
    Similarity.appendToPqIndex(spark, sf,
      !col("vec_id").isin(pqIds: _*), "ret_pqref")
    assert(spark.table("ret_pq_pcode").collect().map(_.toSeq).toSet ==
      spark.table("ret_pqref_pcode").collect().map(_.toSeq).toSet,
      "retracted _pcode must equal the survivors re-encoded under the " +
        "frozen codec")
    assert(Similarity.annPqFromIndex(spark, sf, "ret_pq")
      .collect().map(_.toSeq).toSeq ==
      Similarity.annPqFromIndex(spark, sf, "ret_pqref")
        .collect().map(_.toSeq).toSeq,
      "post-retract PQ probe must equal the survivor-only index's")

    // ---- media: _mband filtered at the SAME frozen width — here the
    // reference can be a genuinely independent same-width BUILD, the
    // strongest parity (the width is the only frozen state)
    Seq("ret_m", "ret_mref")
      .foreach(Multimodal.dropMediaIndexTables(spark, _))
    Multimodal.persistMediaIndex(spark, sf, "ret_m",
      corpusFilter = col("doc_id") % 2 === 0, forceExtraBits = Some(2))
    val mIds = Seq(0L, 4L, 8L)
    val mcfgBefore = spark.table("ret_m_mcfg").collect().map(_.toSeq).toSet
    Multimodal.retractFromMediaIndex(spark, mIds, "ret_m")
    assert(spark.table("ret_m_mcfg").collect().map(_.toSeq).toSet ==
      mcfgBefore, "retraction must not touch the frozen width")
    Multimodal.persistMediaIndex(spark, sf, "ret_mref",
      corpusFilter = col("doc_id") % 2 === 0 && !col("doc_id").isin(mIds: _*),
      forceExtraBits = Some(2))
    assert(spark.table("ret_m_mband").collect().map(_.toSeq).toSet ==
      spark.table("ret_mref_mband").collect().map(_.toSeq).toSet,
      "retracted _mband must equal a same-width build over the survivors")
    assert(Multimodal.incrementalMediaFromIndex(spark, sf, "ret_m")
      .collect().map(_.toSeq).toSeq ==
      Multimodal.incrementalMediaFromIndex(spark, sf, "ret_mref")
        .collect().map(_.toSeq).toSeq,
      "post-retract media probe must equal the survivor-only build's")
  }

  test("retraction crash window on a PARTITIONED table: a crash between " +
    "DROP and RENAME is healed by the next retraction, partitions " +
    "recovered, no rows lost") {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    // the staged-rewrite's one non-atomic step is DROP canonical →
    // RENAME tmp; simulate dying right between them on the partitioned
    // _icell (the table whose managed RENAME loses partition
    // registrations — the failure the r13 recoverPartitions fix closed)
    Seq("ret2_ivf").foreach(Similarity.dropIvfTables(spark, _))
    spark.sql("DROP TABLE IF EXISTS `ret2_ivf_icell__retract`")
    Similarity.persistIvfIndex(spark, sf, "ret2_ivf")
    val before = spark.table("ret2_ivf_icell")
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(Set(2L, 4L, 6L).subsetOf(before), "fixture ids must be indexed")
    // the crash tableau: verified staging landed under the tmp name, the
    // canonical was dropped, the rename never ran
    spark.table("ret2_ivf_icell").filter(!col("vec_id").isin(2L, 4L))
      .write.partitionBy("cent_id").saveAsTable("ret2_ivf_icell__retract")
    spark.sql("DROP TABLE `ret2_ivf_icell`")
    // next retraction heals first (promote + recover partitions), then
    // applies its own ids on top of the promoted survivors
    Similarity.retractFromIvfIndex(spark, Seq(6L), "ret2_ivf")
    val after = spark.table("ret2_ivf_icell")
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    // the promoted table reads through its partitions (the bug read EMPTY)
    assert(after == before - 2L - 4L - 6L,
      "healed table = fixture minus the crashed retraction's ids minus " +
        s"the healing call's id (got ${after.size} of ${before.size})")
    Seq("ret2_ivf").foreach(Similarity.dropIvfTables(spark, _))
  }
}
