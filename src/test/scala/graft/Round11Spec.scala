package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup
import graft.multimodal.Multimodal

/** Round-11 additions: the m16 media band-occupancy audit (d29's
  * machinery applied to m6's pigeonhole chunks) and the pinned
  * [[Multimodal.MediaExtraBitsCap]] boundary.
  */
class Round11Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  test("m16 collision_rows is exactly the m6 band join's output volume") {
    // the closed-form Σ C(s,2) must equal what mediaBandCandidates'
    // equi-join actually emits — the invariant that makes m16 a
    // trustworthy price tag for m6 (the d29 contract, media geometry)
    val audit = Multimodal.mediaBandOccupancyAudit(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(audit.map(_._1).toSeq == (0L until 8L).toSeq,
      "one row per radius-7 chunk")
    val hashes = Multimodal.perceptualHashes(spark, sf).cache()
    try {
      val emitted = Multimodal.mediaBandCandidates(hashes, 7).count()
      assert(audit.map(_._4).sum == emitted,
        s"closed form ${audit.map(_._4).sum} != emitted $emitted")
    } finally { hashes.unpersist(); () }
    val n = graft.sources.Tables.documentsParallel(spark, sf).count()
    audit.foreach { case (band, buckets, maxOcc, _) =>
      // chunk widths alternate 6/7 bits at the 52/8 boundaries
      assert(buckets <= (1L << 7) && buckets <= n, s"band $band buckets")
      assert(maxOcc >= 1L && maxOcc <= n, s"band $band occupancy")
    }
  }

  test("MediaExtraBitsCap boundaries: gradient hands to curvature past 2^19 docs, cap2 past 2^25") {
    // the gradient slot (6 = the minimum radius-7 chunk width) funds
    // derivations through 2^19 docs; from 2^19 + 1 the 7th bit comes from
    // the curvature hash (wide2), through 2^25; cap2 binds beyond — all
    // pinned in integers the way Round10Spec pins the oracle-width
    // coupling
    assert(Dedup.deriveExtraBandBits(1L << 19) == 6, "2^19 docs still fit")
    assert(Dedup.deriveExtraBandBits((1L << 19) + 1) == 7,
      "first doc past the gradient-funded key space")
    assert(Dedup.deriveExtraBandBits(1L << 25) == 12,
      "2^25 docs exhaust both funding slots")
    assert(math.min(Multimodal.MediaExtraBitsCap2,
      Dedup.deriveExtraBandBits((1L << 25) + 1)) == 12,
      "the registered form caps at 12")
    // and each layout is a tripwire at its own boundary: a width passed
    // into the wrong form would overlap adjacent chunks' slots, so both
    // refuse rather than silently losing pairs
    val hashes = spark.range(4).select(col("id").as("doc_id"),
      graft.functions.TextFunctions.hash52(col("id").cast("string")).as("phash"),
      graft.functions.TextFunctions.hash52b(col("id").cast("string")).as("ghash"))
    val e = intercept[IllegalArgumentException] {
      Multimodal.mediaBandsWide(hashes, 7, 7)
    }
    assert(e.getMessage.contains("extraBits"))
  }

  test("m17 curvature hash matches the local expression evaluation per doc") {
    val spark2 = spark
    import spark2.implicits._
    val got = Multimodal.curvatureHashes(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty)
    val texts = graft.sources.Tables.documentsParallel(spark, sf)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toMap
    got.foreach { case (id, len, ch) =>
      val bytes = texts(id).getBytes("UTF-8")
      assert(len == bytes.length, s"doc $id byte_len")
      assert(ch == graft.expressions.BlockCurvatureHash.hashBytes(bytes),
        s"doc $id chash diverges from the local fold")
    }
  }

  test("curvature hash: constant and linear profiles hash 0, convex profiles set every bit") {
    // the semantic seam between the three fingerprints: constant payloads
    // are flat to all three; a LINEAR block-sum profile sets every
    // gradient bit but NO curvature bit (the second difference is exactly
    // zero, so the strict > fails); a QUADRATIC profile sets every
    // curvature bit — each hash answers a different perturbation class,
    // which is what makes the third one independent funding rather than
    // redundancy. Payloads are built with EXACT per-block sums (quotient
    // fill + remainder spread) so the assertions are pure algebra, free
    // of byte-quantization noise.
    def blockPayload(blocks: Int, sums: Int => Int): Array[Byte] = {
      val w = 40
      val out = new Array[Byte](w * blocks)
      for (k <- 0 until blocks) {
        val q = sums(k) / w
        val r = sums(k) % w
        for (i <- 0 until w)
          out(k * w + i) = (if (i < r) q + 1 else q).toByte
      }
      out
    }
    val const = Array.fill(54 * 40)(7.toByte)
    assert(graft.expressions.BlockCurvatureHash.hashBytes(const) == 0L)
    // gradient splits into 53 blocks, curvature into 54 — each gets a
    // payload sized to its own exact boundaries
    assert(graft.expressions.BlockGradientHash.hashBytes(
      blockPayload(53, k => 100 * k)) == (1L << 52) - 1,
      "strictly increasing sums set every gradient bit")
    assert(graft.expressions.BlockCurvatureHash.hashBytes(
      blockPayload(54, k => 100 * k)) == 0L,
      "a linear profile has exactly zero curvature")
    assert(graft.expressions.BlockCurvatureHash.hashBytes(
      blockPayload(54, k => k * k)) == (1L << 52) - 1,
      "a quadratic profile sets every curvature bit (2nd diff = 2 > 0)")
  }

  test("m6 wide2 banding equals the brute-force triple-hamming join") {
    val e = 8 // 6 gradient + 2 curvature bits — the funded region
    val hashes = Multimodal.perceptualHashesWide2(spark, sf).cache()
    try {
      val gmask = Multimodal.gradientMask(7, 6)
      val cmask = Multimodal.gradientMask(7, e - 6)
      val banded = Multimodal.mediaNearDupPairsWide2(hashes, 7, e)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val naive = hashes.as("a").join(hashes.as("b"),
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
          (bit_count(col("a.phash").bitwiseXOR(col("b.phash"))) +
            bit_count(col("a.ghash").bitwiseXOR(col("b.ghash"))
              .bitwiseAND(lit(gmask))) +
            bit_count(col("a.chash").bitwiseXOR(col("b.chash"))
              .bitwiseAND(lit(cmask)))).cast("long").as("hamming"))
        .filter(col("hamming") <= 7)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(banded == naive,
        s"wide2 pigeonhole recall broke: ${banded.size} vs ${naive.size}")
    } finally { hashes.unpersist(); () }
  }

  test("wide2 layout refuses widths outside its funded region") {
    val hashes = spark.range(4).select(col("id").as("doc_id"),
      graft.functions.TextFunctions.hash52(col("id").cast("string")).as("phash"),
      graft.functions.TextFunctions.hash52b(col("id").cast("string")).as("ghash"),
      graft.functions.TextFunctions.hash52(concat(col("id").cast("string"),
        lit("c"))).as("chash"))
    for (bad <- Seq(6, 13)) {
      val e = intercept[IllegalArgumentException] {
        Multimodal.mediaBandsWide2(hashes, 7, bad)
      }
      assert(e.getMessage.contains("extraBits"), s"bad width $bad accepted")
    }
  }

  test("past the gradient slot, an UNFUNDED band volume grows quadratically — the priced boundary") {
    // d29's machinery over a SYNTHETIC uniform-hash corpus (hash52/hash52b
    // of the doc id — deterministic, no perceptual structure, so every
    // collision is a random tie): doubling the corpus past the gradient
    // slot must ~quadruple the closed-form band volume AT THE FROZEN
    // 6-bit width — the cost curve that motivates the curvature funding
    // (wide2 restores ~2× per extra bit). Kept at test scale (2^15 →
    // 2^16 docs); the r11 soak ledger priced the real 2^19/2^20
    // boundary corpus, frozen vs funded.
    def volumeAt(n: Long): Long =
      Multimodal.mediaBandsWide(
          spark.range(n).select(col("id").as("doc_id"),
            graft.functions.TextFunctions.hash52(col("id").cast("string"))
              .as("phash"),
            graft.functions.TextFunctions.hash52b(col("id").cast("string"))
              .as("ghash")),
          7, Multimodal.MediaExtraBitsCap)
        .groupBy(col("band"), col("bkey")).count()
        .agg(sum((col("count") * (col("count") - 1) / 2).cast("long")))
        .collect()(0).getLong(0)
    val v1 = volumeAt(1L << 15)
    val v2 = volumeAt(1L << 16)
    // expected ratio 4.0 (C(n,2) doubles twice); allow wide noise margin
    assert(v1 > 0, "uniform corpus at 2^15 must already collide")
    assert(v2 > 3 * v1 && v2 < 5 * v1,
      s"volume $v1 -> $v2 is not the ~4x of a saturated fixed-width layout")
  }

  test("st10's interval join rides the user_id equi-key, never a cross product") {
    // the scale contract of the attribution join: the time range is a
    // residual predicate on a user_id equi-join (SMJ/shuffled-hash), so
    // cost is per-user clicks×purchases — not |clicks|×|purchases|
    val p = graft.streaming.Events.attributedPairs(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"st10 planned a corpus-quadratic join:\n$p")
    val po = graft.streaming.Events.attributionOuter(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!po.contains("CartesianProduct") &&
      !po.contains("BroadcastNestedLoopJoin"),
      s"st11 planned a corpus-quadratic join:\n$po")
  }

  test("the streaming join twins carry both watermarks — bounded state is a plan property") {
    // the 100 TB hazard this pins: drop either side's withWatermark and
    // the symmetric-hash join silently stops evicting (state grows with
    // stream lifetime, no error). Both twins must analyze to plans with
    // exactly two EventTimeWatermark nodes and a streaming-streaming join.
    for ((name, df) <- Seq(
        "st10" -> graft.streaming.Events.streamingAttributedPairs(spark, sf),
        "st11" -> graft.streaming.Events.streamingAttributionOuter(spark, sf))) {
      val plan = df.queryExecution.analyzed
      val wms = plan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark => w
      }
      assert(wms.length == 2, s"$name: expected 2 watermark nodes, got ${wms.length}")
      val joins = plan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.left.isStreaming && j.right.isStreaming => j
      }
      assert(joins.length == 1, s"$name: expected one stream-stream join")
    }
  }

  test("d26 derives the streaming watermark delay from st8's measured lateness") {
    // the streaming family's sizing dial, closed the d26 way: the report
    // row equals the helper. Since r12 the helper measures GLOBAL
    // lateness (≥ st8's per-user max — Spark's watermark is one value
    // across keys; Round12Spec pins the cross-user-disorder gap); on
    // this in-order corpus the two coincide, so the st8 coupling below
    // still holds exactly
    val rows = Dedup.autoConfigReport(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val derived = graft.streaming.Events.deriveWatermarkDelayUs(spark, sf)
    val nEvents = graft.sources.Tables.events(spark, sf).count()
    assert(rows("st_watermark_delay_us") == ((nEvents, derived)))
    val st8Max = graft.streaming.Events.disorderAudit(spark, sf)
      .agg(org.apache.spark.sql.functions.max(col("max_lateness_us")))
      .collect()(0).getLong(0)
    assert(derived == st8Max + 1L,
      s"delay $derived != st8 max lateness $st8Max + 1")
    // the generator writes events in event-time order, so the honest
    // derivation is exactly the 1 µs floor — the report's answer is
    // "this feed is in-order; any positive delay is pure safety margin",
    // and the twins' pinned 10 minutes is margin, not necessity. A
    // disordered corpus moves this row; the synthetic-disorder case is
    // pinned in the st8 drop-equivalence spec.
    assert(derived == 1L, s"ordered corpus must derive the floor: $derived")
  }
}
