package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup
import graft.multimodal.Multimodal

/** Round-10 additions: the corpus-derived d9/m6 band width (the last
  * pinned sizing parameter — `deriveExtraBandBits`, its wide-signature
  * pipelines, and their brute-force equivalence), and the d28
  * persisted-index containment probe.
  */
class Round10Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  test("deriveExtraBandBits: integer-exact formula, floors, and caps") {
    // the smallest e >= 0 with 2^(13+e) >= n, capped at 13 — pinned at
    // the exact power-of-two boundaries where a float log2 misrounds
    assert(Dedup.deriveExtraBandBits(1L) == 0)
    assert(Dedup.deriveExtraBandBits(8192L) == 0, "2^13 docs still fit")
    assert(Dedup.deriveExtraBandBits(8193L) == 1, "first doc past the key space")
    assert(Dedup.deriveExtraBandBits(16384L) == 1)
    assert(Dedup.deriveExtraBandBits(16385L) == 2)
    assert(Dedup.deriveExtraBandBits(50000L) == 3, "10x soak corpus")
    assert(Dedup.deriveExtraBandBits(150000L) == 5, "30x soak corpus")
    assert(Dedup.deriveExtraBandBits(500000L) == 6, "100x soak corpus")
    assert(Dedup.deriveExtraBandBits(Long.MaxValue) == 13, "hash52b slot cap")
  }

  test("gate-scale coupling: the gate and off-gate corpora derive extra = 0") {
    // the d13/d14 auto-seam contract: the registered d9/m6 forms stay on
    // the 52-bit pipeline (and their static DuckDB oracles stay valid)
    // at every scale the correctness gate runs — this test breaks if the
    // gate corpus ever outgrows that, BEFORE the oracle silently would
    for (dir <- Seq(sf, sf.replace("sf0.001", "sf0.01"))) {
      val n = graft.sources.Tables.documentsParallel(spark, dir).count()
      assert(Dedup.deriveExtraBandBits(n) == 0,
        s"$dir has $n docs — the 52-bit oracle contract no longer holds")
    }
  }

  test("d9 wide signatures: extra bits extend, never disturb, the base simhash") {
    val base = Dedup.simhashSignatures(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val wide = Dedup.simhashSignaturesWide(spark, sf, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(wide.map(w => w._1 -> w._2).toMap == base,
      "lo half must be bit-identical to d4's registered signature")
    // hi half only populates the low 3 bits of each 13-bit slot
    val liveMask = (0 until 4).map(j => 7L << (13 * j)).reduce(_ | _)
    assert(wide.forall(w => (w._3 & ~liveMask) == 0L),
      "simhash2 carries only the 4*extraBits live positions")
    assert(wide.exists(_._3 != 0L), "majority votes actually set hi bits")
  }

  test("d9 wide banding equals the brute-force wide-signature join (pigeonhole exact)") {
    val e = 3
    val sigs = Dedup.simhashSignaturesWide(spark, sf, e).cache()
    try {
      val banded = Dedup.simhashCandidatesWide(sigs, e)
        .withColumn("hamming",
          (bit_count(col("sh_a").bitwiseXOR(col("sh_b"))) +
            bit_count(col("sh2_a").bitwiseXOR(col("sh2_b")))).cast("long"))
        .filter(col("hamming") <= 3)
        .select(col("id_a"), col("id_b"), col("hamming")).distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val naive = sigs.as("a").join(sigs.as("b"),
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
          (bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))) +
            bit_count(col("a.simhash2").bitwiseXOR(col("b.simhash2"))))
            .cast("long").as("hamming"))
        .filter(col("hamming") <= 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(banded == naive,
        s"banded=${banded.size} naive=${naive.size} " +
          s"diff=${(banded diff naive) ++ (naive diff banded)}")
      // absolute-radius contract: widening never ADMITS a pair the
      // 52-bit signature rejected
      val narrow = Dedup.simhashNearDupPairs(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(naive.map(p => (p._1, p._2)).subsetOf(narrow),
        "wide pairs must be a subset of the 52-bit pairs")
    } finally { sigs.unpersist(); () }
  }

  test("m6 wide banding equals the brute-force combined-hamming join") {
    val e = 3
    val hashes = Multimodal.perceptualHashesWide(spark, sf).cache()
    try {
      val gmask = Multimodal.gradientMask(7, e)
      val banded = Multimodal.mediaNearDupPairsWide(hashes, 7, e)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val naive = hashes.as("a").join(hashes.as("b"),
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
          (bit_count(col("a.phash").bitwiseXOR(col("b.phash"))) +
            bit_count(col("a.ghash").bitwiseXOR(col("b.ghash"))
              .bitwiseAND(lit(gmask)))).cast("long").as("hamming"))
        .filter(col("hamming") <= 7)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(banded == naive,
        s"banded=${banded.size} naive=${naive.size} " +
          s"diff=${((banded diff naive) ++ (naive diff banded)).take(3)}")
    } finally { hashes.unpersist(); () }
  }

  test("block gradient hash: constant payloads hash 0, monotone ramps set every bit") {
    import graft.expressions.BlockGradientHash.hashBytes
    assert(hashBytes(Array.fill[Byte](200)(7)) == 0L, "flat = no gradients")
    assert(hashBytes(Array.emptyByteArray) == 0L)
    // 106 strictly increasing bytes -> every adjacent 2-byte block's mean
    // rises -> all 52 bits set
    assert(hashBytes((0 until 106).map(_.toByte).toArray) == (1L << 52) - 1)
    // short payloads (< 53 bytes) must not throw; empty blocks vote 0
    assert(hashBytes(Array[Byte](1, 2, 3)) != -1L)
    // locality: flipping one byte of a 530-byte payload disturbs at most
    // the two gradients its block participates in
    val a = (0 until 530).map(i => (i % 97).toByte).toArray
    val b = a.clone(); b(265) = (b(265) + 60).toByte
    val d = java.lang.Long.bitCount(hashBytes(a) ^ hashBytes(b))
    assert(d <= 2, s"one-byte edit moved $d gradient bits")
  }

  test("d28 probe from the persisted containment index equals d27 exactly") {
    // the index freezes the rare-first order at CORPUS-only df (batch
    // shingles unseen in the corpus take df 0) while d27 orders by
    // combined df — a different total order, the SAME verified pair set:
    // the prefix theorem and positional bound hold for any one order
    // applied consistently, and the output is the exact-containment
    // verify, which no candidate order can change
    val d27 = Dedup.incrementalContainmentDedup(spark, sf)
      .collect().map(_.toSeq).toSet
    val d28 = Dedup.incrementalContainmentIndexed(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(d28 == d27 && d28.nonEmpty,
      s"d28=${d28.size} d27=${d27.size} diff=${(d28 diff d27).take(3)}")
  }

  test("the wide d9/m6 candidate joins stay equi-joins (no cartesian/BNLJ)") {
    // the whole point of banding is an equi-join on (band, bkey); the
    // wide layout must not regress that — only the key got wider
    val sPlan = Dedup.simhashCandidatesWide(
      Dedup.simhashSignaturesWide(spark, sf, 3), 3)
      .queryExecution.executedPlan.toString
    val mPlan = Multimodal.mediaBandCandidatesWide(
      Multimodal.perceptualHashesWide(spark, sf), 7, 3)
      .queryExecution.executedPlan.toString
    for ((p, n) <- Seq((sPlan, "d9"), (mPlan, "m6")))
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$n wide candidates degenerated:\n${p.take(800)}")
  }

  test("d29 collision_rows is exactly the d9 band join's output volume") {
    // the audit's closed-form Σ C(s,2) must equal what the candidate
    // equi-join actually emits — the invariant that makes d29 a
    // trustworthy price tag for d9
    val audit = Dedup.bandOccupancyAudit(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(audit.map(_._1).toSeq == Seq(0L, 1L, 2L, 3L), "one row per band")
    val sigs = Dedup.simhashSignatures(spark, sf).cache()
    try {
      val emitted = Dedup.simhashCandidates(sigs).count()
      assert(audit.map(_._4).sum == emitted,
        s"closed form ${audit.map(_._4).sum} != emitted $emitted")
    } finally { sigs.unpersist(); () }
    val n = graft.sources.Tables.documentsParallel(spark, sf).count()
    audit.foreach { case (band, buckets, maxOcc, _) =>
      assert(buckets <= (1L << 13) && buckets <= n, s"band $band buckets")
      assert(maxOcc >= 1L && maxOcc <= n, s"band $band occupancy")
    }
  }

  test("m15 gradient hash matches the local expression evaluation per doc") {
    val spark2 = spark
    import spark2.implicits._
    val got = Multimodal.gradientHashes(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty)
    val texts = graft.sources.Tables.documentsParallel(spark, sf)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toMap
    got.foreach { case (id, len, gh) =>
      val bytes = texts(id).getBytes("UTF-8")
      assert(len == bytes.length, s"doc $id byte_len")
      assert(gh == graft.expressions.BlockGradientHash.hashBytes(bytes),
        s"doc $id ghash diverges from the local fold")
    }
  }

  test("d26 reports the d9/m6 width derivations from the corpus count") {
    val rows = Dedup.autoConfigReport(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val n = graft.sources.Tables.documentsParallel(spark, sf).count()
    assert(rows("d9_simhash_extra_band_bits") ==
      ((n, Dedup.deriveExtraBandBits(n).toLong)))
    assert(rows("m6_phash_extra_band_bits") ==
      ((n, math.min(Multimodal.MediaExtraBitsCap2,
        Dedup.deriveExtraBandBits(n)).toLong)))
    assert(rows("d9_simhash_extra_band_bits")._2 == 0L,
      "gate corpus must sit below the widening threshold")
  }
}
