package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.sources.Tables

/** Deduplication family over `documents` — the core training-data pipeline
  * operators (BASELINE.json north star):
  *
  *  - d1 exact:       hash-groupBy on a content fingerprint — one shuffle on
  *                    the 128-bit key; survivors = min doc_id per group.
  *  - d2 n-gram Jaccard: exact pairwise similarity via shingle self-join —
  *                    the correctness baseline. O(Σ df²) pairs; at 100 TB
  *                    you run d3 instead and keep d2 for sampled validation.
  *  - d3 MinHash+LSH: shingle → K minhashes → B bands → bucket self-join →
  *                    exact-Jaccard verification of candidates. Linear in
  *                    corpus size + near-dup pair count; the scale path.
  *  - d4 SimHash:     52-bit signature per doc via per-bit token-hash
  *                    majority; near-dups differ in few bits.
  *  - d5 embedding near-dup: exact cosine threshold over all pairs (LSH
  *                    bucketed variant lives in Similarity.annLshTopK).
  */
object Dedup {

  /** Materialize `result` eagerly (localCheckpoint cuts the lineage and
    * stores the — small — result blocks), then release the intermediate
    * caches it was built from. Queries must not leak CacheManager entries
    * across invocations: Bench runs every query twice per round and a
    * long-lived session would otherwise accumulate memory/disk pressure.
    * A checkpointed frame's `explain` is one `Scan ExistingRDD` line; to
    * inspect the live plan, call the query with `release = false`.
    */
  private[graft] def materializeAndRelease(result: DataFrame,
                                           caches: DataFrame*): DataFrame = {
    val out = result.localCheckpoint()
    caches.foreach(_.unpersist())
    out
  }

  /** Align a frame to its bucket spec before a bucketed write (r16,
    * guide §6): hash-repartition on the bucket column(s) with
    * numPartitions = buckets — the same murmur3-pmod assignment
    * saveAsTable's bucketing uses — so each write task holds exactly one
    * bucket and emits exactly ONE file. Without it every writing task
    * emits a file per bucket it touches — tasks × buckets tiny files per
    * table (measured: d28's `_cfull` at sf0.1 was **1,024 files for
    * 3.2 MiB**, and every probe re-opened all of them; the probe's scan
    * time was dominated by per-file open/footer overhead, §6's
    * small-files trap inside the index layout). One bounded exchange at
    * BUILD time buys every probe a `buckets`-file scan. The cost is the
    * other side of the same choice: each write emits exactly one file per
    * bucket, of unbounded size, and write parallelism is capped at
    * `buckets` (a hot bucket key is one straggler task writing one large
    * file). Nothing here targets a file size; at production scale the
    * caller must size `buckets` to the corpus to keep files near the §6
    * 128 MB–1 GB range.
    */
  private[graft] def bucketAligned(df: DataFrame, buckets: Int,
                                   cols: String*): DataFrame =
    df.repartition(buckets, cols.map(col): _*)

  /** d1: exact dedup — groups by normalized-content fingerprint, keeps the
    * smallest doc_id (deterministic survivor rule), reports group size.
    */
  def exactDedupGroups(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documentsParallel(spark, dir)
    d.select(col("doc_id"), fingerprint(col("text")).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("survivor_id"), count(lit(1)).cast("long").as("n_copies"))
      .select(col("survivor_id"), col("n_copies"))
      .orderBy(col("survivor_id"))
  }

  /** d20: aggressively-normalized exact dedup — the C4/Dolma-style dedup
    * key one notch fuzzier than d1: lowercase, EVERY non-letter run
    * (digits, punctuation, whitespace) collapsed to a single space, then
    * trimmed. Catches the duplicates exact fingerprints structurally miss
    * (re-punctuated copies, timestamp/byline variants, "1,000" vs "1000")
    * without any pair machinery — still one hash-groupBy, so it runs at
    * d1's cost at any corpus size. `n_exact_variants` counts the distinct
    * d1 fingerprints inside each normalized group: > 1 is exactly the
    * fuzz this key buys over d1.
    */
  def normalizedDedupGroups(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documentsParallel(spark, dir)
    d.select(col("doc_id"), fingerprint(col("text")).as("fp_exact"),
        md5(trim(regexp_replace(lower(col("text")), "[^a-z]+", " "))).as("fp_norm"))
      .groupBy(col("fp_norm"))
      .agg(min(col("doc_id")).as("survivor_id"),
        count(lit(1)).cast("long").as("n_copies"),
        countDistinct(col("fp_exact")).cast("long").as("n_exact_variants"))
      .select(col("survivor_id"), col("n_copies"), col("n_exact_variants"))
      .orderBy(col("survivor_id"))
  }

  /** Distinct word-3-gram shingles per doc, as 64-bit xxhash values: all
    * downstream work (document-frequency counts, prefix joins, signature
    * hashing, array_intersect verification) shuffles and compares 8-byte
    * longs instead of ~20-byte strings. Collisions alter Jaccard with
    * probability ~|corpus shingles|²/2⁶⁴ — negligible, and the DuckDB
    * oracle (string-based) pins it in practice. Tokens are staged as their
    * own projection so the regex split runs once per document (see
    * [[graft.functions.TextFunctions.shinglesOfTokens]]).
    */
  /** The shingle pipeline over ANY (doc_id, text) frame — shared by the
    * directory-based batch form and the per-micro-batch streaming form.
    */
  private[operators] def shinglesOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), shinglesOfTokens(col("toks")).as("sh_str"))
      .select(col("doc_id"),
        transform(col("sh_str"), s => xxhash64(s)).as("sh"))

  private[graft] def docShingles(spark: SparkSession, dir: String): DataFrame =
    shinglesOf(Tables.documentsParallel(spark, dir))

  /** d2: exact n-gram Jaccard near-dup pairs (j >= threshold), via
    * prefix-filtered similarity join (AllPairs/PPJoin): under any fixed
    * total order on shingles, two docs with j >= τ must share a shingle
    * within the first ⌊(1-τ)·|doc|⌋+1 shingles of BOTH docs. Ordering by
    * ascending document frequency makes those prefixes the *rarest*
    * shingles, so the candidate join touches a small, low-skew subset
    * (~(1-τ)² of the naive pair count) — this is what makes an exact
    * similarity self-join viable at 100 TB. Candidates are then verified
    * with an exact array_intersect Jaccard; output equals the naive
    * all-pairs algorithm ([[ngramJaccardPairsNaive]], asserted in tests).
    */
  def ngramJaccardPairs(spark: SparkSession, dir: String,
                        threshold: Double = 0.8,
                        release: Boolean = true): DataFrame = {
    val (docs, prefix, candidates) = ngramCandidates(spark, dir, threshold)

    val verified = candidates
      .join(docs.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(docs.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("shared", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        col("shared").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("shared")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
    if (release) materializeAndRelease(verified, docs, prefix) else verified
  }

  /** Shared d2/d24 candidate stage: the prefix-filtered (AllPairs)
    * candidate pairs at `threshold`, plus the two caches — shingled docs
    * and exploded prefix — the caller must release.
    */
  private[graft] def ngramCandidates(spark: SparkSession, dir: String,
      threshold: Double): (DataFrame, DataFrame, DataFrame) =
    ngramCandidatesOf(docShingles(spark, dir).cache(), threshold)

  /** [[ngramCandidates]] over a caller-supplied shingled corpus
    * `(doc_id, sh)` — the subset form composition stages need (r13:
    * t34's near-dup stage runs the same exact PPJoin over the docs that
    * survived its upstream gates). `docs` should already be cached; it
    * is returned as the triple's first element for the caller to
    * release.
    */
  private[graft] def ngramCandidatesOf(docs: DataFrame,
      threshold: Double): (DataFrame, DataFrame, DataFrame) = {
    val ds = docs.select(col("doc_id"), explode(col("sh")).as("s"))

    // global shingle order: (document frequency asc, shingle) — rare first
    val dfreq = ds.groupBy(col("s")).agg(count(lit(1)).as("df"))

    // per-doc prefix of size floor((1-τ)·n)+1 under that order (hash-agg
    // collect + in-array sort beats two window sort passes here); each
    // prefix row carries the doc's shingle count for the length filter
    val prefix = ds.join(dfreq, "s")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("s")))).as("ordered"))
      .select(col("doc_id"), size(col("ordered")).as("n"),
        // prefix length ⌊(1-τ)·n⌋+1, with an epsilon nudge before the
        // floor: (1-τ) is not exact in binary (1.0-0.8 =
        // 0.19999999999999996), so whenever (1-τ)·n is an exact integer
        // the raw product lands just BELOW it and the cast-floor drops
        // the final prefix position — precisely the boundary where a
        // j == τ pair's only shared rare shingle can sit (caught by an
        // off-gate sf0.1 oracle sweep in r6: pair (1568, 2466), j = 0.8
        // exactly, missed). 1e-9 is orders above the float error
        // (~1e-11 at n = 10^6) and orders below any genuine fractional
        // part of (1-τ)·n.
        posexplode(slice(transform(col("ordered"), e => e.getField("s")), lit(1),
          (size(col("ordered")).cast("double") * (1.0 - threshold) + 1e-9)
            .cast("int") + 1)).as(Seq("i", "s")))
      .cache()

    // length filter (AllPairs): j >= τ forces |A∩B| >= τ·max(|A|,|B|) and
    // |A∩B| <= min(|A|,|B|), so set sizes must be within factor τ — that
    // alone cuts the candidate set several-fold on length-varied corpora
    // the epsilon mirrors the prefix-length nudge: n·τ computes a hair
    // ABOVE the exact product (0.8 rounds up in binary), which would
    // wrongly prune |B| = τ·|A| exactly — the max-jaccard-equals-τ pairs
    //
    // POSITIONAL filter (PPJoin, r9 — d17's `:500-525` argument applied
    // to the symmetric join): a shingle matched at 0-based positions
    // (i, j) of the two rare-first-sorted prefixes bounds the overlap
    // from above by min(n_a − i, n_b − j), because the sort order is the
    // one global (df, s) order so every further common shingle sits
    // AFTER the match in BOTH lists. j >= τ requires overlap >=
    // ⌈τ·(n_a+n_b)/(1+τ)⌉, and for a TRUE pair the pair's EARLIEST
    // common shingle is provably inside both prefixes (overlap >= minOv
    // forces it within the first n − minOv + 1 positions of each side,
    // and minOv >= τ·n on both sides via the length filter, so
    // n − minOv <= (1−τ)·n < prefix length) — keeping pairs whose best
    // observed bound clears the requirement drops NO true pair. What it
    // drops is the boilerplate explosion: matches on common shingles sit
    // near the END of both prefixes, their bound collapses, and the pair
    // dies here as one aggregated row instead of shipping two shingle
    // arrays into the verify join. The ε inside the ceil mirrors d17's:
    // τ/(1+τ)·(n_a+n_b) lands within float error of an exact integer
    // precisely at jaccard == τ pairs, and the raw ceil would then
    // over-require by 1.
    val minOv = ceil((col("a.n") + col("b.n")).cast("double")
      * (threshold / (1.0 + threshold)) - 1e-9)
    val candidates = prefix.as("a")
      .join(prefix.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id") &&
          col("b.n").cast("double") >= col("a.n") * threshold - 1e-9 &&
          col("a.n").cast("double") >= col("b.n") * threshold - 1e-9)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        least(col("a.n") - col("a.i"), col("b.n") - col("b.i")).as("bound"),
        minOv.as("min_ov"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(max(col("bound")).as("best_bound"), first(col("min_ov")).as("min_ov"))
      .filter(col("best_bound") >= col("min_ov"))
      .select(col("id_a"), col("id_b"))
    (docs, prefix, candidates)
  }

  /** The naive all-pairs shingle self-join — the correctness baseline for
    * [[ngramJaccardPairs]]; O(Σ df²) intermediate pairs, test-scale only.
    */
  def ngramJaccardPairsNaive(spark: SparkSession, dir: String,
                             threshold: Double = 0.8): DataFrame = {
    val docs = docShingles(spark, dir).cache()
    val ds = docs.select(col("doc_id"), explode(col("sh")).as("s"))
    val cnt = docs.select(col("doc_id"), size(col("sh")).as("n"))
    val pairs = ds.as("a")
      .join(ds.as("b"), col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("shared"))
    pairs
      .join(cnt.as("ca"), col("id_a") === col("ca.doc_id"))
      .join(cnt.as("cb"), col("id_b") === col("cb.doc_id"))
      .withColumn("jaccard",
        col("shared").cast("double") /
          (col("ca.n") + col("cb.n") - col("shared")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** MinHash parameters: K = Bands × RowsPerBand signature length.
    * P(candidate | j) = 1 - (1 - j^R)^B → at j=0.8: ~0.9997; j=0.3: ~0.06.
    */
  val MinHashK = 32
  val Bands = 8
  val RowsPerBand = 4

  /** d3: MinHash + banded LSH near-dup pairs, candidates verified by exact
    * Jaccard (array_intersect on the cached shingle arrays), so the output
    * contract equals d2's given full recall — misses at j>=0.8 have
    * probability (1-0.8^4)^8 ≈ 3e-4 per pair, and the driver gate's planted
    * near-dups sit at j≈0.99 where miss probability is ~5e-12.
    */
  /** MinHash band keys for a shingled-docs frame: for each of K hash
    * seeds, min over shingles of xxhash64(seed, shingle) — computed per
    * document with higher-order functions, so signature generation is
    * shuffle-free (the explode + double-groupBy formulation moves
    * |shingles|·K rows through an exchange for the identical result) —
    * then one (band, bkey) row per band.
    */
  private def minhashBands(docs: DataFrame): DataFrame = {
    val sigCols = (0 until MinHashK).map { k =>
      array_min(transform(col("sh"), s => xxhash64(lit(k), s)))
    }
    val sig = docs.select(col("doc_id"), array(sigCols: _*).as("sig"))
    // r15 (guide §2.4): the band fan-out is a pure per-row expression —
    // the r14 spelling exploded the band ids and re-attached `sig` with a
    // corpus self-join on doc_id (two Exchanges to align a row with
    // itself). One transform+explode emits the identical (band, bkey)
    // rows with zero shuffles at any corpus size.
    sig
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), lit(Bands - 1)), b =>
          struct(b.as("band"),
            hash(b, slice(col("sig"), b * RowsPerBand + 1,
              lit(RowsPerBand))).as("bkey")))).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"),
        col("bb.bkey").as("bkey"))
  }

  def minhashLshPairs(spark: SparkSession, dir: String,
                      threshold: Double = 0.8,
                      release: Boolean = true): DataFrame = {
    val docs = docShingles(spark, dir).cache()
    val bands = minhashBands(docs)

    val candidates = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()

    // verify candidates with exact Jaccard on the shingle arrays
    val verified = candidates
      .join(docs.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(docs.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("shared", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        col("shared").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("shared")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
    if (release) materializeAndRelease(verified, docs) else verified
  }

  /** d6: near-dup clusters + surviving corpus — the user-facing dedup.
    * Connected components over the near-dup pair graph via iterative
    * min-label propagation (each round joins labels across edges and takes
    * the min; rounds needed = graph diameter, ≤ `maxIters`; near-dup
    * clusters are near-cliques so 2-3 rounds close them). Survivor = min
    * doc_id per component; every other member maps to it.
    * Label propagation is the scalable DataFrame-native form of
    * union-find: each round is one join + one groupBy, no driver state.
    */
  def nearDupClusters(spark: SparkSession, dir: String,
                      threshold: Double = 0.8, maxIters: Int = 100): DataFrame = {
    val pairs = minhashLshPairs(spark, dir, threshold)
      .select(col("id_a"), col("id_b")).cache()
    val result = connectedComponents(pairs, maxIters)
      .withColumnRenamed("node", "doc_id")
      .withColumnRenamed("root", "cluster_root")
      .orderBy(col("doc_id"))
    materializeAndRelease(result, pairs)
  }

  /** d25: near-dup cluster-size distribution — the "how duplicated is
    * this corpus" summary a curation review reads before trusting d7's
    * survivor pass: one row per observed cluster size with the number of
    * clusters and documents at that size. Web crawls are Zipfian here
    * (many pairs, a fat tail of template families); a spike at a large
    * size is the signature of boilerplate chaining (see d22 for the
    * per-cluster forensics). Singleton documents never enter the pair
    * graph, so sizes start at 2 — the size-1 row would be |corpus| minus
    * covered docs, derivable from d23's totals.
    *
    * Scale shape: rides the SAME d3 pair scan + connected components d6
    * uses; past the cluster labels it is two key-grouped aggregations on
    * cluster-count-sized data — nothing touches the corpus again.
    */
  def clusterSizeDistribution(spark: SparkSession, dir: String,
                              threshold: Double = 0.8): DataFrame =
    nearDupClusters(spark, dir, threshold)
      .groupBy(col("cluster_root"))
      .agg(count(lit(1)).cast("long").as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).cast("long").as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).cast("long").as("n_docs"))
      .orderBy(col("cluster_size"))

  /** d26: the auto-sizing configuration report — every sizing parameter
    * the registered surface derives from corpus statistics, with the
    * statistic it was derived from: d5's hyperplane band bits
    * ([[deriveBandBits]]), the s2-family LSH bucket bits
    * ([[graft.operators.Similarity.deriveLshBits]]), and s3/d14's IVF
    * sub-bucket bits ([[graft.operators.Similarity.deriveSubBits]]).
    * This is the "what would this corpus be configured as" answer an
    * operator reads before a run — and the twin replays each formula
    * from the same counts, so drift between the derivations and their
    * documentation is caught by the correctness gate itself, alongside
    * the gate-scale coupling tests. Since r11 the report also covers the
    * streaming family's dials: `st_watermark_delay_us`
    * ([[graft.streaming.Events.deriveWatermarkDelayUs]] — the GLOBAL
    * maximum lateness under event_id arrival plus its one-tick margin,
    * r12) and `st_shuffle_partitions`
    * ([[graft.streaming.Events.deriveStatefulShufflePartitions]] over the
    * busiest 70-minute click+purchase horizon — the state-volume
    * partition sizing the r11 st10 control measured, r12), and
    * `st9_funnel_partitions` (the same clamp over
    * [[graft.streaming.Events.funnelStateHorizonKeys]] — the funnel's
    * busiest adjacent-2-day key count, promoted from an ad-hoc
    * derivation in r13 so every streaming query's sizing input is a
    * replayed row). Empty corpus → each parameter's documented floor
    * (3 / 8 / 0 / 1 µs / 1 partition / 1 partition), never an error. The one derived dial deliberately NOT a report row
    * is [[graft.streaming.Events.deriveFileArrivalDelayUs]]: it derives
    * from DELIVERY state (part-file mtimes), not corpus statistics, so
    * the DuckDB twin — which replays corpus formulas — cannot observe
    * its inputs; the twins take the max of both dials at query build.
    *
    * Cross-engine note: `math.round` is floor(x + 0.5) (half toward +∞)
    * while SQL `round` is half away from zero — they differ on negative
    * halves, so the twin spells the derivations with floor(x + 0.5).
    */
  def autoConfigReport(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val stats = Tables.embeddings(spark, dir)
      .agg(count(lit(1)), countDistinct(col("label"))).collect()(0)
    val (nEmb, nLab) = (stats.getLong(0), stats.getLong(1))
    val nDocs = Tables.documentsParallel(spark, dir).count().max(1L)
    Seq(
      ("d5_emb_band_bits", nEmb, deriveBandBits(nEmb.max(1L)).toLong),
      ("s2_lsh_bucket_bits", nEmb, Similarity.deriveLshBits(nEmb).toLong),
      ("s3_ivf_sub_bits", nEmb, Similarity.deriveSubBits(nEmb, nLab).toLong),
      ("d9_simhash_extra_band_bits", nDocs,
        deriveExtraBandBits(nDocs).toLong),
      ("m6_phash_extra_band_bits", nDocs,
        math.min(graft.multimodal.Multimodal.MediaExtraBitsCap2,
          deriveExtraBandBits(nDocs)).toLong),
      ("st_watermark_delay_us",
        Tables.events(spark, dir).count(),
        graft.streaming.Events.deriveWatermarkDelayUs(spark, dir)), {
        val h = graft.streaming.Events.attributionStateHorizonRows(spark, dir)
        ("st_shuffle_partitions", h,
          graft.streaming.Events.deriveStatefulShufflePartitions(h).toLong)
      }, {
        val k = graft.streaming.Events.funnelStateHorizonKeys(spark, dir)
        ("st9_funnel_partitions", k,
          graft.streaming.Events.deriveStatefulShufflePartitions(k).toLong)
      })
      .toDF("param", "input_n", "derived_value")
      .orderBy(col("param"))
  }

  /** After this many one-hop rounds without convergence, each further round
    * ALSO pointer-jumps (root := root-of-root), doubling the propagated
    * distance per round — total rounds O([[PointerJumpAfter]] + log
    * diameter) instead of O(diameter). Near-dup clusters are near-cliques
    * that close in 2-3 one-hop rounds and never reach the threshold; the
    * jump join only prices in on pathological high-diameter components
    * (a duplicated serial document chain), exactly where it wins.
    */
  val PointerJumpAfter = 4

  /** Connected components over an undirected pair list `(id_a, id_b)` —
    * min-label propagation, the scalable DataFrame-native form of
    * union-find: each round is one join + one groupBy, no driver state.
    * Returns `(node, root)` for every node appearing in `pairs`, where
    * `root` is the least node id of its component.
    *
    * Each round's labels are localCheckpoint'ed (eager): the new labels
    * reference the old ones TWICE (union + join), so a cache alone keeps
    * a logical plan that doubles per round — at graph diameter d the
    * analyzer/AQE would walk a 2^d-node tree (a 14-hop chain OOMed on
    * plan stringification alone). Checkpointing truncates the plan to the
    * materialized blocks, keeping every round's analysis O(1). (Pointer
    * jumping from round 0 was measured 6× slower on real near-dup
    * graphs — the extra self-join buys nothing at diameter 2-3 — so it
    * arms only past [[PointerJumpAfter]] rounds.)
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 100,
                          jumpAfter: Int = PointerJumpAfter): DataFrame = {
    // undirected edge list, both directions
    val edges = pairs
      .select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .cache()
    // seed with the first propagation round for free: root₀ =
    // min(self, neighbors) — one aggregate instead of a join round
    var labels = edges.groupBy(col("src"))
      .agg(min(col("dst")).as("min_nbr"))
      .select(col("src").as("node"),
        least(col("src"), col("min_nbr")).as("root"))
      .localCheckpoint()
    var iter = 0
    var converged = false
    var prevSum = Long.MaxValue
    // loop to convergence — `maxIters` is only a runaway safety net, and
    // hitting it is an error rather than a silently-wrong clustering
    while (!converged) {
      if (iter >= maxIters)
        throw new IllegalStateException(
          s"connectedComponents: label propagation not converged after $maxIters rounds " +
            "(graph diameter exceeds the safety cap)")
      val viaNeighbor = edges
        .join(labels.select(col("node").as("dst"), col("root").as("nroot")), "dst")
        .select(col("src").as("node"), col("nroot").as("root"))
      // past the threshold, add the pointer-jump term: root-of-root
      // (roots are always node ids, so the inner self-join is total).
      // min(one-hop, jump) keeps the same monotone-decreasing labels, and
      // the jump halves the remaining diameter every round
      val contributions =
        if (iter < jumpAfter) labels.union(viaNeighbor)
        else {
          val jumped = labels.as("x")
            .join(labels.select(col("node").as("r_node"), col("root").as("rroot")),
              col("x.root") === col("r_node"))
            .select(col("x.node").as("node"), col("rroot").as("root"))
          labels.union(viaNeighbor).union(jumped)
        }
      val updated = contributions
        .groupBy(col("node")).agg(min(col("root")).as("root"))
        .localCheckpoint() // eager: materializes now, lineage cut
      // convergence check without a self-join: per-node min labels only ever
      // decrease, so Σroot is strictly monotone until the fixed point
      val curSum = updated.agg(coalesce(sum(col("root")), lit(0L)))
        .collect()(0).getLong(0)
      labels = updated // previous rounds' blocks are freed on GC
      converged = curSum == prevSum
      prevSum = curSum
      iter += 1
    }
    // release the FINAL round's checkpoint blocks too, not just edges —
    // otherwise they linger until ContextCleaner GC
    materializeAndRelease(labels.select(col("node"), col("root")), labels, edges)
  }

  /** d7: the deduplicated corpus — drop every non-root member of a
    * near-dup cluster, keep everything else.
    */
  def dedupedCorpus(spark: SparkSession, dir: String,
                    threshold: Double = 0.8): DataFrame = {
    val clusters = nearDupClusters(spark, dir, threshold)
    val losers = clusters.filter(col("doc_id") =!= col("cluster_root"))
      .select(col("doc_id"))
    Tables.documents(spark, dir)
      .join(losers, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** d23: effective-token report — the one-row "what did dedup buy us"
    * summary a curation run publishes: document and TOKEN counts before
    * and after near-dup pruning (d6 clusters, min-id survivors — d7's
    * rule), with kept fractions. Token-weighted shrinkage is the number
    * that matters for a training budget (dropping 10% of docs that carry
    * 30% of tokens is a very different corpus), and the gap between
    * doc_kept_frac and token_kept_frac says whether duplication
    * concentrates in long or short documents.
    *
    * Cost on top of the d6 cluster build: one (doc_id)-keyed join of the
    * loser set against a map-side token count, then a single global
    * aggregate — no new pair work anywhere.
    */
  def effectiveTokens(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documentsParallel(spark, dir)
      .select(col("doc_id"), tokenCount(col("text")).as("n_tokens"))
    val losers = nearDupClusters(spark, dir)
      .filter(col("doc_id") =!= col("cluster_root"))
      .select(col("doc_id"), lit(1).as("lost"))
    toks.join(losers, Seq("doc_id"), "left")
      .agg(
        count(lit(1)).cast("long").as("n_docs"),
        coalesce(sum(when(col("lost").isNull, 1L).otherwise(0L)), lit(0L))
          .cast("long").as("n_docs_kept"),
        coalesce(sum(col("n_tokens")), lit(0L)).cast("long").as("n_tokens"),
        coalesce(sum(when(col("lost").isNull, col("n_tokens")).otherwise(0L)),
          lit(0L)).cast("long").as("n_tokens_kept"))
      .select(col("n_docs"), col("n_docs_kept"), col("n_tokens"),
        col("n_tokens_kept"),
        round(col("n_docs_kept").cast("double") /
          greatest(col("n_docs"), lit(1L)) + 1e-9, 6).as("doc_kept_frac"),
        round(col("n_tokens_kept").cast("double") /
          greatest(col("n_tokens"), lit(1L)) + 1e-9, 6).as("token_kept_frac"))
  }

  /** d17: containment near-dup pairs — `|A∩B| / min(|A|,|B|) >= threshold`
    * over the word-trigram shingle sets. Containment catches the near-SUBSET
    * duplicates Jaccard structurally cannot: a page whose article body is
    * verbatim inside a larger boilerplate-wrapped page has Jaccard
    * |A|/|B| (arbitrarily low as the wrapper grows) but containment 1.0 —
    * the dominant duplication mode in web crawls (same article syndicated
    * under different chrome). d2 and d17 are therefore complementary
    * registered surfaces, not variants of one query.
    *
    * Exact join, PPJoin-style but ASYMMETRIC: the Jaccard length filter is
    * unavailable by design (any size ratio is admissible), so the prefix
    * filter leans on one side only. For the pair's SMALLER set S, overlap
    * >= ⌈τ·|S|⌉ forces at least one of S's `|S| - ⌈τ·|S|⌉ + 1` rarest
    * shingles (global rare-first order, like d2) to occur in the partner —
    * so candidates = prefix(smaller) ⋈ allShingles(larger), an equi join
    * whose per-key fan-out is bounded by the document frequency of RARE
    * shingles. Candidates are verified with exact array_intersect
    * containment. At 100 TB this scales with Σ_{s∈prefixes} df(s) — the
    * prefix's rare-first ordering is what keeps that sum near-linear.
    * This registered form stays RECOMPUTE-TRUE (the soak's full-pass
    * anchor); d19's audit, whose integrand is exactly this pass's
    * output, rides one session materialization of it instead
    * ([[containmentPairsShared]]).
    */
  def containmentPairs(spark: SparkSession, dir: String,
                       threshold: Double = 0.8,
                       release: Boolean = true): DataFrame = {
    val (verified, caches) = containmentVerified(spark, dir, threshold)
    val out = verified
      .filter(col("containment") >= threshold)
      .select(least(col("id_s"), col("id_l")).as("id_a"),
        greatest(col("id_s"), col("id_l")).as("id_b"),
        round(col("containment"), 4).as("containment"))
      .orderBy(col("id_a"), col("id_b"))
    if (release) materializeAndRelease(out, caches: _*) else out
  }

  /** d19: the jaccard-vs-containment dedup audit — the report that
    * justifies running BOTH d2 and d17: per relation class
    * (`both` = the pair clears the Jaccard threshold too,
    * `containment_only` = the near-subset pairs Jaccard structurally
    * misses), the pair count and the average of each raw metric. The
    * `containment_only` row's `avg_jaccard` is the number that matters
    * operationally: how far below the Jaccard radar the wrapper-page
    * duplicates fly.
    *
    * One pass: candidates come from [[containmentVerified]], whose
    * prefix-filter recall at containment ≥ τ covers Jaccard ≥ τ for free
    * (jaccard ≤ containment always, since the union is at least the
    * smaller set). In a session that also runs d17 the pass is paid
    * ONCE — both surfaces consume [[containmentPairsShared]]'s one
    * materialization (r14 verdict: d19 re-deriving d17's pair scan made
    * it the most expensive 100× soak row; now the audit is d17's cost
    * only when it runs ALONE, a 2-row aggregation when it doesn't).
    */
  def dedupAudit(spark: SparkSession, dir: String,
                 threshold: Double = 0.8, release: Boolean = true): DataFrame = {
    def shape(passed: DataFrame) = passed
      .withColumn("relation",
        when(col("jaccard") >= threshold, lit("both"))
          .otherwise(lit("containment_only")))
      .groupBy(col("relation"))
      .agg(count(lit(1)).cast("long").as("n_pairs"),
        round(avg(col("jaccard")) + 1e-9, 4).as("avg_jaccard"),
        round(avg(col("containment")) + 1e-9, 4).as("avg_containment"))
      .orderBy(col("relation"))
    if (release) shape(containmentPairsShared(spark, dir, threshold))
    else {
      val (verified, _) = containmentVerified(spark, dir, threshold)
      shape(verified.filter(col("containment") >= threshold))
    }
  }

  /** The ONE session materialization of d17's verified pair pass that
    * d19 (and any further pair consumer) aggregates, memoized per
    * (application, dir, threshold) via [[IndexMemo]]: the pairs at
    * containment ≥ τ with BOTH raw metrics, written NARROW (ids +
    * metrics — never the shingle arrays) as a warehouse TABLE. The audit
    * is exactly this pass plus a 2-row aggregation, so re-deriving the
    * pass per consumer doubles the round's most expensive dedup cost for
    * nothing (the r14 soak: d19 at 126 s RE-DERIVING what d17's 123 s
    * had just computed); with the memo a session pays the corpus-sized
    * work once and every further consumer re-aggregates a
    * true-pair-mass-sized table — KBs at gate scale, MBs at 100×. A
    * table, NOT a session cache: the bench's per-query hygiene sweep
    * unpersists every RDD between queries, which would strand a
    * localCheckpointed memo (truncated lineage, unrecoverable blocks);
    * parquet in the warehouse survives the sweep exactly as the five
    * persisted index families do. d17's own registered form does NOT
    * read it — the report stays the suite's recompute-true anchor.
    */
  private def containmentPairsShared(spark: SparkSession, dir: String,
                                     threshold: Double): DataFrame = {
    val prefix = IndexMemo.ensure(
      spark.sparkContext.applicationId, "d17d19", s"$dir#$threshold") { p =>
      // pre-drop table AND location (the dropIvfTables discipline): a
      // previous JVM's memo leaves its warehouse directory behind, and
      // saveAsTable refuses a managed-table location that already
      // exists even under overwrite (LOCATION_ALREADY_EXISTS)
      spark.sql(s"DROP TABLE IF EXISTS `${p}_vpairs`")
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"),
        s"${p}_vpairs".toLowerCase)
      loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(loc, true)
      val (verified, caches) = containmentVerified(spark, dir, threshold)
      verified.filter(col("containment") >= threshold)
        .select(col("id_s"), col("id_l"),
          col("containment"), col("jaccard"))
        .write.mode("overwrite").saveAsTable(s"${p}_vpairs")
      caches.foreach(_.unpersist())
    }
    spark.table(s"${prefix}_vpairs")
  }

  /** d27: INCREMENTAL containment dedup — d17's asymmetric prefix join
    * in d11's production ingest shape: an arriving batch (odd doc_ids
    * stand in) is checked for near-SUBSET duplication against the corpus
    * (even), and corpus×corpus pairs are NEVER formed — each candidate
    * join keeps one side batch-bounded, so per-batch cost is
    * O(batch + collisions) at any corpus size. Because containment is
    * asymmetric (either side may be the pair's smaller set), the probe
    * runs BOTH ways: prefix(batch) ⋈ shingles(corpus) catches batch docs
    * buried inside corpus pages, prefix(corpus) ⋈ shingles(batch)
    * catches corpus docs buried inside new arrivals — in production the
    * corpus prefix/shingle frames are the persisted index
    * ([[persistCorpusBandIndex]]'s layout family) and the df order is
    * read from it. Same positional filter, verify, threshold and ε pins
    * as d17; output is (batch_id, corpus_id) oriented like d11.
    */
  /** @param batchFilter which documents form the arriving batch (must
    *        select a subset of the ODD ids so the parity-based output
    *        orientation holds). Default: the full odd half — the
    *        test-parity split shared with d11/d28.
    */
  def incrementalContainmentDedup(spark: SparkSession, dir: String,
                                  threshold: Double = 0.8,
                                  release: Boolean = true,
                                  batchFilter: org.apache.spark.sql.Column =
                                    col("doc_id") % 2 =!= 0): DataFrame = {
    val (verified, caches) =
      incrementalContainmentVerified(spark, dir, threshold, batchFilter)
    val result = verified
      .filter(col("containment") >= threshold)
      .select(
        when(col("id_s") % 2 =!= 0, col("id_s")).otherwise(col("id_l"))
          .as("batch_id"),
        when(col("id_s") % 2 === 0, col("id_s")).otherwise(col("id_l"))
          .as("corpus_id"),
        round(col("containment"), 4).as("containment"))
      .orderBy(col("batch_id"), col("corpus_id"))
    if (release) materializeAndRelease(result, caches: _*) else result
  }

  /** d27's candidate generation + exact verification, split out like
    * [[containmentVerified]]. Returns every surviving candidate with its
    * raw `containment` plus the caches to release;
    * [[incrementalContainmentDedup]] filters and shapes.
    */
  private def incrementalContainmentVerified(
      spark: SparkSession, dir: String,
      threshold: Double,
      batchFilter: org.apache.spark.sql.Column =
        col("doc_id") % 2 =!= 0): (DataFrame, Seq[DataFrame]) = {
    val docs = docShingles(spark, dir).cache()
    val ds = docs.select(col("doc_id"), explode(col("sh")).as("s"))
    val dfreq = ds.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val ordered = ds.join(dfreq, "s")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("s")))).as("ordered"))
      .select(col("doc_id"), size(col("ordered")).as("n"),
        transform(col("ordered"), e => e.getField("s")).as("shs"))
      .cache()
    val prefix = ordered.select(col("doc_id"), col("n"),
      posexplode(slice(col("shs"), lit(1),
        (col("n") - ceil(col("n").cast("double") * threshold - 1e-9) + 1)
          .cast("int"))).as(Seq("i", "s")))
    val full = ordered.select(col("doc_id"), col("n"),
      posexplode(col("shs")).as(Seq("j", "s")))
    def batchSide(df: DataFrame) = df.filter(batchFilter)
    def corpusSide(df: DataFrame) = df.filter(col("doc_id") % 2 === 0)
    val minOv = ceil(col("a.n").cast("double") * threshold - 1e-9)
    def cross(pref: DataFrame, fl: DataFrame): DataFrame =
      pref.as("a").join(fl.as("b"),
          col("a.s") === col("b.s") &&
            (col("a.n") < col("b.n") ||
              (col("a.n") === col("b.n") && col("a.doc_id") < col("b.doc_id"))))
        .select(col("a.doc_id").as("id_s"), col("b.doc_id").as("id_l"),
          least(col("a.n") - col("a.i"), col("b.n") - col("b.j")).as("bound"),
          minOv.as("min_ov"))
    val candidates = cross(batchSide(prefix), corpusSide(full))
      .unionAll(cross(corpusSide(prefix), batchSide(full)))
      .groupBy(col("id_s"), col("id_l"))
      .agg(max(col("bound")).as("best_bound"), first(col("min_ov")).as("min_ov"))
      .filter(col("best_bound") >= col("min_ov"))
      .select(col("id_s"), col("id_l"))
    val verified = candidates
      .join(docs.select(col("doc_id").as("id_s"), col("sh").as("sh_s")), "id_s")
      .join(docs.select(col("doc_id").as("id_l"), col("sh").as("sh_l")), "id_l")
      .withColumn("shared", size(array_intersect(col("sh_s"), col("sh_l"))))
      .withColumn("containment",
        col("shared").cast("double") /
          least(size(col("sh_s")), size(col("sh_l"))).cast("double"))
    (verified, Seq(docs, ordered))
  }

  /** Persist the corpus CONTAINMENT index — d27's corpus-side frames as
    * bucketed tables, the [[persistCorpusBandIndex]] layout family
    * applied to the asymmetric-containment probe (the production shape
    * d27's scaladoc names):
    *
    *   - `<prefix>_cdocs`  `(doc_id, sh)`      bucketed by `doc_id` — the
    *     verify join's corpus side
    *   - `<prefix>_cdf`    `(s, df)`           bucketed by `s` — the
    *     rare-first ORDER, frozen at index-build time
    *   - `<prefix>_cfull`  `(doc_id, n, j, s)` bucketed by `s` — every
    *     corpus shingle at its 0-based position in that order
    *
    * The df order is computed over the CORPUS ONLY (a production index
    * cannot know future batches); a batch shingle unseen in the corpus
    * takes df 0 — rarer than everything indexed, the right prior for an
    * unseen n-gram. The prefix theorem and the PPJoin positional bound
    * require only that ONE total order be applied consistently to both
    * sides, so the probe's output is IDENTICAL to d27's (whose order uses
    * combined df): both emit exactly the pairs whose verified containment
    * clears τ (asserted in Round10Spec). No corpus prefix table exists:
    * the prefix is the `j < n − ⌈τ·n⌉ + 1` filter on `_cfull`, so one
    * table serves both probe directions at ANY τ.
    */
  def persistContainmentIndex(spark: SparkSession, dir: String,
                              prefix: String = "containment_index",
                              buckets: Int = 32,
                              corpusFilter: org.apache.spark.sql.Column =
                                col("doc_id") % 2 === 0): Unit = {
    dropIndexTables(spark, prefix)
    bucketAligned(docShingles(spark, dir).filter(corpusFilter), buckets, "doc_id")
      .write.bucketBy(buckets, "doc_id").sortBy("doc_id")
      .mode("overwrite").saveAsTable(s"${prefix}_cdocs")
    deriveIndexFromCdocs(spark, prefix, buckets)
  }

  /** Drop + physically delete the three index tables under `prefix`. */
  private[graft] def dropIndexTables(spark: SparkSession, prefix: String): Unit =
    Seq(s"${prefix}_cdocs", s"${prefix}_cdf", s"${prefix}_cfull").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS `$t`")
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), t.toLowerCase)
      loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(loc, true)
    }

  /** Derive `_cdf` (fresh df order) and `_cfull` (every shingle at its
    * position under that order) from an already-written `_cdocs` — one
    * corpus shingle pass total, reading bucketed files. Shared by the
    * initial build and [[rebuildContainmentIndexTo]].
    */
  private def deriveIndexFromCdocs(spark: SparkSession, prefix: String,
                                   buckets: Int): Unit = {
    val ds = spark.table(s"${prefix}_cdocs")
      .select(col("doc_id"), explode(col("sh")).as("s"))
    bucketAligned(ds.groupBy(col("s")).agg(count(lit(1)).as("df")), buckets, "s")
      .write.bucketBy(buckets, "s").sortBy("s")
      .mode("overwrite").saveAsTable(s"${prefix}_cdf")
    bucketAligned(ds.join(spark.table(s"${prefix}_cdf"), "s")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("s")))).as("ordered"))
      .select(col("doc_id"), size(col("ordered")).as("n"),
        posexplode(transform(col("ordered"), e => e.getField("s")))
          .as(Seq("j", "s"))), buckets, "s")
      .write.bucketBy(buckets, "s").sortBy("s")
      .mode("overwrite").saveAsTable(s"${prefix}_cfull")
  }

  /** Fold an accepted batch into the persisted containment index — the
    * d11/d12 lifecycle applied to d28: a production incremental pipeline
    * admits batch survivors into the corpus, and without an append every
    * corpus change would force a full index rebuild.
    *
    * df-order policy: FROZEN at build time. `_cdf` is not a live
    * statistic — it is the DEFINITION of the index's total shingle order
    * (df asc, shingle), immutable after build: appended docs adopt it
    * through the same left-join-default-0 lookup every batch probe uses
    * (a shingle unseen at build is df 0, rarer than everything indexed),
    * so built rows, appended rows, and probing batches all sort by ONE
    * consistent total order. The prefix theorem and the PPJoin positional
    * bound need exactly that and nothing more (the Round10Spec argument:
    * any ONE consistent order preserves the verified pair set), so the
    * post-append probe's output is IDENTICAL to a fresh rebuild's even
    * though a rebuild re-derives df over the larger corpus — different
    * candidate sets, same exact-verify survivors (asserted in
    * StorageLayoutSpec). What freezing trades away is only prefix
    * SELECTIVITY drift: as the corpus grows, build-time df ranks the
    * rare-shingle prefix less precisely and the candidate set can widen;
    * the remedy is a periodic rebuild, not a refreshed order — refreshing
    * df on append would reposition every `_cfull` row, O(index) per
    * batch, the exact cost the index exists to avoid.
    *
    * Mechanics: appended rows land as NEW bucket files under the same
    * bucket spec (`saveAsTable` append refuses a mismatched spec), so
    * every probe join stays exchange-free on the corpus side; `buckets`
    * must match the build. Re-appending an id the index already holds
    * would silently double its shingles — refused up front.
    *
    * Crash discipline (r11 ADVICE): the two appends cannot be one atomic
    * commit, so the write ORDER makes `_cdocs` the commit marker —
    * `_cfull` lands first, `_cdocs` second. A crash in the window leaves
    * ids with `_cfull` rows but no `_cdocs` registration; their candidate
    * pairs then drop at the verify join (same silent-miss class either
    * order has), but because the duplicate guard keys on the COMMIT
    * marker, the retry is not refused — and EVERY append first retracts
    * ALL unregistered `_cfull` residue (one `_cfull ∖ _cdocs` anti-join,
    * then the d11/d12 staged rewrite with `_cdf` untouched), so any
    * later append heals a crashed one even when the crashed batch is
    * never retried — orphan rows cannot silently widen the probe's
    * candidate set forever. Proven in Round12Spec by killing an append
    * between the writes, then healing via BOTH an identical retry and an
    * unrelated later append. The reverse order is strictly worse: the
    * guard would see the registered id and permanently refuse the
    * repair.
    */
  def appendToContainmentIndex(spark: SparkSession, dir: String,
                               appendFilter: org.apache.spark.sql.Column,
                               prefix: String = "containment_index",
                               buckets: Int = 32): Unit = {
    val add = docShingles(spark, dir).filter(appendFilter).cache()
    try {
      val addIds = add.select(col("doc_id"))
      val dup = addIds
        .join(spark.table(s"${prefix}_cdocs").select(col("doc_id")), "doc_id")
        .limit(1).collect()
      require(dup.isEmpty,
        s"doc_id ${dup.head.getLong(0)} is already indexed in ${prefix}_cdocs")
      // crash recovery: _cfull doc_ids with no _cdocs registration are
      // the residue of an append that died between the two writes —
      // ANY append heals ALL residue (keying the heal on the incoming
      // batch alone would leave a crashed-and-never-retried batch's
      // orphans in _cfull forever, silently widening every probe's
      // candidate set). One anti-join over _cfull's doc_id column per
      // append; the rewrite itself only runs when residue exists.
      val orphanIds = spark.table(s"${prefix}_cfull").select(col("doc_id"))
        .distinct()
        .join(spark.table(s"${prefix}_cdocs").select(col("doc_id")),
          Seq("doc_id"), "left_anti")
      if (orphanIds.limit(1).collect().nonEmpty)
        stagedRewriteMinusIds(spark, orphanIds, s"${prefix}_cfull",
          df => bucketAligned(df, buckets, "s")
            .write.bucketBy(buckets, "s").sortBy("s"))
      appendShinglesToCfull(spark, add, prefix, buckets)
      bucketAligned(add, buckets, "doc_id")
        .write.bucketBy(buckets, "doc_id").sortBy("doc_id")
        .mode("append").saveAsTable(s"${prefix}_cdocs")
    } finally { add.unpersist(); () }
  }

  /** The `_cfull` half of [[appendToContainmentIndex]] — the batch's
    * shingles positioned under the frozen `_cdf` order and appended to
    * the bucketed table. Factored out so Round12Spec can simulate the
    * crash window (this write landed, the `_cdocs` commit marker did
    * not) and prove the retry heals it.
    */
  private[graft] def appendShinglesToCfull(spark: SparkSession,
                                           add: DataFrame, prefix: String,
                                           buckets: Int): Unit =
    bucketAligned(add.select(col("doc_id"), explode(col("sh")).as("s"))
      .join(spark.table(s"${prefix}_cdf"), Seq("s"), "left")
      .na.fill(0L, Seq("df"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("s")))).as("ordered"))
      .select(col("doc_id"), size(col("ordered")).as("n"),
        posexplode(transform(col("ordered"), e => e.getField("s")))
          .as(Seq("j", "s"))), buckets, "s")
      .write.bucketBy(buckets, "s").sortBy("s")
      .mode("append").saveAsTable(s"${prefix}_cfull")

  /** Retract documents from the persisted containment index — the
    * [[retractFromCorpusIndex]] discipline (stage durably under a tmp
    * name, verify the row count, swap) applied to `_cdocs` and `_cfull`.
    * `_cdf` is untouched: it is the frozen order DEFINITION, not corpus
    * state ([[appendToContainmentIndex]]), and any one consistent order
    * preserves the surviving pair set — so a post-retract probe equals a
    * probe against an index rebuilt without the ids (asserted in
    * StorageLayoutSpec), at O(index-rewrite) instead of
    * O(corpus-reshingle + sort).
    */
  def retractFromContainmentIndex(spark: SparkSession, ids: Seq[Long],
                                  prefix: String = "containment_index",
                                  buckets: Int = 32): Unit = {
    require(ids.nonEmpty, "retraction requires at least one doc_id")
    val idsDf = spark.createDataset(ids)(org.apache.spark.sql.Encoders.scalaLong)
      .toDF("doc_id")
    stagedRewriteMinusIds(spark, idsDf, s"${prefix}_cdocs",
      df => bucketAligned(df, buckets, "doc_id")
        .write.bucketBy(buckets, "doc_id").sortBy("doc_id"))
    stagedRewriteMinusIds(spark, idsDf, s"${prefix}_cfull",
      df => bucketAligned(df, buckets, "s")
        .write.bucketBy(buckets, "s").sortBy("s"))
  }

  /** d27 against the persisted index: identical output contract to
    * [[incrementalContainmentDedup]] (same DuckDB oracle), but the corpus
    * never re-shingles — both probe directions read `_cfull`'s bucketed
    * files (candidate joins key on `s`, the bucket key, so the corpus
    * side of each needs NO exchange), the verify join's corpus side reads
    * `_cdocs` bucketed by its own join key, and the batch adopts the
    * index's frozen rare-first order through one bucketed lookup join
    * against `_cdf`. Per-batch cost is the batch's own shuffles only,
    * however many billions of corpus rows sit behind the index — the d12
    * discipline applied to containment.
    *
    * BREAK-EVEN — when NOT to build this index (r12 verdict "what's
    * wrong" #2): for a SMALL batch, a probe still pays a floor
    * proportional to the index's `_cfull` scan bytes (both candidate
    * joins read every corpus bucket file even when the batch matches
    * almost nothing), while the d27 recompute pays one corpus
    * shingle+df+sort pass — and below a few million corpus docs the
    * recompute pass is the CHEAPER of the two. Measured in one r12
    * window (small-batch = 1/64 of the corpus): probe 8.4 s vs recompute
    * 4.6 s at sf1 (~50k docs), 22.3 vs 7.8 s at sf3 — the index LOSES
    * 2–3× per batch there — inverting to 7.1 vs 12.9 s at sf10 (~500k
    * docs, r10) where the recompute's sort dominates. The crossover
    * sits where one corpus shingle sort costs more than scanning the
    * bucketed index: roughly sf5–sf8 on this box (corpus shingle volume
    * ~10⁸), and it moves UP with batch size — the registered halfbatch
    * fixture amortizes the scan floor over a batch half the corpus's
    * size, which is why the gate never sees the inversion. Deploy rule:
    * build the index when (corpus shingle-sort cost) × (batches between
    * rebuilds) exceeds (index scan floor) × (batches), i.e. for
    * long-lived corpora at 10⁶+ docs probed by many small batches; below
    * that, run [[incrementalContainmentDedup]] per batch and skip the
    * index lifecycle entirely. The d30 policy
    * ([[indexOrderDriftAudit]]/[[DriftRebuildRatio]]) prices WHEN to
    * rebuild an index that already earns its keep; this note prices
    * WHETHER it earns its keep at all.
    */
  def incrementalContainmentFromIndex(spark: SparkSession, dir: String,
                                      prefix: String = "containment_index",
                                      threshold: Double = 0.8,
                                      release: Boolean = true,
                                      batchFilter: org.apache.spark.sql.Column =
                                        col("doc_id") % 2 =!= 0): DataFrame = {
    val (result, caches) = incrementalContainmentFromIndexVerified(
      spark, dir, prefix, threshold, batchFilter)
    if (release) materializeAndRelease(result, caches: _*) else result
  }

  /** [[incrementalContainmentFromIndex]] with the internal batch-side
    * caches returned to the caller — the [[incrementalContainmentVerified]]
    * convention, so a `release = false` caller (plan-inspection specs)
    * can unpersist them instead of leaking two cached
    * frames for the session.
    */
  private[graft] def incrementalContainmentFromIndexVerified(
      spark: SparkSession, dir: String,
      prefix: String = "containment_index",
      threshold: Double = 0.8,
      batchFilter: org.apache.spark.sql.Column =
        col("doc_id") % 2 =!= 0): (DataFrame, Seq[DataFrame]) = {
    val cdocs = spark.table(s"${prefix}_cdocs")
    val cdf = spark.table(s"${prefix}_cdf")
    val cfull = spark.table(s"${prefix}_cfull")
    val batch = docShingles(spark, dir).filter(batchFilter).cache()
    // batch side adopts the index's order: corpus df via lookup, df 0
    // (rarest) for shingles the corpus has never seen
    val bordered = batch.select(col("doc_id"), explode(col("sh")).as("s"))
      .join(cdf, Seq("s"), "left")
      .na.fill(0L, Seq("df"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("s")))).as("ordered"))
      .select(col("doc_id"), size(col("ordered")).as("n"),
        transform(col("ordered"), e => e.getField("s")).as("shs"))
      .cache()
    // prefix length n − ⌈τ·n⌉ + 1 with the d17/d27 ε pins
    val bprefix = bordered.select(col("doc_id"), col("n"),
      posexplode(slice(col("shs"), lit(1),
        (col("n") - ceil(col("n").cast("double") * threshold - 1e-9) + 1)
          .cast("int"))).as(Seq("i", "s")))
    val bfull = bordered.select(col("doc_id"), col("n"),
      posexplode(col("shs")).as(Seq("j", "s")))
    val cprefix = cfull
      .filter(col("j") <
        (col("n") - ceil(col("n").cast("double") * threshold - 1e-9) + 1))
      .select(col("doc_id"), col("n"), col("j").as("i"), col("s"))
    val minOv = ceil(col("a.n").cast("double") * threshold - 1e-9)
    def cross(pref: DataFrame, fl: DataFrame): DataFrame =
      pref.as("a").join(fl.as("b"),
          col("a.s") === col("b.s") &&
            (col("a.n") < col("b.n") ||
              (col("a.n") === col("b.n") && col("a.doc_id") < col("b.doc_id"))))
        .select(col("a.doc_id").as("id_s"), col("b.doc_id").as("id_l"),
          least(col("a.n") - col("a.i"), col("b.n") - col("b.j")).as("bound"),
          minOv.as("min_ov"))
    val candidates = cross(bprefix, cfull)
      .unionAll(cross(cprefix, bfull))
      .groupBy(col("id_s"), col("id_l"))
      .agg(max(col("bound")).as("best_bound"), first(col("min_ov")).as("min_ov"))
      .filter(col("best_bound") >= col("min_ov"))
      .select(col("id_s"), col("id_l"))
    // verify split by side parity so the corpus shingle arrays come from
    // the doc_id-bucketed table (a unioned frame would forfeit bucketing)
    def verify(c: DataFrame, sSide: DataFrame, lSide: DataFrame): DataFrame =
      c.join(sSide.select(col("doc_id").as("id_s"), col("sh").as("sh_s")), "id_s")
        .join(lSide.select(col("doc_id").as("id_l"), col("sh").as("sh_l")), "id_l")
    val result =
      verify(candidates.filter(col("id_s") % 2 =!= 0), batch, cdocs)
        .unionAll(verify(candidates.filter(col("id_s") % 2 === 0), cdocs, batch))
        .withColumn("shared", size(array_intersect(col("sh_s"), col("sh_l"))))
        .withColumn("containment",
          col("shared").cast("double") /
            least(size(col("sh_s")), size(col("sh_l"))).cast("double"))
        .filter(col("containment") >= threshold)
        .select(
          when(col("id_s") % 2 =!= 0, col("id_s")).otherwise(col("id_l"))
            .as("batch_id"),
          when(col("id_s") % 2 === 0, col("id_s")).otherwise(col("id_l"))
            .as("corpus_id"),
          round(col("containment"), 4).as("containment"))
        .orderBy(col("batch_id"), col("corpus_id"))
    (result, Seq(batch, bordered))
  }

  /** d28: the production-shape spelling of d27 — identical output
    * contract (batch(odd)×corpus(even) verified containment matches,
    * same oracle), with the corpus side persisted once per session as the
    * bucketed containment index ([[persistContainmentIndex]]) and every
    * probe paying batch-side cost only: no corpus re-shingling, no
    * corpus-side exchange in any of the three joins. The d12 precedent
    * applied to the asymmetric-containment probe.
    */
  def incrementalContainmentIndexed(spark: SparkSession, dir: String,
                                    threshold: Double = 0.8,
                                    release: Boolean = true): DataFrame = {
    val prefix = IndexMemo.ensure(
      spark.sparkContext.applicationId, "d28", dir)(
      persistContainmentIndex(spark, dir, _))
    incrementalContainmentFromIndex(spark, dir, prefix, threshold, release)
  }

  /** Shared d17/d19 candidate generation + exact verification. Returns
    * every candidate pair with BOTH raw metrics (`containment`,
    * `jaccard`) plus the caches to release; callers filter/shape. The
    * pair orientation is (id_s = smaller set, id_l = larger).
    */
  private[graft] def containmentVerified(spark: SparkSession, dir: String,
                                         threshold: Double): (DataFrame, Seq[DataFrame]) = {
    val docs = docShingles(spark, dir).cache()
    val ds = docs.select(col("doc_id"), explode(col("sh")).as("s"))

    // global shingle order: (document frequency asc, shingle) — rare first
    val dfreq = ds.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val ordered = ds.join(dfreq, "s")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("s")))).as("ordered"))
      .select(col("doc_id"), size(col("ordered")).as("n"),
        transform(col("ordered"), e => e.getField("s")).as("shs"))
      .cache()

    // prefix of the prospective SMALLER side: n - ⌈τ·n⌉ + 1 rarest
    // shingles (ε inside the ceil mirrors d2's nudges: 0.8 binary-rounds
    // UP, so τ·n lands a hair ABOVE an exact integer product and the raw
    // ceil would shorten the prefix exactly at containment == τ pairs).
    // Both explodes carry the shingle's POSITION in the global rare-first
    // order for the PPJoin positional filter below.
    val prefix = ordered.select(col("doc_id"), col("n"),
      posexplode(slice(col("shs"), lit(1),
        (col("n") - ceil(col("n").cast("double") * threshold - 1e-9) + 1)
          .cast("int"))).as(Seq("i", "s")))
    val full = ordered.select(col("doc_id"), col("n"),
      posexplode(col("shs")).as(Seq("j", "s")))

    // the prefix side must be the pair's smaller set; (n, doc_id)
    // lexicographic breaks the equal-size tie so each unordered pair is
    // generated exactly once.
    //
    // POSITIONAL filter (PPJoin, r7): a shingle matched at 0-based
    // positions (i, j) of the two rare-first-sorted lists bounds the
    // overlap from above by min(n_s − i, n_l − j) — every further common
    // shingle sits AFTER it in BOTH lists because the sort order is the
    // one global (df, s) order. For the pair's EARLIEST common shingle
    // that bound must still clear the required overlap ⌈τ·n_s⌉, and the
    // prefix theorem guarantees that shingle is among the observed
    // matches — so keeping pairs where the max observed bound clears the
    // requirement drops NO true pair. What it does drop is the boilerplate
    // explosion: a match on a common (high-df) shingle sits near the END
    // of both lists, its bound collapses, and the pair dies HERE as one
    // aggregated row instead of shipping two full shingle arrays into the
    // verify join (the r7 100× soak measured the verify stage spilling
    // tens of GB without this).
    val minOv = ceil(col("a.n").cast("double") * threshold - 1e-9)
    val candidates = prefix.as("a")
      .join(full.as("b"),
        col("a.s") === col("b.s") &&
          (col("a.n") < col("b.n") ||
            (col("a.n") === col("b.n") && col("a.doc_id") < col("b.doc_id"))))
      .select(col("a.doc_id").as("id_s"), col("b.doc_id").as("id_l"),
        least(col("a.n") - col("a.i"), col("b.n") - col("b.j")).as("bound"),
        minOv.as("min_ov"))
      .groupBy(col("id_s"), col("id_l"))
      .agg(max(col("bound")).as("best_bound"), first(col("min_ov")).as("min_ov"))
      .filter(col("best_bound") >= col("min_ov"))
      .select(col("id_s"), col("id_l"))

    val verified = candidates
      .join(docs.select(col("doc_id").as("id_s"), col("sh").as("sh_s")), "id_s")
      .join(docs.select(col("doc_id").as("id_l"), col("sh").as("sh_l")), "id_l")
      .withColumn("shared", size(array_intersect(col("sh_s"), col("sh_l"))))
      .withColumn("containment",
        col("shared").cast("double") /
          least(size(col("sh_s")), size(col("sh_l"))).cast("double"))
      .withColumn("jaccard",
        col("shared").cast("double") /
          (size(col("sh_s")) + size(col("sh_l")) - col("shared")).cast("double"))
    (verified, Seq(docs, ordered))
  }

  /** Naive all-pairs containment — correctness baseline for
    * [[containmentPairs]] (asserted equal in DedupSpec); test-scale only.
    */
  def containmentPairsNaive(spark: SparkSession, dir: String,
                            threshold: Double = 0.8): DataFrame = {
    val docs = docShingles(spark, dir)
    val ds = docs.select(col("doc_id"), explode(col("sh")).as("s"))
    val cnt = docs.select(col("doc_id"), size(col("sh")).as("n"))
    ds.as("a")
      .join(ds.as("b"), col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("shared"))
      .join(cnt.select(col("doc_id").as("id_a"), col("n").as("na")), "id_a")
      .join(cnt.select(col("doc_id").as("id_b"), col("n").as("nb")), "id_b")
      .withColumn("containment",
        col("shared").cast("double") / least(col("na"), col("nb")).cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("containment"), 4).as("containment"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** d18: quality-aware survivor selection — d6's near-dup clusters, but
    * the kept document per cluster is the HIGHEST-QUALITY member (most
    * tokens, doc_id ascending as the deterministic tie-break), not the
    * smallest id. This is what production dedup actually ships: among a
    * syndication cluster you keep the longest/cleanest copy, not an
    * arbitrary one — d7's min-id rule is the right *mechanical* survivor
    * for idempotent re-runs, d18 is the right *corpus-quality* survivor.
    * Cost over d6: one token-count projection + a window over CLUSTER
    * members only (cluster-sized partitions, not corpus-sized) — the
    * per-cluster argmax adds nothing measurable at any scale.
    */
  def qualitySurvivors(spark: SparkSession, dir: String,
                       threshold: Double = 0.8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = minhashLshPairs(spark, dir, threshold)
      .select(col("id_a"), col("id_b")).cache()
    val clusters = connectedComponents(pairs)
      .withColumnRenamed("node", "doc_id")
      .withColumnRenamed("root", "cluster_root")
    val ntok = Tables.documentsParallel(spark, dir)
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tokens"))
    // r16 (guide §2.4): the member count rides the SAME cluster_root
    // window partitioning as the rank — one exchange, one partition pass
    // extra. The previous spelling re-aggregated `ranked` per cluster and
    // joined the counts back, which re-evaluated the clusters⋈ntok join +
    // rank window a second time (ranked was uncached) and added a join.
    val ranked = clusters.join(ntok, "doc_id")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("cluster_root"))
          .orderBy(col("n_tokens").desc, col("doc_id").asc)))
      .withColumn("n_members",
        count(lit(1)).over(Window.partitionBy(col("cluster_root"))))
    val result = ranked.filter(col("rn") === 1)
      .select(col("cluster_root"), col("doc_id").as("survivor_id"),
        col("n_tokens").as("survivor_tokens"), col("n_members"))
      .orderBy(col("cluster_root"))
    materializeAndRelease(result, pairs)
  }

  /** SimHash signature width: 52 bits, the width of [[graft.functions
    * .TextFunctions.hash52]] — chosen so the token hash (and therefore the
    * whole signature) is reproducible in DuckDB and the query hash-checks
    * against a full SQL oracle instead of a rows-only count.
    */
  val SimHashBits = 52

  /** d4: SimHash signature per document — per-bit majority vote over
    * hash52 of tokens. One scan + one groupBy(doc_id); the 52 bit-sums are
    * a single wide codegen'd aggregate.
    */
  def simhashSignatures(spark: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documentsParallel(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .withColumn("h", hash52(col("t")))
    val bitSums = (0 until SimHashBits).map(i =>
      sum(shiftright(col("h"), i).bitwiseAND(lit(1L))).as(s"b$i")) :+
      count(lit(1)).as("n")
    val g = tok.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
    val sim = (0 until SimHashBits).map(i =>
      when(col(s"b$i") * 2 > col("n"), lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ bitwiseOR _)
    g.select(col("doc_id"), sim.as("simhash")).orderBy(col("doc_id"))
  }

  /** d8: benchmark decontamination — flag training documents sharing long
    * word n-grams with an "evaluation" subset (here: doc_id % 20 == 0
    * stands in for the benchmark corpus). The standard LLM-training
    * contamination check (GPT-3 appendix C / PaLM style: 8-gram overlap).
    * The eval n-gram set is tiny relative to the corpus → broadcast
    * semi-join against the training scan, no corpus-side shuffle at all —
    * the shape that scans 100 TB of training text against a few MB of
    * benchmark n-grams. Shingles ride the same 64-bit hash as d2/d3.
    */
  def decontaminate(spark: SparkSession, dir: String, n: Int = 8,
                    release: Boolean = true): DataFrame = {
    // cache the shingled docs: shared by the eval and training branches,
    // and — critically — a barrier against InferFiltersFromGenerate
    // pushing a `size(shingles) > 0` predicate below the repartition onto
    // the single-file scan (which would re-run the whole shingle pipeline
    // on one core; measured 33s → 3s at sf0.1)
    val sh = Tables.documentsParallel(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), shinglesOfTokens(col("toks"), n).as("sh_str"))
      .select(col("doc_id"), transform(col("sh_str"), s => xxhash64(s)).as("sh"))
      .cache()
    val evalNgrams = sh.filter(col("doc_id") % 20 === 0)
      .select(explode(col("sh")).as("s")).distinct()
    val result = sh.filter(col("doc_id") % 20 =!= 0)
      .select(col("doc_id"), size(col("sh")).as("n_ngrams"), explode(col("sh")).as("s"))
      .join(broadcast(evalNgrams), Seq("s"), "left_semi")
      .groupBy(col("doc_id"), col("n_ngrams"))
      .agg(count(lit(1)).cast("long").as("n_shared"))
      .select(col("doc_id"), col("n_shared"),
        round(col("n_shared").cast("double") / col("n_ngrams") + 1e-9, 4)
          .as("contamination_frac"))
      .orderBy(col("doc_id"))
    // release=false keeps the live plan inspectable (PlanSpec) at the cost
    // of leaving the cache registered
    if (release) materializeAndRelease(result, sh) else result
  }

  /** d10: duplicated-n-gram fraction — for each document, the share of its
    * distinct word 8-grams that also appear in at least one OTHER document
    * (global document frequency ≥ minDf). The RefinedWeb/Gopher corpus-
    * duplication signal: unlike pairwise dedup (d2/d3) it needs no pair
    * enumeration at all — one shuffle to count n-gram document frequency,
    * one join back — so it stays linear even on a corpus where near-dup
    * pairs would be quadratic. Shingles ride the same 64-bit hash as d2/d8;
    * note the df count is over xxhash64 values, not strings — a cross-
    * document collision inflates df for both colliding n-grams with
    * probability ~|distinct corpus n-grams|²/2⁶⁴ (like d3's miss bound:
    * negligible below ~10¹² distinct n-grams, and the failure mode is a
    * pessimistic dup_frac, never a missed duplicate).
    */
  def dupNgramFraction(spark: SparkSession, dir: String, n: Int = 8,
                       minDf: Int = 2, release: Boolean = true): DataFrame = {
    // cache barrier: same InferFiltersFromGenerate trap as d8 — without it
    // the inferred size(sh)>0 filter re-runs the shingle pipeline on the
    // single-file scan
    val sh = Tables.documentsParallel(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), shinglesOfTokens(col("toks"), n).as("sh_str"))
      .select(col("doc_id"), transform(col("sh_str"), s => xxhash64(s)).as("sh"))
      .cache()
    val ds = sh.select(col("doc_id"), size(col("sh")).as("n_ngrams"),
      explode(col("sh")).as("s"))
    // per-doc shingles are distinct, so count(*) per shingle IS document
    // frequency
    val dfreq = ds.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val result = ds.join(dfreq, "s")
      .groupBy(col("doc_id"), col("n_ngrams"))
      .agg(sum(when(col("df") >= minDf, 1).otherwise(0)).cast("long").as("n_dup"))
      .select(col("doc_id"), col("n_ngrams").cast("long").as("n_ngrams"),
        col("n_dup"),
        round(col("n_dup").cast("double") /
          greatest(col("n_ngrams"), lit(1)).cast("double") + 1e-9, 4)
          .as("dup_frac"))
      .orderBy(col("doc_id"))
    if (release) materializeAndRelease(result, sh) else result
  }

  /** d11: INCREMENTAL dedup — near-dup matches of a new batch against an
    * already-deduplicated corpus, without ever re-pairing the corpus with
    * itself. The production ingest shape: corpus bands are a (persisted)
    * index; each arriving batch computes its own bands and probes
    * cross-side only, so per-batch cost is O(batch + collisions)
    * regardless of corpus size — corpus×corpus pairs are never formed.
    * Here `doc_id % 2` splits the table into stand-in corpus (even) and
    * batch (odd); candidates are verified with exact Jaccard like d3.
    */
  def incrementalDedup(spark: SparkSession, dir: String,
                       threshold: Double = 0.8,
                       release: Boolean = true): DataFrame = {
    val docs = docShingles(spark, dir).cache()
    val bands = minhashBands(docs)
    val corpusBands = bands.filter(col("doc_id") % 2 === 0)
    val batchBands = bands.filter(col("doc_id") % 2 =!= 0)
    val candidates = batchBands.as("a")
      .join(corpusBands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey"))
      .select(col("a.doc_id").as("batch_id"), col("b.doc_id").as("corpus_id"))
      .distinct()
    val verified = candidates
      .join(docs.select(col("doc_id").as("batch_id"), col("sh").as("sh_a")), "batch_id")
      .join(docs.select(col("doc_id").as("corpus_id"), col("sh").as("sh_b")), "corpus_id")
      .withColumn("shared", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        col("shared").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("shared")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("batch_id"), col("corpus_id"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy(col("batch_id"), col("corpus_id"))
    if (release) materializeAndRelease(verified, docs) else verified
  }

  /** Persist the corpus near-dup index as BUCKETED tables — the production
    * ingest layout at 100 TB: `<prefix>_shingles` bucketed by `doc_id`
    * (the verify-stage join key) and `<prefix>_bands` bucketed by
    * `(band, bkey)` (the candidate-probe join key). Written ONCE when the
    * corpus is (re)built; every subsequent batch or micro-batch probe
    * ([[incrementalDedupFromIndex]], [[streamingIncrementalDedup]] with
    * `indexPrefix`) reads pre-shuffled files, so the corpus side of both
    * joins needs NO exchange — per-batch cost is the batch's own shuffle
    * only, however many trillions of corpus rows sit behind the index.
    */
  /** @param corpusFilter which documents form the corpus. The default is
    *        the even-`doc_id` half — the test-parity split that makes this
    *        index interchangeable with [[incrementalDedup]]'s stand-in
    *        corpus; a production rebuild passes `lit(true)` (or its own
    *        snapshot predicate) to index EVERY document.
    */
  def persistCorpusBandIndex(spark: SparkSession, dir: String,
                             prefix: String = "corpus_index",
                             buckets: Int = 32,
                             corpusFilter: org.apache.spark.sql.Column =
                               col("doc_id") % 2 === 0): Unit = {
    // an in-memory catalog forgets tables across JVMs but their warehouse
    // directories survive; drop both the entry and any orphaned location,
    // or saveAsTable refuses with LOCATION_ALREADY_EXISTS on a fresh session
    dropBandIndexTables(spark, prefix)
    val docs = docShingles(spark, dir).filter(corpusFilter)
    bucketAligned(docs, buckets, "doc_id")
      .write.bucketBy(buckets, "doc_id").sortBy("doc_id")
      .mode("overwrite").saveAsTable(s"${prefix}_shingles")
    // bands derive from the JUST-WRITTEN shingle table — one shingle pass
    // total, and the band computation reads bucketed files
    bucketAligned(minhashBands(spark.table(s"${prefix}_shingles")),
        buckets, "band", "bkey")
      .write.bucketBy(buckets, "band", "bkey").sortBy("band", "bkey")
      .mode("overwrite").saveAsTable(s"${prefix}_bands")
  }

  /** Drop + delete the band index's two tables (catalog entry AND
    * warehouse directory — see the orphaned-location note in
    * [[persistCorpusBandIndex]]). Shared by the build's start-heal and
    * the rotate lifecycle's retire step.
    */
  private[graft] def dropBandIndexTables(spark: SparkSession,
                                         prefix: String): Unit =
    Seq(s"${prefix}_shingles", s"${prefix}_bands").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS `$t`")
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), t.toLowerCase)
      loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(loc, true)
    }

  /** Retract documents from the persisted bucketed corpus index — the
    * index-side half of the GDPR story ([[retractFromIngestSink]] handles
    * the landed corpus). The index is DERIVED state, so retraction is a
    * physical rewrite of both bucketed tables minus the ids (no tombstone
    * indirection to carry into every probe): the filtered rows are
    * materialized into checkpoint blocks FIRST, then the tables are
    * dropped and rewritten with the same bucketing, so a probe plan
    * compiled after the rewrite is byte-identical in shape (bucketed,
    * exchange-free corpus side) and a crash before the rewrite leaves the
    * old tables intact. Cost is O(index), amortized by batching
    * retractions; `buckets` must match the original layout.
    */
  def retractFromCorpusIndex(spark: SparkSession, ids: Seq[Long],
                             prefix: String = "corpus_index",
                             buckets: Int = 32): Unit = {
    require(ids.nonEmpty, "retraction requires at least one doc_id")
    val idsDf = spark.createDataset(ids)(org.apache.spark.sql.Encoders.scalaLong)
      .toDF("doc_id")
    stagedRewriteMinusIds(spark, idsDf, s"${prefix}_shingles",
      df => bucketAligned(df, buckets, "doc_id")
        .write.bucketBy(buckets, "doc_id").sortBy("doc_id"))
    stagedRewriteMinusIds(spark, idsDf, s"${prefix}_bands",
      df => bucketAligned(df, buckets, "band", "bkey")
        .write.bucketBy(buckets, "band", "bkey").sortBy("band", "bkey"))
  }

  /** One table's verified staged rewrite minus a retracted id set — the
    * shared machinery of [[retractFromCorpusIndex]] and
    * [[retractFromContainmentIndex]]. `writerFor` supplies the table's
    * bucket spec so the rewritten table keeps its exchange-free layout.
    */
  private[graft] def stagedRewriteMinusIds(
      spark: SparkSession, idsDf: DataFrame, t: String,
      writerFor: DataFrame =>
        org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row],
      key: String = "doc_id"): Unit = {
    def deleteLoc(name: String): Unit = {
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), name.toLowerCase)
      loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(loc, true)
    }
    val tmp = s"${t}__retract"
    // recovery: a crash between the DROP and the RENAME below leaves the
    // canonical name missing and the staged table holding the only copy
    // — promote it before anything else (the retraction it carries was
    // verified before the crash). Sweep the canonical data directory
    // first: a crash after DROP TABLE but mid-directory-delete leaves
    // orphan files at warehouse/t that the managed rename would collide
    // with (or silently merge stale rows into).
    // a managed RENAME carries the files but, for a PARTITIONED table,
    // not the catalog's partition registrations — the renamed table would
    // read EMPTY (caught by Round13Spec on the IVF `_icell` rewrite);
    // recover them from the directory layout after every promote
    def promote(): Unit = {
      spark.sql(s"ALTER TABLE `$tmp` RENAME TO `$t`")
      if (spark.catalog.listColumns(t).collect().exists(_.isPartition))
        spark.catalog.recoverPartitions(t)
    }
    if (!spark.catalog.tableExists(t) && spark.catalog.tableExists(tmp)) {
      deleteLoc(t)
      promote()
    }
    // stale staging from an earlier crash BEFORE its verify — discard
    spark.sql(s"DROP TABLE IF EXISTS `$tmp`")
    deleteLoc(tmp)
    // stage the filtered table DURABLY under the tmp name while the
    // original stays live (the write reads from it), verify the row
    // count, then swap — the verified-write-then-rename discipline of
    // the sink paths, applied to catalog tables
    val kept = spark.table(t).join(broadcast(idsDf), Seq(key), "left_anti")
    writerFor(kept).mode("overwrite").saveAsTable(tmp)
    val expected = spark.table(t)
      .join(broadcast(idsDf), Seq(key), "left_anti").count()
    val written = spark.table(tmp).count()
    require(written == expected,
      s"staged $tmp has $written rows, expected $expected; $t untouched")
    spark.sql(s"DROP TABLE `$t`")
    deleteLoc(t) // managed drop removes the dir; sweep orphans defensively
    promote()
  }

  /** d11 against the persisted index: identical contract and output to
    * [[incrementalDedup]], but the corpus side of the candidate probe and
    * the verify join comes from the bucketed tables — zero corpus-side
    * shuffle (pinned in StorageLayoutSpec).
    */
  def incrementalDedupFromIndex(spark: SparkSession, dir: String,
                                prefix: String = "corpus_index",
                                threshold: Double = 0.8,
                                release: Boolean = true): DataFrame = {
    val corpusSh = spark.table(s"${prefix}_shingles")
    val corpusBands = spark.table(s"${prefix}_bands")
    val batchDocs = docShingles(spark, dir)
      .filter(col("doc_id") % 2 =!= 0).cache()
    val batchBands = minhashBands(batchDocs)
    val candidates = batchBands.as("a")
      .join(corpusBands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey"))
      .select(col("a.doc_id").as("batch_id"), col("b.doc_id").as("corpus_id"))
      .distinct()
    val verified = candidates
      .join(batchDocs.select(col("doc_id").as("batch_id"), col("sh").as("sh_a")), "batch_id")
      .join(corpusSh.select(col("doc_id").as("corpus_id"), col("sh").as("sh_b")), "corpus_id")
      .withColumn("shared", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        col("shared").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("shared")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("batch_id"), col("corpus_id"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy(col("batch_id"), col("corpus_id"))
    // release=false keeps the live plan inspectable (StorageLayoutSpec) at
    // the cost of leaving the batch cache registered
    if (release) materializeAndRelease(verified, batchDocs) else verified
  }

  /** d12: the production-shape spelling of d11 — identical output contract
    * (batch(odd)×corpus(even) verified near-dup matches, same oracle), but
    * the corpus side comes from the persisted bucketed band index, so the
    * probe and verify joins need NO corpus-side exchange. Build memoized
    * once per (application, dir) via the shared [[IndexMemo]] (full-dir
    * key, failure unwind, session-unique prefix — different scale factors
    * in one session index separately; a fresh JVM always rebuilds, so a
    * stale `spark-warehouse/` can never leak data across testdata
    * regenerations); the bench amortizes one corpus build across every
    * subsequent probe, exactly as production amortizes it across ingest
    * batches.
    */
  def incrementalDedupIndexed(spark: SparkSession, dir: String,
                              threshold: Double = 0.8,
                              release: Boolean = true): DataFrame = {
    val prefix = IndexMemo.ensure(
      spark.sparkContext.applicationId, "d12", dir)(
      persistCorpusBandIndex(spark, dir, _))
    incrementalDedupFromIndex(spark, dir, prefix, threshold, release)
  }

  // --- band-index pointer lifecycle (r13): the [[LiveIndexPointer]]
  // discipline extended to the THIRD persisted index family. Unlike the
  // containment index (order drift, d30) and the IVF index (quantizer
  // drift, s17), the band index has no drift signal to police: its
  // geometry is fixed constants (MinHashK × Bands × RowsPerBand — minhash
  // bucket keys are data-derived hashes, so occupancy doesn't decay with
  // corpus growth) and it has no append path (the streaming contract is
  // batch-vs-corpus, survivors are NOT folded back). Its one lifecycle
  // event is a corpus REFRESH — a new snapshot replaces the old — so the
  // rotate verb here is unconditional, not policy-gated.

  /** Point `alias` at `toPrefix` — the band family's COMMIT step, the
    * same atomic pointer rename as [[flipContainmentIndex]] (see
    * [[LiveIndexPointer]] for why a file, not a view or 1-row table).
    */
  def flipCorpusBandIndex(spark: SparkSession, toPrefix: String,
                          alias: String = "corpus_index_live"): Unit =
    LiveIndexPointer.flip(spark, toPrefix, alias)

  /** The prefix `alias` currently points at; `None` before the first
    * flip. Probes resolve this ONCE per probe (batch:
    * [[incrementalDedupLive]]; per micro-batch:
    * [[streamingIncrementalDedup]] with `indexAlias`), so all table
    * reads inside one probe see one consistent prefix.
    */
  def currentCorpusBandPrefix(spark: SparkSession,
                              alias: String = "corpus_index_live")
      : Option[String] =
    LiveIndexPointer.current(spark, alias)

  /** Drop + delete a retired band index's tables — the GC verb, public
    * for deployments that delay retirement until in-flight probes drain.
    */
  def retireCorpusBandIndex(spark: SparkSession, prefix: String): Unit =
    dropBandIndexTables(spark, prefix)

  /** Delete `alias`'s pointer file — decommissioning teardown. */
  def unlinkCorpusBandPointer(spark: SparkSession,
                              alias: String = "corpus_index_live"): Unit =
    LiveIndexPointer.unlink(spark, alias)

  /** [[incrementalDedupFromIndex]] against whatever band index `alias`
    * currently points at — the probe spelling a deployment runs once
    * corpus refreshes exist, so a refresh never redeploys probe code.
    * Resolves the pointer exactly once.
    */
  def incrementalDedupLive(spark: SparkSession, dir: String,
                           alias: String = "corpus_index_live",
                           threshold: Double = 0.8,
                           release: Boolean = true): DataFrame = {
    val prefix = currentCorpusBandPrefix(spark, alias).getOrElse(
      throw new IllegalStateException(
        s"no live band index: pointer '$alias' has never been flipped — " +
          "refreshCorpusBandIndex (or persistCorpusBandIndex + " +
          "flipCorpusBandIndex) first"))
    incrementalDedupFromIndex(spark, dir, prefix, threshold, release)
  }

  /** Blue/green corpus refresh: build a NEW band index from the current
    * corpus snapshot into the idle color, flip the pointer, retire the
    * old color. The build's own start-heal ([[persistCorpusBandIndex]]
    * drops the target first) absorbs any crash residue in the idle
    * color, and the pointer rename is the single commit point — the
    * crash half-states and their heal-forward story are exactly
    * [[rotateContainmentIndex]]'s.
    *
    * Retirement is immediate, sound for the single-driver lifecycle. A
    * LIVE streaming probe ([[streamingIncrementalDedup]] with
    * `indexAlias`) re-resolves the pointer at each micro-batch, so a
    * refresh landing BETWEEN batches is picked up by the next one —
    * but a refresh racing a batch mid-flight could retire tables that
    * batch still reads. Deployments refreshing under an active stream
    * flip first, let the in-flight batch drain (still-correct, merely
    * stale), then call [[retireCorpusBandIndex]]; this verb's immediate
    * retire is for the quiesced-ingest window (StreamingSpec drives the
    * flip-under-live-stream shape at controlled batch boundaries).
    *
    * First call (pointer absent) builds + flips with nothing to retire.
    */
  def refreshCorpusBandIndex(spark: SparkSession, dir: String,
                             alias: String = "corpus_index_live",
                             buckets: Int = 32,
                             corpusFilter: org.apache.spark.sql.Column =
                               col("doc_id") % 2 === 0): String = {
    val from = currentCorpusBandPrefix(spark, alias)
    val blue = s"${alias}_blue"
    val to = if (from.contains(blue)) s"${alias}_green" else blue
    persistCorpusBandIndex(spark, dir, to, buckets, corpusFilter)
    flipCorpusBandIndex(spark, to, alias)
    from.foreach(retireCorpusBandIndex(spark, _))
    to
  }

  /** Streaming ingest dedup — the streaming face of [[incrementalDedup]]:
    * documents ARRIVE as a stream, each micro-batch probes the static
    * corpus band index, and only verified-novel documents reach the sink.
    * The dedup-on-arrival gate a continuously-fed training corpus runs.
    *
    * Shape notes for scale: the corpus index (shingles + bands) is
    * computed once and cached — per micro-batch cost is the batch's own
    * shingling plus the band equi-join against the index, independent of
    * how many batches came before. `foreachBatch` is the right vehicle
    * because the candidate→verify stage is a multi-join batch plan, not
    * an incremental aggregation. Batch-internal duplicates are d3's job
    * (run it inside the batch first if arrivals can collide with each
    * other); this operator's contract is batch-vs-corpus only, like d11.
    *
    * The sink is IDEMPOTENT across checkpoint recovery: each micro-batch
    * overwrites its own `ingest_batch=<id>` directory, so a batch that was
    * written but not yet committed before a crash is rewritten
    * byte-identically on replay instead of appended twice (the
    * deterministic-path spelling of foreachBatch exactly-once; readers
    * scan `sinkPath` and see `ingest_batch` as a partition column).
    * The corpus index caches are unpersisted when the query terminates
    * (a [[org.apache.spark.sql.streaming.StreamingQueryListener]] keyed to
    * this query's id), mirroring the materializeAndRelease discipline of
    * the batch operators — a stopped query leaks nothing into the session.
    *
    * `indexPrefix` switches the corpus side to the bucketed tables of
    * [[persistCorpusBandIndex]]: no session caches at all (nothing to
    * release on termination), and every micro-batch's probe reads the
    * pre-shuffled index files — the corpus side of both joins is
    * exchange-free, which is the shape a 100 TB continuously-fed corpus
    * runs (the index is rebuilt only when the corpus itself changes).
    */
  /** @param sourcePath arrival directory override (default: the testdata
    *        documents file). A real deployment points this at its landing
    *        zone; tests use it to land arrivals incrementally.
    *  @param maxFilesPerTrigger cap on source files per micro-batch — the
    *        knob that turns one bulk catch-up batch into many small ones
    *        (and, with it, one `ingest_batch` directory per trigger).
    *  @param indexAlias live-pointer alternative to `indexPrefix`: the
    *        corpus side resolves [[currentCorpusBandPrefix]] ONCE per
    *        micro-batch, so a blue/green corpus refresh
    *        ([[refreshCorpusBandIndex]]) landing between batches is
    *        picked up by the next batch with no stream restart — and
    *        within one batch all corpus reads see one consistent prefix
    *        even if a refresh lands mid-batch (the retired tables must
    *        outlive that batch; see the refresh verb's drain note).
    *        Mutually exclusive with `indexPrefix`.
    */
  def streamingIncrementalDedup(spark: SparkSession, dir: String,
                                sinkPath: String, checkpointPath: String,
                                threshold: Double = 0.8,
                                indexPrefix: Option[String] = None,
                                sourcePath: Option[String] = None,
                                maxFilesPerTrigger: Option[Int] = None,
                                indexAlias: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(indexPrefix.isEmpty || indexAlias.isEmpty,
      "indexPrefix and indexAlias are mutually exclusive — a pinned " +
        "prefix and a live pointer cannot both name the corpus")
    val fromIndex = indexPrefix.isDefined || indexAlias.isDefined
    // alias mode defers corpus resolution to the batch closure; the
    // pinned modes build the corpus plan once here
    val staticCorpus: Option[(DataFrame, DataFrame)] =
      if (indexAlias.isDefined) None
      else Some(indexPrefix match {
        case Some(p) => (spark.table(s"${p}_shingles"), spark.table(s"${p}_bands"))
        case None =>
          val docs = docShingles(spark, dir).filter(col("doc_id") % 2 === 0).cache()
          (docs, minhashBands(docs).cache())
      })

    val schema = Tables.documents(spark, dir).schema
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val stream = reader
      .parquet(sourcePath.getOrElse(s"$dir/documents*.parquet"))
      .filter(col("doc_id") % 2 =!= 0) // odd doc_ids arrive; even ARE the corpus

    stream.writeStream
      .option("checkpointLocation", checkpointPath)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val (corpusDocs, corpusBands) = staticCorpus.getOrElse {
          val p = currentCorpusBandPrefix(spark, indexAlias.get).getOrElse(
            throw new IllegalStateException(
              s"no live band index: pointer '${indexAlias.get}' has " +
                "never been flipped"))
          (spark.table(s"${p}_shingles"), spark.table(s"${p}_bands"))
        }
        val batchSh = shinglesOf(batch.select(col("doc_id"), col("text"))).cache()
        val batchBands = minhashBands(batchSh)
        val candidates = batchBands.as("a")
          .join(corpusBands.as("b"),
            col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey"))
          .select(col("a.doc_id").as("batch_id"), col("b.doc_id").as("corpus_id"))
          .distinct()
        val dupIds = candidates
          .join(batchSh.select(col("doc_id").as("batch_id"), col("sh").as("sh_a")), "batch_id")
          .join(corpusDocs.select(col("doc_id").as("corpus_id"), col("sh").as("sh_b")), "corpus_id")
          .withColumn("shared", size(array_intersect(col("sh_a"), col("sh_b"))))
          .filter(col("shared").cast("double") /
            (size(col("sh_a")) + size(col("sh_b")) - col("shared")).cast("double")
            >= threshold)
          .select(col("batch_id").as("doc_id")).distinct()
        batch.join(dupIds, Seq("doc_id"), "left_anti")
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$sinkPath/ingest_batch=$batchId")
        batchSh.unpersist()
        ()
      }
      .start() match {
      case query =>
        if (!fromIndex) { // only the computed-per-run corpus holds caches
          val queryId = query.id
          spark.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
            import org.apache.spark.sql.streaming.StreamingQueryListener._
            override def onQueryStarted(e: QueryStartedEvent): Unit = ()
            override def onQueryProgress(e: QueryProgressEvent): Unit = ()
            override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
              if (e.id == queryId) {
                staticCorpus.foreach { case (docs, bands) =>
                  docs.unpersist(); bands.unpersist()
                }
                spark.streams.removeListener(this)
              }
          })
        }
        query
    }
  }

  private val CompactedDirName = "_compacted"
  private val TombstonesDirName = "_tombstones"

  /** The distinct retracted doc_ids of `sinkPath`, or None when no
    * retraction was ever recorded. Underscore-prefixed like the segment
    * area, so plain `spark.read.parquet(sinkPath)` never sees it.
    */
  private def tombstoneIds(spark: SparkSession, sinkPath: String): Option[DataFrame] = {
    val dir = new java.io.File(sinkPath, TombstonesDirName)
    val parts = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("retract_"))
    if (parts.isEmpty) None
    else Some(spark.read.parquet(parts.map(_.getPath).toSeq: _*)
      .select(col("doc_id")).distinct())
  }

  /** Retract (GDPR-style delete) documents from the ingest sink: append an
    * immutable tombstone batch of doc_ids under `_tombstones/`. Deletes are
    * effective IMMEDIATELY at read time — [[readIngestSink]] anti-joins the
    * tombstone set — and become PHYSICAL when any rewrite pass touches the
    * rows: [[compactIngestSink]] folds live batches minus tombstones,
    * [[mergeIngestSegments]] purges during the major merge, and
    * [[purgeIngestSink]] rewrites affected segments on demand. This is the
    * equality-delete design every table format at 100 TB converges on
    * (delete files + read-time merge + purge-on-compaction): retraction
    * cost is O(ids), never O(corpus), and a replayed micro-batch that
    * rewrites its live directory CANNOT resurrect a deleted row because
    * the read-time filter is applied after every union.
    *
    * Tombstone batches are append-only and tiny (one row per retracted id);
    * they must outlive live batch directories (an uncommitted batch can
    * replay its original rows at any restart), so no automatic GC — a
    * corpus rebuild is the natural reset point.
    */
  def retractFromIngestSink(spark: SparkSession, sinkPath: String,
                            ids: Seq[Long]): Unit = {
    require(ids.nonEmpty, "retraction requires at least one doc_id")
    val dir = new java.io.File(sinkPath, TombstonesDirName)
    dir.mkdirs()
    val n = Option(dir.listFiles()).getOrElse(Array.empty)
      .count(f => f.isDirectory && f.getName.startsWith("retract_"))
    val tmp = new java.io.File(dir, s".tmp_retract_$n")
    spark.createDataset(ids)(org.apache.spark.sql.Encoders.scalaLong)
      .toDF("doc_id").coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(tmp.getPath)
    require(tmp.renameTo(new java.io.File(dir, s"retract_$n")),
      s"could not record retraction batch $n at $dir")
  }

  /** Physically rewrite every compacted segment holding retracted rows
    * (tombstones stay in force for the live area — live directories are
    * transient and get purged when compaction folds them). Same verified
    * tmp-write discipline as the merge pass, plus a move-aside of the
    * same-named old segment. Between the move-aside and the rename-in the
    * canonical segment name does not exist; since r7 a concurrent
    * [[readIngestSink]] falls back to the `.old_` copy in that window
    * (pre-purge rows, equivalent after the read-time tombstone anti-join
    * — see `readableSegments`), so readers see every row at any
    * interleaving. Concurrent REWRITERS are still exclusive: run purge
    * and merge in the same single-writer maintenance window. A crash in
    * the window is healed by the recovery sweep at the start of the next
    * purge (the `.old_` copy is restored).
    *
    * @return the (lo, hi) ranges of segments rewritten.
    */
  def purgeIngestSink(spark: SparkSession, sinkPath: String): Seq[(Long, Long)] = {
    val segBase = new java.io.File(sinkPath, CompactedDirName)
    // recovery sweep: restore a moved-aside segment whose canonical name
    // vanished mid-purge; drop stale tmp/old dirs whose canonical exists
    Option(segBase.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(".old_batches_"))
      .foreach { f =>
        val canonical = new java.io.File(segBase, f.getName.stripPrefix(".old_"))
        if (!canonical.exists()) require(f.renameTo(canonical), s"could not restore $f")
        else scala.reflect.io.Directory(f).deleteRecursively()
      }
    Option(segBase.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(".tmp_purge_"))
      .foreach(f => scala.reflect.io.Directory(f).deleteRecursively())
    tombstoneIds(spark, sinkPath) match {
      case None => Nil
      case Some(ts) =>
        val allRanges = compactedRanges(sinkPath)
        val contained = allRanges.filter(r =>
          allRanges.exists(o => o != r && o._1 <= r._1 && r._2 <= o._2))
        // a contained segment is a merge-crash leftover whose rows the
        // spanning segment already holds — but its FILES still hold any
        // retracted rows, so a purge that merely skipped it would report
        // success while the data physically survives on disk. Delete it
        // (mergeIngestSegments' own sweep, pulled forward).
        contained.foreach { case (l, h) =>
          scala.reflect.io.Directory(
            new java.io.File(segBase, s"batches_${l}_$h")).deleteRecursively()
        }
        val ranges = allRanges.diff(contained)
        ranges.flatMap { case (lo, hi) =>
          val segDir = new java.io.File(segBase, s"batches_${lo}_$hi")
          val df = spark.read.parquet(segDir.getPath)
          if (df.join(ts, Seq("doc_id"), "left_semi").isEmpty) None
          else {
            val keep = df.join(ts, Seq("doc_id"), "left_anti")
            val tmp = new java.io.File(segBase, s".tmp_purge_batches_${lo}_$hi")
            keep.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
              .parquet(tmp.getPath)
            val written = spark.read.parquet(tmp.getPath).count()
            val expected = keep.count()
            require(written == expected,
              s"purged segment has $written rows, expected $expected; segment untouched")
            val aside = new java.io.File(segBase, s".old_batches_${lo}_$hi")
            require(segDir.renameTo(aside), s"could not move aside $segDir")
            require(tmp.renameTo(segDir), s"could not move $tmp into place")
            scala.reflect.io.Directory(aside).deleteRecursively()
            Some((lo, hi))
          }
        }
    }
  }

  /** Micro-batch ids whose offset commit is durable in `checkpointPath` —
    * exactly the batches Structured Streaming will never replay. A batch
    * whose sink directory exists but whose commit marker does not was
    * interrupted between sink write and commit and WILL be re-run on
    * restart, so it must stay a live per-batch directory (overwrite-on-
    * replay is what makes the sink idempotent) and is never compacted.
    */
  private def committedBatchIds(checkpointPath: String): Set[Long] = {
    val commits = new java.io.File(checkpointPath, "commits")
    Option(commits.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.nonEmpty && f.getName.forall(_.isDigit))
      .map(_.getName.toLong).toSet
  }

  /** `[lo, hi]` batch ranges already folded into compacted segments. */
  private def compactedRanges(sinkPath: String): Seq[(Long, Long)] = {
    val dir = new java.io.File(sinkPath, CompactedDirName)
    Option(dir.listFiles()).getOrElse(Array.empty).toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("batches_"))
      .flatMap { f =>
        f.getName.stripPrefix("batches_").split('_') match {
          case Array(lo, hi) =>
            scala.util.Try((lo.toLong, hi.toLong)).toOption
          case _ => None
        }
      }
  }

  /** Segment ranges a READER should consume, each with the directory
    * holding its rows: the canonical `batches_<lo>_<hi>` normally, and —
    * r7, closing the purge/merge move-aside visibility window — a
    * `.old_batches_<lo>_<hi>` stand-in when the canonical name is briefly
    * absent (between [[purgeIngestSink]]/[[mergeIngestSegments]]' move-
    * aside and rename-in). The `.old_` copy holds the PRE-rewrite rows,
    * which read equivalently: a purge only removes tombstoned rows and
    * the read path anti-joins tombstones anyway; a merge only re-buckets
    * rows other canonical segments don't hold. A `.old_` dir whose
    * canonical sibling EXISTS is a completed-rewrite leftover and is
    * ignored (the rewriter or its recovery sweep deletes it).
    */
  private def readableSegments(sinkPath: String)
      : Seq[((Long, Long), java.io.File)] = {
    val segBase = new java.io.File(sinkPath, CompactedDirName)
    val dirs = Option(segBase.listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory)
    val canonNames = dirs.map(_.getName).filter(_.startsWith("batches_")).toSet
    dirs.toSeq
      .filter(f => canonNames(f.getName) ||
        (f.getName.startsWith(".old_batches_") &&
          !canonNames(f.getName.stripPrefix(".old_"))))
      .flatMap { f =>
        f.getName.stripPrefix(".old_").stripPrefix("batches_").split('_') match {
          case Array(lo, hi) =>
            scala.util.Try((lo.toLong, hi.toLong)).toOption.map(_ -> f)
          case _ => None
        }
      }
  }

  private def liveBatchDirs(sinkPath: String): Map[Long, java.io.File] =
    Option(new java.io.File(sinkPath).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("ingest_batch="))
      .flatMap(f => scala.util.Try(
        f.getName.stripPrefix("ingest_batch=").toLong).toOption.map(_ -> f))
      .toMap

  private def covered(id: Long, ranges: Seq[(Long, Long)]): Boolean =
    ranges.exists { case (lo, hi) => id >= lo && id <= hi }

  /** Small-file compaction for [[streamingIncrementalDedup]]'s sink — the
    * answer to the streaming-sink metadata bomb: at production ingest
    * cadence the per-`ingest_batch=<id>` directories (one per micro-batch,
    * each holding a task-count of small parquet files) accumulate into
    * thousands of directories whose listing and footer-read cost eventually
    * dominates every scan. This pass folds every SAFELY-compactable batch
    * directory — one whose micro-batch is durably committed in the
    * checkpoint, i.e. will never be replayed — into a single
    * `_compacted/batches_<lo>_<hi>` segment of ceil(bytes/targetBytes)
    * large files, with `ingest_batch` preserved as a data column so reads
    * through [[readIngestSink]] are row-identical.
    *
    * Crash-safe by construction, in this order: (1) the segment is written
    * to a dot-prefixed temp directory and renamed into place only after its
    * row count is verified, so a crash mid-write leaves the sink untouched;
    * (2) live directories are deleted only after the rename, and
    * [[readIngestSink]] ignores any live directory whose id is covered by a
    * segment range, so a crash between rename and delete cannot
    * double-count; (3) the next pass removes such covered leftovers first.
    * Segments are disjoint id ranges and are never rewritten — each pass
    * costs O(newly committed batches), not O(corpus), so it can run on the
    * ingest cadence at 100 TB (a rare "major" merge of old segments is a
    * separate administrative rewrite, deliberately not wired to the hot
    * path).
    *
    * @return (lo, hi, fileCount) of the segment written, or None when no
    *         committed live batches exist.
    */
  def compactIngestSink(spark: SparkSession, sinkPath: String,
                        checkpointPath: String,
                        targetBytes: Long = 128L * 1024 * 1024)
      : Option[(Long, Long, Int)] = {
    val ranges = compactedRanges(sinkPath)
    liveBatchDirs(sinkPath).foreach { case (id, f) => // crash leftovers
      if (covered(id, ranges)) scala.reflect.io.Directory(f).deleteRecursively()
    }
    val committed = committedBatchIds(checkpointPath)
    val safe = liveBatchDirs(sinkPath).filter { case (id, _) => committed(id) }
    if (safe.isEmpty) return None
    val (lo, hi) = (safe.keys.min, safe.keys.max)
    // Structured Streaming commits batches strictly in order, so the
    // committed live ids are always a contiguous range; a gap means the
    // commit log was tampered with, and folding [lo,hi] over it would make
    // the reader guard hide (and the next sweep delete) the in-gap batch.
    // Refuse rather than risk it.
    require(hi - lo + 1 == safe.size,
      s"committed live batches $lo..$hi have gaps (${safe.keys.toSeq.sorted}); " +
        "refusing to compact over a non-contiguous commit log")
    val bytes = safe.values
      .flatMap(f => Option(f.listFiles()).getOrElse(Array.empty))
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    // physical purge point for the live area: folded segments never carry
    // retracted rows (read-time filtering covers the window before this)
    val folded = spark.read.option("basePath", sinkPath)
      .parquet(safe.values.map(_.getPath).toSeq: _*)
      .withColumn("ingest_batch", col("ingest_batch").cast("long"))
    val df = tombstoneIds(spark, sinkPath)
      .fold(folded)(ts => folded.join(ts, Seq("doc_id"), "left_anti"))
    val segDir = new java.io.File(
      new java.io.File(sinkPath, CompactedDirName), s"batches_${lo}_$hi")
    segDir.getParentFile.mkdirs()
    val tmp = new java.io.File(segDir.getParentFile, s".tmp_${segDir.getName}")
    df.repartition(nFiles).write
      .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(tmp.getPath)
    val written = spark.read.parquet(tmp.getPath).count()
    val expected = df.count()
    require(written == expected,
      s"compacted segment has $written rows, expected $expected; sink untouched")
    require(tmp.renameTo(segDir), s"could not move $tmp into place at $segDir")
    safe.values.foreach(f => scala.reflect.io.Directory(f).deleteRecursively())
    Some((lo, hi, nFiles))
  }

  /** Administrative major merge: fold ALL existing segments into one
    * spanning segment of ceil(bytes/targetBytes) files. Unlike
    * [[compactIngestSink]] this is O(compacted corpus), so it runs rarely
    * (when the segment count itself becomes a listing burden), never on
    * the ingest cadence. Safe for the same reasons as the minor pass: the
    * merged segment lands by verified rename before the old segments are
    * deleted, and while both exist the old ranges and the spanning range
    * agree on which live dirs are crash leftovers — segment ranges are
    * contiguous and adjacent (enforced here), so the spanning range covers
    * no id the old ones did not.
    */
  def mergeIngestSegments(spark: SparkSession, sinkPath: String,
                          targetBytes: Long = 128L * 1024 * 1024)
      : Option[(Long, Long, Int)] = {
    // a crash after a previous merge's rename leaves the old, contained
    // segments on disk; they are redundant (the spanning segment verified
    // their rows before the rename) — sweep them first, as the reader skips
    // them for the same containment reason
    val all = compactedRanges(sinkPath).sorted
    val segBase0 = new java.io.File(sinkPath, CompactedDirName)
    val contained = all.filter(r =>
      all.exists(o => o != r && o._1 <= r._1 && r._2 <= o._2))
    contained.foreach { case (l, h) =>
      scala.reflect.io.Directory(
        new java.io.File(segBase0, s"batches_${l}_$h")).deleteRecursively()
    }
    val ranges = all.diff(contained)
    if (ranges.size < 2) return None
    ranges.sliding(2).foreach { case Seq((_, h1), (l2, _)) =>
      require(l2 == h1 + 1,
        s"segments are not adjacent at $h1 -> $l2; a spanning merge would " +
          "cover ids no segment holds — refusing")
    }
    val (lo, hi) = (ranges.head._1, ranges.last._2)
    val segBase = new java.io.File(sinkPath, CompactedDirName)
    val oldDirs = ranges.map { case (l, h) => new java.io.File(segBase, s"batches_${l}_$h") }
    val bytes = oldDirs
      .flatMap(f => Option(f.listFiles()).getOrElse(Array.empty))
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    // the major merge is also a physical purge point for retracted rows
    val merged0 = spark.read.parquet(oldDirs.map(_.getPath): _*)
    val df = tombstoneIds(spark, sinkPath)
      .fold(merged0)(ts => merged0.join(ts, Seq("doc_id"), "left_anti"))
    val tmp = new java.io.File(segBase, s".tmp_batches_${lo}_$hi")
    df.repartition(nFiles).write
      .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(tmp.getPath)
    val written = spark.read.parquet(tmp.getPath).count()
    val expected = df.count()
    require(written == expected,
      s"merged segment has $written rows, expected $expected; segments untouched")
    val merged = new java.io.File(segBase, s"batches_${lo}_$hi")
    // one old segment may already carry the spanning name (lo_x): move it
    // aside first so the rename cannot collide
    oldDirs.filter(_.getName == merged.getName).foreach { f =>
      require(f.renameTo(new java.io.File(segBase, s".old_${f.getName}")),
        s"could not move aside $f")
    }
    require(tmp.renameTo(merged), s"could not move $tmp into place at $merged")
    Option(segBase.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName != merged.getName &&
        (f.getName.startsWith("batches_") || f.getName.startsWith(".old_")))
      .foreach(f => scala.reflect.io.Directory(f).deleteRecursively())
    Some((lo, hi, nFiles))
  }

  /** THE read contract for [[streamingIncrementalDedup]]'s sink once
    * [[compactIngestSink]] runs: the union of compacted segments (few large
    * files, `ingest_batch` carried as a data column) and the still-live
    * per-batch directories (partition-discovered `ingest_batch`). A live
    * directory whose id is covered by a segment is a crash leftover —
    * written, compacted, then replayed or not yet deleted — and is ignored,
    * which is what makes the compact/delete pair safe to interrupt at any
    * point. Plain `spark.read.parquet(sinkPath)` keeps working for the
    * live area only (the `_`-prefixed segment area is hidden from Spark's
    * file listing), so full-corpus readers come through here.
    */
  def readIngestSink(spark: SparkSession, sinkPath: String): DataFrame = {
    // a segment contained in a larger one is a major-merge leftover whose
    // rows the spanning segment already holds — skip it (mirrors the
    // covered-live-dir guard, one level up). Segments resolve through
    // readableSegments, so a rewrite's move-aside window (canonical name
    // briefly absent) falls back to the `.old_` copy instead of silently
    // dropping the segment's rows (r7).
    val allSegs = readableSegments(sinkPath)
    val allRanges = allSegs.map(_._1)
    val segs = allSegs.filterNot { case (r, _) =>
      allRanges.exists(o => o != r && o._1 <= r._1 && r._2 <= o._2) }
    val ranges = segs.map(_._1)
    val live = liveBatchDirs(sinkPath)
      .filter { case (id, _) => !covered(id, ranges) }.values.toSeq
    val parts =
      (if (live.nonEmpty)
         Seq(spark.read.option("basePath", sinkPath)
           .parquet(live.map(_.getPath): _*)
           .withColumn("ingest_batch", col("ingest_batch").cast("long")))
       else Nil) ++
      segs.map { case (_, dir) => spark.read.parquet(dir.getPath) }
    val all = parts.reduceOption(_.unionByName(_)).getOrElse(
      throw new IllegalArgumentException(s"empty ingest sink at $sinkPath"))
    // retractions are effective at read time, before any physical purge —
    // this is also what makes a replayed (overwritten) live batch unable
    // to resurrect a deleted row
    tombstoneIds(spark, sinkPath).fold(all)(ts =>
      all.join(ts, Seq("doc_id"), "left_anti"))
  }

  /** d9: SimHash near-dup PAIRS — the retrieval half of the SimHash path
    * (d4 computes signatures; this finds the close ones). The 52-bit
    * signature splits into 4 bands of 13 bits: two signatures within
    * hamming distance 3 must agree exactly on at least one band
    * (pigeonhole), so the candidate join is 4 equi-joins on 13-bit keys —
    * linear like MinHash-LSH banding, and unlike it the pigeonhole
    * guarantee makes recall EXACT for d <= bands-1. Candidates are then
    * verified with the true hamming distance. This base form is
    * [[simhashNearDupPairsAuto]]'s `extra = 0` case — the registered form
    * widens the signature ([[deriveExtraBandBits]]) once the corpus
    * outgrows the 13-bit key space.
    */
  def simhashNearDupPairs(spark: SparkSession, dir: String,
                          maxHamming: Int = 3,
                          release: Boolean = true): DataFrame = {
    val sigs = simhashSignatures(spark, dir).cache()
    // verify BEFORE collapsing band multiplicity (r9): the Hamming check
    // is a codegen'd bit_count on columns the band rows already carry —
    // ~free per row — while `.distinct()` is a full shuffle of the band
    // join's output. Filtering first shrinks that shuffle from the raw
    // collision volume (47.7M rows at the 10× soak) to the verified
    // near-dups (329k), two orders of magnitude; the result set is
    // identical because hamming is a function of the pair.
    val result = simhashCandidates(sigs)
      .withColumn("hamming",
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .distinct()
      .orderBy(col("id_a"), col("id_b"))
    if (release) materializeAndRelease(result, sigs) else result
  }

  /** Shared d9 candidate stage: the 13-bit-band LSH self-join over a
    * simhash-signatures frame — RAW band matches (multiplicity up to the
    * band count), each carrying both signatures (`sh_a`, `sh_b`) so the
    * caller's Hamming verify needs no join; callers filter first, THEN
    * collapse multiplicity (see [[simhashNearDupPairs]]).
    */
  private[graft] def simhashCandidates(sigs: DataFrame): DataFrame = {
    val bands = simhashBands(sigs)
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.simhash").as("sh_a"), col("b.simhash").as("sh_b"))
  }

  /** The d9 band layout alone — `(doc_id, simhash, band, bkey)`, one row
    * per (doc, band).
    */
  private def simhashBands(sigs: DataFrame): DataFrame = {
    val bandBits = SimHashBits / 4 // 13-bit bands
    sigs.select(col("doc_id"), col("simhash"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .select(col("doc_id"), col("simhash"), col("band"),
        expr(s"shiftright(simhash, band * $bandBits) & ${(1L << bandBits) - 1}")
          .as("bkey"))
  }

  /** Hamming distance between two 64-bit signatures (for tests/probing). */
  def hamming(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    bit_count(a.bitwiseXOR(b))

  /** The band-key unit: one [[graft.functions.TextFunctions.hash52]] slot
    * of 13 bits — the base band width of every pigeonhole-banded signature
    * here (d9's 4×13, m6's 8×6/7 within the same 52-bit budget).
    */
  val BandKeyUnitBits = 13

  /** THE shared d9/m6 width derivation — extra signature bits per band
    * beyond the 52-bit base, from one corpus statistic: the smallest
    * `e ≥ 0` with `2^(13+e) ≥ n`, capped at 13 (the second hash52's slot
    * width). Rationale: a pigeonhole band join's collision volume is
    * Σ per-bucket C(s,2) ≈ n²/2^(bandBits+1) per band under uniform keys,
    * so once the corpus outgrows the key space (n > 2^13 for d9;
    * measured at the 100× soak: 3.06B/21.6B band rows for d9/m6) the
    * volume term turns super-linear — the exact failure the repo's r3
    * rule names ("a fixed setting that is correct at gate scale IS the
    * scale bug"). Growing the key with ⌈log₂ n⌉ keeps expected bucket
    * occupancy ≤ 1 however large the corpus. Band COUNT is fixed by the
    * radius (that is the pigeonhole algorithm), so the extra key bits
    * come from WIDENING the signature — more majority-vote bits from the
    * second md5 half (d9) / a second perceptual hash (m6) — while the
    * Hamming radius stays ABSOLUTE (Manku et al., "Detecting
    * Near-Duplicates for Web Crawling", WWW'07: 64-bit simhash, k = 3,
    * 8B pages): widening raises per-pair precision at a fixed bit
    * tolerance; it never admits a random pair the narrow signature
    * rejected. At the gate scales the derivation is 0 (n ≤ 8192 at
    * sf0.01 AND sf0.1), so the registered queries keep their static
    * 52-bit DuckDB oracles — the d13/d14 auto-seam convention — while
    * the d26 report replays this formula cross-engine from the same
    * corpus count.
    */
  def deriveExtraBandBits(n: Long): Int = {
    // ceil(log2 n) spelled in integers (floats misround at exact powers
    // of two); the DuckDB twin counts powers below n the same way
    val ceilLog2 =
      if (n <= 1L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(n - 1)
    math.max(0, math.min(BandKeyUnitBits, ceilLog2 - BandKeyUnitBits))
  }

  /** d9's wide signatures: `(doc_id, simhash, simhash2)` — `simhash` is
    * [[simhashSignatures]]' 52-bit majority vote over hash52, bit-identical
    * to d4's; `simhash2` carries `extraBits` FURTHER majority-vote bits
    * per 13-bit slot (bit 13j+i set from bit 13j+i of
    * [[graft.functions.TextFunctions.hash52b]], the second md5 half, for
    * i < extraBits; all other bits zero). One scan + one groupBy computes
    * all 52 + 4·extraBits bit-sums as a single wide codegen'd aggregate —
    * widening costs map-side sums, never another shuffle.
    */
  private[graft] def simhashSignaturesWide(spark: SparkSession, dir: String,
                                           extraBits: Int): DataFrame = {
    require(extraBits >= 1 && extraBits <= BandKeyUnitBits,
      s"extraBits must be in [1, $BandKeyUnitBits], got $extraBits")
    val tok = Tables.documentsParallel(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .withColumn("h", hash52(col("t")))
      .withColumn("h2", hash52b(col("t")))
    val bitPos2 = (0 until 4).flatMap(j =>
      (0 until extraBits).map(i => BandKeyUnitBits * j + i))
    val bitSums =
      (0 until SimHashBits).map(i =>
        sum(shiftright(col("h"), i).bitwiseAND(lit(1L))).as(s"b$i")) ++
      bitPos2.map(i =>
        sum(shiftright(col("h2"), i).bitwiseAND(lit(1L))).as(s"c$i")) :+
      count(lit(1)).as("n")
    val g = tok.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
    val sim = (0 until SimHashBits).map(i =>
      when(col(s"b$i") * 2 > col("n"), lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ bitwiseOR _)
    val sim2 = bitPos2.map(i =>
      when(col(s"c$i") * 2 > col("n"), lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ bitwiseOR _)
    g.select(col("doc_id"), sim.as("simhash"), sim2.as("simhash2"))
      .orderBy(col("doc_id"))
  }

  /** The wide d9 band layout: band j's key is its 13 base bits from
    * `simhash` plus its `extraBits` extra bits from `simhash2`, packed as
    * `base | (extra << 13)` — 4 disjoint chunks of `13 + extraBits`
    * signature bits, so the pigeonhole guarantee (hamming ≤ 3 over the
    * FULL 52+4e-bit signature → some chunk agrees exactly) holds
    * unchanged.
    */
  private def simhashBandsWide(sigs: DataFrame,
                              extraBits: Int): DataFrame =
    sigs.select(col("doc_id"), col("simhash"), col("simhash2"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .select(col("doc_id"), col("simhash"), col("simhash2"), col("band"),
        (expr(s"shiftright(simhash, band * $BandKeyUnitBits)" +
            s" & ${(1L << BandKeyUnitBits) - 1}") +
          expr(s"(shiftright(simhash2, band * $BandKeyUnitBits)" +
            s" & ${(1L << extraBits) - 1}) * ${1L << BandKeyUnitBits}"))
          .as("bkey"))

  /** Wide twin of [[simhashCandidates]] — raw band matches carrying BOTH
    * signature halves of both sides, so the caller's verify is two
    * codegen'd bit_counts with no further join.
    */
  private[graft] def simhashCandidatesWide(sigs: DataFrame,
                                           extraBits: Int): DataFrame = {
    val bands = simhashBandsWide(sigs, extraBits)
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.simhash").as("sh_a"), col("b.simhash").as("sh_b"),
        col("a.simhash2").as("sh2_a"), col("b.simhash2").as("sh2_b"))
  }

  /** d29: band-occupancy audit — per simhash band at the DERIVED width
    * ([[deriveExtraBandBits]]): how many buckets are occupied, the
    * largest bucket, and the closed-form band-join collision volume
    * Σ per-bucket C(s,2) — exactly the row count the d9 candidate
    * equi-join emits, priced at O(n). This is the observability face of
    * the width derivation: the saturation diagnosis of the soak runs,
    * registered as an oracle-gated query (the d24/
    * d26/t33 report pattern), so an operator can SEE whether the corpus
    * is width-bound (occupancy falls as keys widen) or pair-structure-
    * bound (big buckets are identical-signature replica clusters that
    * any exact-recall banding must enumerate) before paying for d9. At
    * gate scales the derivation is 0 and the DuckDB twin replays the
    * 13-bit layout bit-for-bit.
    */
  def bandOccupancyAudit(spark: SparkSession, dir: String): DataFrame = {
    val e = deriveExtraBandBits(
      Tables.documentsParallel(spark, dir).count().max(1L))
    val bands =
      if (e == 0) simhashBands(simhashSignatures(spark, dir))
      else simhashBandsWide(simhashSignaturesWide(spark, dir, e), e)
    bands.groupBy(col("band"), col("bkey"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("band"))
      .agg(count(lit(1)).cast("long").as("n_buckets"),
        max(col("c")).cast("long").as("max_occupancy"),
        // integer DIV like the DuckDB twin's `// 2` — exact at any
        // occupancy, where double `/` loses low bits past 2^53 (c ~9.5e7
        // in one hot bucket; r13 ADVICE on the media spelling)
        sum(expr("c * (c - 1) DIV 2")).cast("long")
          .as("collision_rows"))
      .select(col("band").cast("long").as("band"), col("n_buckets"),
        col("max_occupancy"), col("collision_rows"))
      .orderBy(col("band"))
  }

  /** d30: frozen-order drift audit — the WHEN for the containment
    * index's rebuild cadence. [[appendToContainmentIndex]]'s documented
    * trade is prefix-SELECTIVITY drift: `_cdf` freezes the rare-first
    * shingle order at build time, appended docs adopt it, correctness is
    * provably unaffected (any one consistent total order keeps the
    * verified pair set) — but as the corpus grows past the build
    * snapshot, build-time df ranks the prefix less precisely and the
    * candidate set can WIDEN. This audit prices that widening in closed
    * form (the d29/m16 pattern applied to the index lifecycle): over the
    * CURRENT corpus, the prefix-filter join's equi-key match volume
    * Σ_s prefixCount(s)·fullCount(s) under (a) the order a build over
    * `buildFilter` would have frozen (unseen shingles at df 0, exactly
    * the append path's lookup) and (b) the order a fresh rebuild would
    * derive — two corpus passes over per-shingle histograms, no pair is
    * ever materialized (Round12Spec pins the closed form equal to the
    * real prefix-equi-join's row count). `prefix_rows` is identical
    * under both orders by construction (prefix LENGTH per doc depends
    * only on its shingle count — the order moves which shingles fill it,
    * not how many; Round12Spec pins the equality), so any
    * candidate-volume gap is pure selectivity drift.
    *
    * r13 (the r12 verdict's missing step): the audit is a POLICY, not
    * just a signal — one row carrying both volumes, their `drift_ratio`
    * (frozen/fresh, the factor the frozen order inflates every probe's
    * candidate work by), and a `rebuild_recommended` verdict at the
    * derived [[DriftRebuildRatio]] threshold, replayed bit-for-bit by
    * the DuckDB twin like every other verdict column. The registered
    * fixture freezes over the even half (the d27/d28 corpus) with the
    * odd half appended. A sweep of the appended fraction × scale showed
    * the verdict flipping as staleness grows (measured r12: ratio 1.19→1.48 across staleness at sf1 —
    * never worth a rebuild — flipping past the threshold at sf3's
    * 7/8-stale 2.01 and sf10's 2.42/3.76).
    *
    * Cross-engine determinism: the order is (df asc, shingle STRING asc)
    * — the hashed shingles the probe pipelines sort by would tie-break
    * differently in DuckDB, and prefix MEMBERSHIP (unlike the verified
    * pair set) does depend on tie order.
    */
  def indexOrderDriftAudit(spark: SparkSession, dir: String,
                           threshold: Double = 0.8,
                           buildFilter: org.apache.spark.sql.Column =
                             col("doc_id") % 2 === 0): DataFrame = {
    val sh = shingleStrings(spark, dir).cache()
    val frozen = driftVolumeUnder(sh,
      sh.filter(buildFilter).groupBy(col("s")).agg(count(lit(1)).as("df")),
      threshold, "frozen_build")
    val fresh = driftVolumeUnder(sh,
      sh.groupBy(col("s")).agg(count(lit(1)).as("df")),
      threshold, "fresh_rebuild")
    materializeAndRelease(rebuildPolicyRow(frozen, fresh), sh)
  }

  /** The drift-ratio spelling shared by every index family's policy row
    * (d30, s17, s19, m19): frozen probe cost over fresh, rounded to 4dp.
    * The empty floor stays at 1.0 only when BOTH sides are 0 (nothing to
    * remove, nothing to rebuild); a fresh side of 0 against a non-zero
    * frozen side means a rebuild removes ALL removable cost — the true
    * ratio is unbounded — so the row emits a sentinel at or above the
    * family threshold (greatest(threshold, frozen), carrying the frozen
    * magnitude) and the verdict recommends the rebuild instead of
    * flooring it away (r13 ADVICE: the old unconditional 1.0 floor
    * inverted the verdict in exactly the edge where acting removes the
    * most). Each family's DuckDB twin replays the three-branch CASE
    * verbatim.
    */
  private[graft] def driftRatioOf(frozen: org.apache.spark.sql.Column,
                                  fresh: org.apache.spark.sql.Column,
                                  threshold: Double)
      : org.apache.spark.sql.Column =
    when(fresh === 0L && frozen === 0L, lit(1.0))
      .when(fresh === 0L,
        round(greatest(lit(threshold), frozen.cast("double")), 4))
      .otherwise(round(frozen.cast("double") / fresh.cast("double"), 4))

  /** Fold a frozen-order and a fresh-order volume row into the d30
    * policy row. Two 1-row global aggregates — the cross join is 1×1;
    * the empty corpus floors to (0, 0, 0, ratio 1.0, no rebuild), never
    * an error.
    */
  private[graft] def rebuildPolicyRow(frozen: DataFrame,
                                      fresh: DataFrame): DataFrame = {
    val ratio = driftRatioOf(col("frozen_candidate_rows"),
      col("fresh_candidate_rows"), DriftRebuildRatio)
    frozen
      .select(col("prefix_rows"),
        col("candidate_rows").as("frozen_candidate_rows"))
      .crossJoin(fresh.select(col("candidate_rows").as("fresh_candidate_rows")))
      .withColumn("drift_ratio", ratio)
      .withColumn("rebuild_recommended",
        (col("drift_ratio") >= DriftRebuildRatio).cast("long"))
  }

  /** d30's rebuild threshold: recommend a rebuild once the frozen
    * order's candidate volume reaches 2× a fresh rebuild's. Derived from
    * the d28 ledger's own probe-vs-build pricing rather than picked: a
    * probe's candidate + verify work scales with candidate volume, so
    * the frozen order's EXCESS work per probe is ≈ (drift_ratio − 1) ×
    * probe cost, while a rebuild costs one corpus shingle + df + sort
    * pass — measured at 0.92× a halfbatch probe at sf1 (23.1 s build vs
    * 25.1 s probe, the most rebuild-hostile scale in the r12 window) and
    * ~0.21× at sf3 (14.8 vs 70.3 s). At drift_ratio 2 the excess work of
    * a SINGLE probe already covers the rebuild even at the sf1 ratio; at
    * the scales where the index wins at all (past the d28 break-even,
    * see [[incrementalContainmentFromIndex]]) payback arrives ~5× sooner.
    * Conservative by design: the policy never recommends a rebuild that
    * one probe cannot amortize.
    */
  val DriftRebuildRatio = 2.0

  /** The d30 policy against a LIVE persisted index — the production-true
    * form (r13): where [[indexOrderDriftAudit]] re-derives the frozen
    * order from a `buildFilter` hypothesis (so the DuckDB twin can
    * replay it over shingle STRINGS), this audit reads the order the
    * index actually froze. The frozen candidate volume needs NO
    * recompute at all: `_cfull` already stores every corpus shingle at
    * its position `j` under the frozen order, so the prefix flag is the
    * same `j < n − ⌈τ·n⌉ + 1` filter every probe applies — the audit
    * prices exactly the candidate volume probes pay, orphan crash
    * residue included (orphans inflate probes until an append heals
    * them, so counting them is correct, not a bug). The fresh side
    * re-positions `_cfull`'s rows under a re-derived df — one extra
    * corpus pass, same closed form. Output is the same one-row policy
    * shape as d30 ([[rebuildPolicyRow]]).
    *
    * Test-verified rather than oracle-gated: the index orders by
    * (df, xxhash64-shingle) while d30's registered twin orders by
    * (df, shingle string) — prefix MEMBERSHIP depends on tie order, and
    * xxhash64 has no DuckDB spelling — so Round13Spec pins both volumes
    * exactly against [[driftVolumeUnder]] run in the HASHED spelling
    * instead (same closed form, same tie order as the index).
    */
  def containmentIndexDriftAudit(spark: SparkSession,
                                 threshold: Double = 0.8,
                                 prefix: String = "containment_index")
      : DataFrame = {
    val full = spark.table(s"${prefix}_cfull")
    val bound = col("n") -
      ceil(col("n").cast("double") * threshold - 1e-9) + 1
    val frozen = volumeOfPrefixFlags(
      full.select(col("s"), (col("j") < bound).cast("long").as("p")),
      "frozen_live")
    val fresh = driftVolumeUnder(
      full.select(col("doc_id"), col("s")),
      full.groupBy(col("s")).agg(count(lit(1)).as("df")),
      threshold, "fresh_rebuild")
    rebuildPolicyRow(frozen, fresh)
  }

  /** Rebuild the containment index under a NEW prefix from the live
    * index's own `_cdocs` (the index is self-contained: doc shingle sets
    * are corpus state, the order is derived) — the ACT step of the d30
    * policy, blue/green by design: `fromPrefix` is never mutated and
    * nothing reads `toPrefix` until the caller hands probes over to it,
    * so a crash mid-rebuild leaves only an unreferenced half-built
    * target that the next attempt overwrites. That sidesteps the
    * two-table consistency window an in-place rebuild would open
    * (`_cdf` and `_cfull` must change together — a probe against a
    * fresh order with stale positions silently loses candidate pairs,
    * the one failure class the lifecycle must never admit; append and
    * retract get away with sequential per-table swaps only because
    * their half-states degrade to verify-join drops, not wrong orders).
    * Post-rebuild the new index's drift ratio is 1.0 by construction
    * and its probe output is IDENTICAL to the old index's (any one
    * consistent total order preserves the verified pair set — the
    * Round10Spec theorem; re-pinned post-rebuild in Round13Spec).
    */
  def rebuildContainmentIndexTo(spark: SparkSession, fromPrefix: String,
                                toPrefix: String, buckets: Int = 32): Unit = {
    require(toPrefix != fromPrefix,
      "blue/green rebuild requires a distinct target prefix — an " +
        "in-place rebuild opens a two-table order-consistency window")
    dropIndexTables(spark, toPrefix)
    bucketAligned(spark.table(s"${fromPrefix}_cdocs"), buckets, "doc_id")
      .write.bucketBy(buckets, "doc_id").sortBy("doc_id")
      .mode("overwrite").saveAsTable(s"${toPrefix}_cdocs")
    deriveIndexFromCdocs(spark, toPrefix, buckets)
  }

  /** The policy consumed end-to-end: audit the live index, rebuild to
    * `toPrefix` iff the drift ratio clears `rebuildRatio`. Returns
    * whether a rebuild happened (false = `toPrefix` untouched; probes
    * stay on `fromPrefix` either way until the caller flips).
    * `rebuildRatio` defaults to the library-derived
    * [[DriftRebuildRatio]] (one-probe payback); a deployment whose own
    * probe/build cost ratio differs from the d28 ledger's passes its
    * own — the audit's `rebuild_recommended` column always reports the
    * library default, so the override never silently redefines the
    * registered d30 contract.
    */
  def maybeRebuildContainmentIndex(spark: SparkSession, fromPrefix: String,
                                   toPrefix: String, buckets: Int = 32,
                                   threshold: Double = 0.8,
                                   rebuildRatio: Double = DriftRebuildRatio)
      : Boolean = {
    val rebuild = containmentIndexDriftAudit(spark, threshold, fromPrefix)
      .collect()(0).getAs[Double]("drift_ratio") >= rebuildRatio
    if (rebuild)
      rebuildContainmentIndexTo(spark, fromPrefix, toPrefix, buckets)
    rebuild
  }

  /** Point `alias` at `toPrefix` — the blue/green lifecycle's COMMIT
    * step, and the only mutation probes ever observe: write the pointer
    * to a temp file, then atomically rename over the live one (the
    * shared [[LiveIndexPointer]] — see its scaladoc for why a pointer
    * FILE and not a view or 1-row table). Crash before the rename =
    * flip never happened (probes stay on the old, still-intact index);
    * after = fully happened.
    */
  def flipContainmentIndex(spark: SparkSession, toPrefix: String,
                           alias: String = "containment_index_live"): Unit =
    LiveIndexPointer.flip(spark, toPrefix, alias)

  /** The prefix `alias` currently points at; `None` before the first
    * flip. Probes resolve this ONCE per probe ([[incrementalContainmentLive]])
    * so all three table reads inside one probe see one consistent
    * prefix even if a rotate lands mid-probe.
    */
  def currentContainmentPrefix(spark: SparkSession,
                               alias: String = "containment_index_live")
      : Option[String] =
    LiveIndexPointer.current(spark, alias)

  /** Drop + delete a retired index's three tables — the lifecycle's GC
    * verb, public so a deployment that delays retirement (see
    * [[rotateContainmentIndex]]'s drain note) can run it once in-flight
    * probes drain.
    */
  def retireContainmentIndex(spark: SparkSession, prefix: String): Unit =
    dropIndexTables(spark, prefix)

  /** Delete `alias`'s pointer file — decommissioning teardown
    * ([[LiveIndexPointer.unlink]]: the pointer is a plain warehouse
    * file, so unlike the in-memory catalog entries it would otherwise
    * outlive the session and point the next deployment at tables that
    * no longer exist).
    */
  def unlinkContainmentPointer(spark: SparkSession,
                               alias: String = "containment_index_live")
      : Unit =
    LiveIndexPointer.unlink(spark, alias)

  /** [[incrementalContainmentFromIndex]] against whatever index `alias`
    * currently points at — the probe spelling a deployment actually
    * runs once rotation exists, so a rotate never requires re-deploying
    * probe code. Resolves the pointer exactly once.
    */
  def incrementalContainmentLive(spark: SparkSession, dir: String,
                                 alias: String = "containment_index_live",
                                 threshold: Double = 0.8,
                                 release: Boolean = true,
                                 batchFilter: org.apache.spark.sql.Column =
                                   col("doc_id") % 2 =!= 0): DataFrame = {
    val prefix = currentContainmentPrefix(spark, alias).getOrElse(
      throw new IllegalStateException(
        s"no live containment index: pointer '$alias' has never been " +
          "flipped — build one (persistContainmentIndex) and " +
          "flipContainmentIndex to it"))
    incrementalContainmentFromIndex(spark, dir, prefix, threshold, release,
      batchFilter)
  }

  /** The d30 policy consumed to CUTOVER, not just to rebuild — the shared
    * [[IndexRotation.rotate]] skeleton (heal idle color → audit → rebuild
    * → flip → retire; see its scaladoc for the crash-forward analysis —
    * the pointer rename is the single commit point) with the containment
    * family's drop/audit/rebuild plugged in. Returns whether a rotation
    * happened. Deployments with concurrent probe sessions delay the
    * retire via [[retireContainmentIndex]] (the skeleton's drain note).
    */
  def rotateContainmentIndex(spark: SparkSession,
                             alias: String = "containment_index_live",
                             buckets: Int = 32, threshold: Double = 0.8,
                             rebuildRatio: Double = DriftRebuildRatio)
      : Boolean =
    IndexRotation.rotate(spark, alias, rebuildRatio,
      drop = dropIndexTables(spark, _),
      auditRatio = from => containmentIndexDriftAudit(spark, threshold, from)
        .collect()(0).getAs[Double]("drift_ratio"),
      rebuild = rebuildContainmentIndexTo(spark, _, _, buckets))

  /** Distinct (doc_id, shingle STRING) pairs — d30's unhashed spelling
    * of [[docShingles]] (see the determinism note there).
    */
  private[graft] def shingleStrings(spark: SparkSession, dir: String): DataFrame =
    Tables.documentsParallel(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(shinglesOfTokens(col("toks"))).as("s"))

  /** Each shingle occurrence positioned under the total order (df asc,
    * s asc) that `dfT` induces — unseen shingles at df 0, the append
    * path's lookup. One per-doc window pass; partitions are bounded by a
    * document's shingle count.
    */
  private[graft] def driftPositions(sh: DataFrame, dfT: DataFrame,
                                    threshold: Double): DataFrame =
    // r15: hash-agg collect + in-array sort + posexplode (the
    // ngramCandidatesOf shape) instead of TWO per-doc window passes
    // (row_number + partition count) — one Exchange and no per-partition
    // sort; position j and count n are the posexplode index and the
    // array size under the same (df asc, s asc) order the window used.
    sh.join(dfT, Seq("s"), "left").na.fill(0L, Seq("df"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("s")))).as("ordered"))
      .select(col("doc_id"), size(col("ordered")).cast("long").as("n"),
        posexplode(col("ordered")).as(Seq("j", "e")))
      .select(col("doc_id"), col("e.s").as("s"), col("j").cast("long").as("j"),
        col("n"))
      .withColumn("in_prefix",
        col("j") < (col("n") -
          ceil(col("n").cast("double") * threshold - 1e-9) + 1))

  /** The d30 closed form under one order: per-shingle prefix/full
    * occurrence histograms, then Σ pcnt·fcnt. Empty corpus → one row of
    * zeros (the report floor, never an error).
    */
  private[graft] def driftVolumeUnder(sh: DataFrame, dfT: DataFrame,
                                      threshold: Double,
                                      kind: String): DataFrame =
    volumeOfPrefixFlags(
      driftPositions(sh, dfT, threshold)
        .select(col("s"), col("in_prefix").cast("long").as("p")),
      kind)

  /** The closed form's aggregation tail over pre-computed prefix flags
    * `(s, p)` — shared by [[driftVolumeUnder]] (which derives positions
    * under a hypothetical order) and [[containmentIndexDriftAudit]]
    * (whose frozen flags come straight from the persisted `_cfull`
    * positions, no recompute).
    */
  private[graft] def volumeOfPrefixFlags(flags: DataFrame,
                                         kind: String): DataFrame =
    flags.groupBy(col("s"))
      .agg(count(lit(1)).as("fcnt"), sum(col("p")).as("pcnt"))
      .agg(coalesce(sum(col("pcnt")), lit(0L)).cast("long").as("prefix_rows"),
        coalesce(sum(col("pcnt") * col("fcnt")), lit(0L)).cast("long")
          .as("candidate_rows"))
      .select(lit(kind).as("order_kind"), col("prefix_rows"),
        col("candidate_rows"))

  /** d9's REGISTERED form: [[simhashNearDupPairs]] with the band width
    * derived from the corpus count ([[deriveExtraBandBits]] — the d13/d14
    * auto seam applied to the last pinned sizing parameter in the
    * registered surface). `extra = 0` (every corpus up to 8192 docs: the
    * gate AND the sf0.1 off-gate sweep) is literally the 52-bit pipeline,
    * so the static DuckDB oracle keeps hash-checking it; beyond that the
    * signature widens to 52 + 4·extra bits and the band keys to
    * 13 + extra — at the 500k-doc 100× soak extra = 6, shrinking the
    * band join's expected random-collision volume 2⁶ = 64×. The Hamming
    * radius stays absolute (3 bits) per the WWW'07 simhash convention;
    * the wide form is property-tested against the brute-force wide-
    * signature join in Round10Spec.
    */
  def simhashNearDupPairsAuto(spark: SparkSession, dir: String,
                              maxHamming: Int = 3): DataFrame = {
    val e = deriveExtraBandBits(
      Tables.documentsParallel(spark, dir).count().max(1L))
    if (e == 0) simhashNearDupPairs(spark, dir, maxHamming)
    else {
      val sigs = simhashSignaturesWide(spark, dir, e).cache()
      // filter-before-distinct, exactly like the base form (r9)
      val result = simhashCandidatesWide(sigs, e)
        .withColumn("hamming",
          (bit_count(col("sh_a").bitwiseXOR(col("sh_b"))) +
            bit_count(col("sh2_a").bitwiseXOR(col("sh2_b")))).cast("long"))
        .filter(col("hamming") <= maxHamming)
        .select(col("id_a"), col("id_b"), col("hamming"))
        .distinct()
        .orderBy(col("id_a"), col("id_b"))
      materializeAndRelease(result, sigs)
    }
  }

  /** Banded sign-LSH layout for d5: `EmbBands` bands of `EmbBandBits`
    * random-hyperplane sign bits each (24 hyperplanes total). A pair is a
    * candidate iff at least one band's bits agree exactly, so the
    * candidate join is `EmbBands` equi-joins on small integer keys —
    * linear in corpus size + collision count, like d3/d9 banding.
    *
    * Tuning rule at scale: per-pair recall is 1-(1-p^R)^B with p =
    * 1 - θ/π per bit; bits-per-band R must grow with log₂(corpus/bucket)
    * so buckets stay small (at 100 TB of ~0.95-cosine near-dups: R=16,
    * B=16 gives recall ≈0.96 with 65k buckets per band). The defaults
    * here (R=3, B=8) are sized for the isotropic test corpus, where the
    * planted-pair cosine is ≈0.46 (p≈0.65 → recall ≈0.92, measured in
    * DedupSpec against the naive baseline). `bandBits <= 0` derives R
    * from the corpus count (bucket ≈ [[EmbTargetBucket]] vectors — the
    * rule that at soak scale kept candidates 60× below the fixed-R
    * disk-filling run), matching [[EmbBandBits]] exactly at gate scale so
    * the oracle twin stays static.
    */
  val EmbBands = 8
  val EmbBandBits = 3
  val EmbTargetBucket = 60

  /** The d5 auto-derivation: bits-per-band for a corpus of `n` vectors —
    * THE single spelling, shared by production and the gate-scale
    * coupling test so formula drift cannot escape the assertion.
    */
  def deriveBandBits(n: Long): Int =
    math.max(EmbBandBits, math.round(
      math.log(n.toDouble / EmbTargetBucket) / math.log(2.0)).toInt)

  /** d5: embedding near-dup pairs — banded hyperplane-LSH candidates,
    * verified with the exact cosine ≥ threshold. The shipped plan is
    * linear: signature generation is map-side (24 fused dot products per
    * vector against literal hyperplanes), the band self-join touches only
    * colliding bucket members, and the quadratic all-pairs form survives
    * solely as the test-scale baseline
    * ([[embeddingNearDupPairsNaive]], recall asserted in DedupSpec).
    */
  def embeddingNearDupPairs(spark: SparkSession, dir: String,
                            threshold: Double = 0.45,
                            release: Boolean = true,
                            bands: Int = EmbBands,
                            bandBits: Int = 0): DataFrame = {
    graft.expressions.VectorExpressions.register(spark)
    import graft.functions.VectorFunctions.hyperplaneBucketSql
    val (effBands, bits) =
      if (bandBits > 0) (bands, bandBits)
      else {
        val b = deriveBandBits(Tables.embeddings(spark, dir).count().max(1L))
        // the signature lives in one long; when wide bands are needed,
        // trade band count for band width (recall 1-(1-p^R)^B degrades
        // gracefully; candidate volume is what kills runs, not B)
        (math.min(bands, 63 / b), b)
      }
    val nBits = effBands * bits
    // normalize once per vector (the exact-verify stage is then one fused
    // dot per candidate); the signature is computed on the RAW embedding —
    // sign bits are scale-invariant, and the oracle twin replays the same
    // %.9f hyperplane literals for bit-identical buckets.
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
        expr(hyperplaneBucketSql("embedding", 64, nBits)).as("sig"),
        sqrt(expr("array_dot(embedding, embedding)")).as("nrm"))
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double") / col("nrm")).as("ne"),
        col("sig"))
      .cache()
    val banded = base
      .select(col("vec_id"), col("sig"),
        explode(sequence(lit(0), lit(effBands - 1))).as("band"))
      .select(col("vec_id"), col("band"),
        expr(s"shiftright(sig, band * $bits) & ${(1L << bits) - 1}")
          .as("bkey"))
    val candidates = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .distinct()
    val verified = candidates
      .join(base.select(col("vec_id").as("id_a"), col("ne").as("va")), "id_a")
      .join(base.select(col("vec_id").as("id_b"), col("ne").as("vb")), "id_b")
      .select(col("id_a"), col("id_b"), expr("array_dot(va, vb)").as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos_sim"))
      .orderBy(col("id_a"), col("id_b"))
    // release=false keeps the live plan inspectable (PlanSpec) at the cost
    // of leaving the cache registered
    if (release) materializeAndRelease(verified, base) else verified
  }

  /** d13: INCREMENTAL embedding near-dup — [[incrementalDedup]]'s shape
    * applied to the embedding LSH of [[embeddingNearDupPairs]]: a new
    * batch of vectors (odd vec_ids stand in) probes the corpus side (even
    * vec_ids) cross-side ONLY — corpus×corpus pairs are never formed, so
    * per-batch cost is O(batch + collisions) regardless of corpus size.
    * Same banded hyperplane signatures and exact-cosine verify as d5. The
    * REGISTERED form (`d13_auto_banded`) passes `bandBits = 0`: bits
    * derive from the corpus count ([[deriveBandBits]], d5's auto seam) —
    * the honest configuration at soak scale and beyond, replayed by the
    * DuckDB twin as a scalar-subquery sizing over the same count. The
    * pinned default survives for gate-scale baselines (r5's registration,
    * equality with the auto form asserted in DedupSpec); a persisted
    * corpus index follows [[persistCorpusBandIndex]]'s bucketed layout
    * verbatim when the embedding corpus is long-lived.
    */
  def incrementalEmbeddingDedup(spark: SparkSession, dir: String,
                                threshold: Double = 0.45,
                                bands: Int = EmbBands,
                                bandBits: Int = EmbBandBits,
                                release: Boolean = true): DataFrame = {
    graft.expressions.VectorExpressions.register(spark)
    import graft.functions.VectorFunctions.hyperplaneBucketSql
    // bandBits <= 0 → derive from the corpus (d5's auto seam, same band
    // cap so the signature stays inside one long); the pinned default is
    // the oracle-parity gate-scale config
    val (effBands, bits) =
      if (bandBits > 0) (bands, bandBits)
      else {
        val b = deriveBandBits(Tables.embeddings(spark, dir).count().max(1L))
        (math.min(bands, 63 / b), b)
      }
    val nBits = effBands * bits
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
        expr(hyperplaneBucketSql("embedding", 64, nBits)).as("sig"),
        sqrt(expr("array_dot(embedding, embedding)")).as("nrm"))
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double") / col("nrm")).as("ne"),
        col("sig"))
      .cache()
    val banded = base
      .select(col("vec_id"), col("sig"),
        explode(sequence(lit(0), lit(effBands - 1))).as("band"))
      .select(col("vec_id"), col("band"),
        expr(s"shiftright(sig, band * $bits) & ${(1L << bits) - 1}")
          .as("bkey"))
    val candidates = banded.filter(col("vec_id") % 2 =!= 0).as("a")
      .join(banded.filter(col("vec_id") % 2 === 0).as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey"))
      .select(col("a.vec_id").as("batch_id"), col("b.vec_id").as("corpus_id"))
      .distinct()
    val verified = candidates
      .join(base.select(col("vec_id").as("batch_id"), col("ne").as("va")), "batch_id")
      .join(base.select(col("vec_id").as("corpus_id"), col("ne").as("vb")), "corpus_id")
      .select(col("batch_id"), col("corpus_id"), expr("array_dot(va, vb)").as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("batch_id"), col("corpus_id"), round(col("cos"), 4).as("cos_sim"))
      .orderBy(col("batch_id"), col("corpus_id"))
    if (release) materializeAndRelease(verified, base) else verified
  }

  /** d14: semantic dedup (SemDeDup shape: cluster the embedding corpus,
    * prune near-identical vectors within each cluster) — coarse cells come
    * from s3's seeded quantizer ([[Similarity.coarseQuantizer]]), and a
    * vector is pruned iff an earlier (smaller vec_id) same-cell vector
    * sits within cosine `threshold`; the keep-first rule makes the pruned
    * set a pure function of the corpus. Cross-cell near-dups are
    * intentionally out of scope — that is d5's LSH job; SemDeDup's bet is
    * that semantic duplicates share a cluster, which caps the pairing cost
    * at Σ|cell|² instead of n².
    *
    * Scale: the cell self-join shuffles on `cell` only; with the auto
    * quantizer (`subBits = Similarity.deriveSubBits(...)`) cells number
    * ≈√n/2 so expected cell width is ≈2√n and the pair count stays
    * ~n^1.5 — the REGISTERED form ([[semanticDedupAuto]]) uses exactly
    * that derivation, replayed by the DuckDB twin as a scalar subquery;
    * `subBits = 0` (pure label cells) survives as the r5 parity baseline.
    * A pathologically hot cell (one cluster owning the corpus) is the
    * q18 skew case: salt the cell id and union the salted pair blocks.
    */
  def semanticDedup(spark: SparkSession, dir: String,
                    threshold: Double = 0.45, subBits: Int = 0): DataFrame = {
    graft.expressions.VectorExpressions.register(spark)
    val raw = Tables.embeddings(spark, dir)
    val (assigned, _) = Similarity.coarseQuantizer(raw, subBits)
    val a = assigned.select(col("cent_id").as("cell"),
      col("vec_id").as("u"), col("embedding").as("ea"))
    val b = assigned.select(col("cent_id").as("cell"),
      col("vec_id").as("vec_id"), col("embedding").as("eb"))
    a.join(b, Seq("cell")).filter(col("u") < col("vec_id"))
      .select(col("vec_id"), col("cell"), col("u"),
        graft.expressions.VectorExpressions
          .arrayCosine(col("ea"), col("eb")).as("cs"))
      .filter(col("cs") >= threshold)
      // keep-first winner: min (u, cos) struct = the earliest qualifying
      // keeper (u is unique per pair, so the cs field never decides)
      .groupBy(col("vec_id"), col("cell"))
      .agg(min(struct(col("u"), round(col("cs"), 4).as("cs"))).as("m"))
      .select(col("vec_id"), col("cell"),
        col("m").getField("u").as("pruned_by"),
        col("m").getField("cs").as("cos_sim"))
      .orderBy(col("vec_id"))
  }

  /** d14's REGISTERED form: [[semanticDedup]] with `subBits` derived from
    * corpus statistics ([[Similarity.deriveSubBits]], ncells ≈ √n/2) —
    * the scale path is the graded surface, not a pinned parity parameter.
    * The derivation is a deterministic function of (count, distinct
    * labels), so the DuckDB twin replays the same sizing as a scalar
    * subquery and hash-matches at any scale factor; at the gate scale
    * (500 vectors, 10 labels) it yields subBits = 0, the exact
    * configuration the r5 pinned registration ran (equality asserted in
    * DedupSpec).
    */
  def semanticDedupAuto(spark: SparkSession, dir: String,
                        threshold: Double = 0.45): DataFrame = {
    val raw = Tables.embeddings(spark, dir)
    val statsRow = raw.agg(count(lit(1)), countDistinct(col("label"))).collect()(0)
    semanticDedup(spark, dir, threshold,
      Similarity.deriveSubBits(statsRow.getLong(0), statsRow.getLong(1)))
  }

  /** d15: cross-source n-gram overlap matrix — for every OVERLAPPING pair
    * of corpus sources, how much content they share (distinct word 8-grams
    * in both, plus the Jaccard of their shingle sets); pairs sharing zero
    * 8-grams are absent by construction (inner join on the shingle hash) —
    * a consumer scanning for LOW-overlap pairs treats absence as zero.
    * This is the "which crawls duplicate each other" report that decides
    * dedup ORDER at ingest: a source pair with high overlap should flow
    * through one dedup partition-key domain rather than being cleaned
    * independently.
    *
    * Shape (r15/r16): ONE corpus-sized aggregation — `collect_set(source)`
    * per shingle — then a per-shingle pair fan-out. A shingle present in
    * k sources expands to k·(k-1)/2 rows, bounded by the SOURCE count,
    * never by corpus size, so the fan-out output is ≤ |distinct
    * shingles|·C(|sources|,2) and linear in the corpus for a fixed source
    * vocabulary. **The fan-out bound is n_sources-shaped** (the same
    * bound named on Curation's stage-7 broadcast): real crawls run
    * thousands of sources, so a boilerplate shingle shared by s sources
    * would cost C(s,2) pair rows from ONE input row — the r16 two-level
    * explode below streams those rows through the map-side pair
    * aggregation with O(s) transient state per row instead of
    * materializing the full C(s,2) struct array per shingle (§2.5 skew /
    * §5 per-task memory: at s = 10⁴ the one-shot array is ~10⁸ structs in
    * a single task). Per-source totals ride a broadcast (|sources| rows).
    * Shingles are the same 64-bit hashes as d2/d8/d10.
    */
  def sourceOverlapMatrix(spark: SparkSession, dir: String,
                          n: Int = 8, release: Boolean = true): DataFrame = {
    // cache barrier: same InferFiltersFromGenerate trap as d8/d10
    val sh = Tables.documentsParallel(spark, dir)
      .select(col("source"), tokens(col("text")).as("toks"))
      .select(col("source"), shinglesOfTokens(col("toks"), n).as("sh_str"))
      .select(col("source"), transform(col("sh_str"), s => xxhash64(s)).as("sh"))
      .cache()
    // r15 (guide §2.4): ONE corpus-sized aggregation instead of a global
    // distinct + equi self-join on the shingle hash (two more corpus-
    // sized Exchanges). collect_set(source) per shingle subsumes the
    // distinct; the ≤C(|sources|,2) pair fan-out per shingle is the same
    // row set the self-join produced, generated per row from the sorted
    // source list (ascending order gives source_a < source_b); totals
    // roll up from the same shingle-sized frame, never the corpus again.
    val bySource = sh
      .select(col("source"), explode(col("sh")).as("s"))
      .groupBy(col("s"))
      .agg(sort_array(collect_set(col("source"))).as("ss"))
      .cache()
    val totals = bySource.select(explode(col("ss")).as("source"))
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("tot"))
    // two-level explode (r16, §2.5/§5): the r15 form built the whole
    // C(s,2) pair array per shingle row before exploding — O(s²)
    // transient memory in one task for a hot shingle. Exploding the
    // source list first (≤ s rows, each carrying the O(s) tail slice)
    // and the pair partner second streams the same pair set through the
    // map-side aggregation with O(s) per-row state; the generated rows
    // and the aggregated result are identical.
    val result = bySource
      .select(posexplode(col("ss")).as(Seq("i", "source_a")), col("ss"))
      .select(col("source_a"),
        explode(slice(col("ss"), col("i") + lit(2), size(col("ss")))).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).cast("long").as("n_shared_ngrams"))
      .join(broadcast(totals.select(col("source").as("source_a"), col("tot").as("ta"))),
        "source_a")
      .join(broadcast(totals.select(col("source").as("source_b"), col("tot").as("tb"))),
        "source_b")
      .select(col("source_a"), col("source_b"), col("n_shared_ngrams"),
        round(col("n_shared_ngrams").cast("double") /
          (col("ta") + col("tb") - col("n_shared_ngrams")) + 1e-9, 4)
          .as("jaccard"))
      .orderBy(col("source_a"), col("source_b"))
    if (release) materializeAndRelease(result, sh, bySource)
    else result
  }

  /** d16: contamination-safe train/test split — the held-out-split
    * construction step of an eval-aware training pipeline. Documents are
    * assigned train/test by a content-independent deterministic hash of
    * doc_id (1-in-`testMod` to test), then every train document sharing
    * ANY distinct word 8-gram with the test split is flagged (kept =
    * false) — d8's decontamination semantics, but against a split drawn
    * from the same corpus rather than an external benchmark, so the join
    * is a SHUFFLE equi-join on the shingle hash: the test side is a fixed
    * fraction of the corpus (10% here) and does NOT fit in a broadcast at
    * 100 TB, unlike d8's small benchmark set. Both sides are distinct
    * 8-byte hashes, map-side combined before the exchange.
    *
    * The split hash is [[graft.functions.TextFunctions.hash52]] of
    * "split:<doc_id>" — replayed verbatim by the DuckDB twin, stable
    * across retries/backfills, and independent of text edits (a document
    * revision never migrates across the split boundary).
    */
  def trainTestSplitLeakage(spark: SparkSession, dir: String,
                            testMod: Int = 10, n: Int = 8,
                            release: Boolean = true): DataFrame = {
    val sh = Tables.documentsParallel(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), shinglesOfTokens(col("toks"), n).as("sh_str"))
      .select(col("doc_id"), transform(col("sh_str"), s => xxhash64(s)).as("sh"))
      .withColumn("split",
        when(hash52(concat(lit("split:"), col("doc_id").cast("string")))
          % testMod === 0, "test").otherwise("train"))
      .cache()
    val testShingles = sh.filter(col("split") === "test")
      .select(explode(col("sh")).as("s")).distinct()
    val shared = sh.filter(col("split") === "train")
      .select(col("doc_id"), explode(col("sh")).as("s"))
      .join(testShingles, Seq("s"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_shared"))
    val result = sh.select(col("doc_id"), col("split"))
      .join(shared, Seq("doc_id"), "left")
      .select(col("doc_id"), col("split"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .withColumn("kept",
        col("split") === "test" || col("n_shared") === 0L)
      .orderBy(col("doc_id"))
    if (release) materializeAndRelease(result, sh) else result
  }

  /** The naive all-pairs cosine self-join — the correctness baseline for
    * [[embeddingNearDupPairs]]; O(n²) pairs, test-scale only.
    */
  def embeddingNearDupPairsNaive(spark: SparkSession, dir: String,
                                 threshold: Double = 0.45): DataFrame = {
    graft.expressions.VectorExpressions.register(spark)
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
        sqrt(expr("array_dot(embedding, embedding)")).as("nrm"))
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double") / col("nrm")).as("ne"))
    e.select(col("vec_id").as("id_a"), col("ne").as("va"))
      .join(e.select(col("vec_id").as("id_b"), col("ne").as("vb")),
        col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), expr("array_dot(va, vb)").as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos_sim"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Window width (tokens) for [[longestSharedSpan]] — interpolated into
    * the DuckDB twin so operator and oracle cannot desync.
    */
  val SpanWindowTokens = 8

  /** d21: longest shared-span detection — for each document, the longest
    * RUN of consecutive token positions whose `n`-token window also occurs
    * in some OTHER document. This is the positional strengthening of d10:
    * d10 reports WHAT share of a doc's n-grams is corpus-duplicated; d21
    * reports WHERE and HOW LONG the duplication is contiguous — the signal
    * exact-substring dedup (Lee et al., "Deduplicating Training Data Makes
    * Language Models Better") removes spans by (their suffix-array "shared
    * substring >= 50 tokens" rule is exactly `max_span_tokens >= 50` here
    * with perfect recall at span granularity n).
    *
    * Scale shape: one shuffle to reduce each window hash to its (min,max)
    * owner doc — membership in >=2 docs is `mn < doc OR mx > doc`, no
    * count-distinct, no pair enumeration — one join back, then the
    * gaps-and-islands run length entirely inside a PER-DOCUMENT window
    * (parallel across docs; a document's window count is bounded by its
    * own length, so no partition outgrows its doc). Linear in corpus size
    * like d10, even where near-dup PAIRS would be quadratic.
    *
    * Window hashing (r8): the n-token window hash is the codegen'd
    * [[graft.expressions.WindowHashes]] rolling combination of per-token
    * xxhash64 values — O(doc_len) longs per document, replacing the r7
    * per-window `concat_ws` string build that was O(doc_len × n) BYTES
    * (the suite's single most expensive constant factor at 10.7 s). Same
    * negligible-collision grouping contract d10/d8 ride (the failure
    * mode is a pessimistic span, never a miss); the oracle twin groups
    * windows by their joined STRING — the equality the hash represents.
    */
  def longestSharedSpan(spark: SparkSession, dir: String,
                        n: Int = SpanWindowTokens,
                        release: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.expressions.WindowHashes.register(spark)
    val w = Tables.documentsParallel(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        expr(s"window_hashes(transform(toks, t -> xxhash64(t)), $n)").as("whs"))
      .select(col("doc_id"), posexplode(col("whs")).as(Seq("pos", "h")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("h"))
      .cache()
    val owners = w.groupBy(col("h"))
      .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
    val flagged = w.join(owners, "h")
      .select(col("doc_id"), col("pos"),
        (col("mn") < col("doc_id") || col("mx") > col("doc_id")).as("shared"))
    // r15 (guide §2.4): totals, and the gaps-and-islands longest run,
    // in ONE grouped pass — the r14 form evaluated `flagged` twice (the
    // corpus-sized w⋈owners join ran once for the run branch and once
    // for the totals branch), ran a per-doc row_number window plus two
    // more aggregations for the runs, and joined the branches back. The
    // longest run of CONSECUTIVE shared positions is a per-row fold over
    // the sorted shared-position list (the t9 sorted-fold trick with
    // successor instead of equality); the list is bounded by the doc's
    // own window count, the same bound the old window partition carried.
    val maxRunOf = {
      val sps = col("sps")
      when(size(sps) === 0, lit(0L)).otherwise(
        when(size(sps) === 1, lit(1L)).otherwise(
          aggregate(sequence(lit(2), size(sps)),
            struct(lit(1L).as("run"), lit(1L).as("best")),
            (acc, i) => {
              val run = when(
                element_at(sps, i) === element_at(sps, i - 1) + 1L,
                acc.getField("run") + 1L).otherwise(lit(1L))
              struct(run.as("run"),
                greatest(acc.getField("best"), run).as("best"))
            },
            acc => acc.getField("best"))))
    }
    val result = flagged.groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_windows"),
        sum(when(col("shared"), 1L).otherwise(0L)).cast("long").as("n_shared"),
        sort_array(collect_list(when(col("shared"), col("pos")))).as("sps"))
      .select(col("doc_id"), col("n_windows"), col("n_shared"),
        maxRunOf.as("max_run"))
      .withColumn("max_span_tokens",
        when(col("max_run") > 0, col("max_run") + (n - 1)).otherwise(0L)
          .cast("long"))
      .orderBy(col("doc_id"))
    if (release) materializeAndRelease(result, w) else result
  }

  /** d22: cluster-cohesion audit — per near-dup cluster, the edge-level
    * quality report dedup reviews run before trusting a survivor pass:
    * member count, verified-edge count, average / minimum pairwise
    * Jaccard over the 4dp-ROUNDED pair values (the cross-engine boundary
    * pin), and edge density against the complete graph. A cluster with
    * low min-Jaccard or low density is a CHAIN — pairs glued through
    * intermediates that are not pairwise similar — exactly the clusters
    * where min-id survivor selection (d7) silently drops non-duplicates;
    * this query is how you find them.
    *
    * Cost shape: d3's pairs and their connected components computed ONCE
    * and shared (unlike composing d3+d6 naively, which would run the LSH
    * join twice); everything after is key-grouped aggregation on the
    * pair set — no new joins against the corpus.
    */
  def clusterCohesion(spark: SparkSession, dir: String,
                      threshold: Double = 0.8): DataFrame = {
    val pairs = minhashLshPairs(spark, dir, threshold).cache()
    val clusters = connectedComponents(
      pairs.select(col("id_a"), col("id_b")), 100)
      .withColumnRenamed("node", "doc_id")
      .withColumnRenamed("root", "cluster_root")
    // both endpoints share a root by construction — label via id_a
    val edges = pairs.join(
      clusters.select(col("doc_id").as("id_a"), col("cluster_root")), "id_a")
    val sizes = clusters.groupBy(col("cluster_root"))
      .agg(count(lit(1)).cast("long").as("n_docs"))
    val result = edges.groupBy(col("cluster_root"))
      .agg(count(lit(1)).cast("long").as("n_edges"),
        round(avg(col("jaccard")) + 1e-9, 4).as("avg_jaccard"),
        round(min(col("jaccard")), 4).as("min_jaccard"))
      .join(sizes, "cluster_root")
      .withColumn("density",
        round(col("n_edges").cast("double") * 2 /
          (col("n_docs") * (col("n_docs") - 1)).cast("double") + 1e-9, 4))
      .select(col("cluster_root"), col("n_docs"), col("n_edges"),
        col("avg_jaccard"), col("min_jaccard"), col("density"))
      .orderBy(col("cluster_root"))
    materializeAndRelease(result, pairs)
  }

  /** The d24 sweep grid — the candidate thresholds a dedup pass is tuned
    * over, interpolated into the DuckDB twin. The FLOOR is the exactness
    * boundary: the single PPJoin pass runs at the lowest value, so every
    * grid row aggregates a provably complete pair set.
    */
  val ThresholdSweep: Seq[Double] = Seq(0.7, 0.75, 0.8, 0.85, 0.9)

  /** d24: dedup threshold sensitivity sweep — before committing a corpus
    * to a near-dup pass at τ = 0.8, curation teams ask how the damage
    * curve moves with τ: how many pairs, and how many documents, does
    * each candidate threshold implicate? One row per grid value: pair
    * count, affected-document count, and the corpus fraction affected.
    *
    * Scale shape: ONE exact PPJoin pass ([[ngramJaccardPairs]]) at the
    * grid FLOOR — the prefix filter keeps it an exact similarity join at
    * corpus scale — then the whole grid is ONE grouped pass over the
    * (small) cached pair set (r9; previously |grid| separate
    * countDistinct shuffles): each pair fans out to the grid values its
    * jaccard clears (≤ |grid| rows) × its two endpoints, and a single
    * groupBy computes every grid row's pair count (count/2 — each pair
    * contributes both endpoints) and distinct-doc count together. Grid
    * values no pair clears are restored by a left join from the literal
    * grid frame, mirroring the twin's `ks LEFT JOIN u` shape. Grid
    * comparisons bind on the 4dp-ROUNDED jaccard (the s9 boundary-pin
    * convention), so a pair sitting exactly on a grid value lands the
    * same side in both engines.
    */
  def thresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    val floor = ThresholdSweep.min
    val pairs = ngramJaccardPairs(spark, dir, threshold = floor).cache()
    val nDocs = Tables.documentsParallel(spark, dir).count()
    val counts = pairs
      .select(explode(filter(array(ThresholdSweep.map(lit): _*),
          t => col("jaccard") >= t)).as("threshold"),
        col("id_a"), col("id_b"))
      .select(col("threshold"),
        explode(array(col("id_a"), col("id_b"))).as("doc_id"))
      .groupBy(col("threshold"))
      .agg((count(lit(1)) / 2).cast("long").as("n_pairs"),
        countDistinct(col("doc_id")).as("n_docs_affected"))
    import spark.implicits._
    val grid = ThresholdSweep.toDF("threshold")
      .join(counts, Seq("threshold"), "left")
      .select(col("threshold"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs_affected"), lit(0L)).as("n_docs_affected"))
      .withColumn("frac_affected",
        // empty-corpus guard: 0/0 would be NaN, and a 0-doc sweep's
        // affected fraction is zero by definition
        if (nDocs == 0) lit(0.0)
        else round(col("n_docs_affected").cast("double") / nDocs + 1e-9, 6))
      .orderBy(col("threshold"))
    materializeAndRelease(grid, pairs)
  }
}
