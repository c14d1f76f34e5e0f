package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main — one JSON line on stdout per the driver contract.
  *
  * Each query is forced end-to-end with a `noop` sink (full materialization
  * of every row, no driver collect, no count() shortcuts), after a warmup
  * pass that pays JVM/codegen/broadcast warmup outside the timed region.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").trim.toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // backstop for the per-query System.gc() in the sweep: reap
      // unreferenced shuffle files every minute instead of the 30-minute
      // default (soak-scale suites write GBs of shuffle per query)
      .config("spark.cleaner.periodicGC.interval", "1min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def runOnce(name: String): Double = {
      val t0 = System.nanoTime()
      // the sweep runs in finally — a FAILING query leaves its own interim
      // caches orphaned (materializeAndRelease only fires on success), and
      // skipping the sweep there would pin them into the NEXT query's
      // timed run, exactly the pressure regime the sweep exists to remove
      try {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch { case _: Throwable => -1.0 }
      finally {
        // OUTSIDE the timed region: drop every persistent RDD left behind
        // by the run. Queries release their own caches
        // (materializeAndRelease), but the localCheckpoint blocks of each
        // RESULT stay pinned until the JVM happens to GC the RDD reference
        // — with a large heap that is approximately never, so blocks
        // accumulate across the session and later queries run under
        // storage-memory pressure. Measured: d11 is 1.6 s in a fresh
        // session but 4.5 s as query #31 of the suite; with this sweep
        // every query times against clean storage. Try-wrapped: an
        // exception HERE (e.g. a session already torn down by the failure
        // the catch above absorbed) would replace the -1.0 failure marker
        // and abort the whole bench instead of recording one failed query.
        scala.util.Try {
          spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
          // shuffle files are reaped by the ContextCleaner only when the
          // JVM garbage-collects the ShuffleDependency — with an 80 GiB
          // heap that happens approximately never, so a long suite
          // ACCUMULATES every finished query's shuffle spill on local
          // disk (the r7 100× full-suite run died disk-full at ~53 GiB
          // of orphaned blockmgr files). One explicit GC per query keeps
          // local-disk usage bounded by the CURRENT query's working set.
          System.gc()
        }
      }
    }

    // warmup: session/codegen/shuffle-machinery init on a cheap query
    val warmupQuery = SparkEntry.queries.keys.toSeq.sorted.headOption
    warmupQuery.foreach(runOnce)

    // median-of-N per query (N >= 3 odd): single-shot timings on this
    // multi-tenant box swing ±15% with load — the r3 round needed a manual
    // quiet-box re-run to read them. The median is robust to one slow
    // outlier, and the (max-min)/median spread is emitted per query so a
    // noisy number is SELF-DESCRIBING instead of a phantom regression.
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt.max(1)
    // skip list for targeted exclusions (r6: the registered forms all
    // auto-size from corpus statistics, so soak runs no longer need to
    // exclude pinned-parameter queries)
    val skip = sys.env.get("SPARK_GRAFT_BENCH_SKIP")
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty[String])
    // include-list for targeted runs (profiling one query, noise verdicts);
    // a partial run's JSON self-describes via the emitted skip list below
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(skip).filter(n => only.forall(_.contains(n)))
    val results = selected.map { n =>
      // progress marker BEFORE the query runs: when a soak-scale run dies
      // mid-suite (disk-full spill, OOM), stderr names the offender — the
      // r7 100× full-suite run failed anonymously without this
      System.err.println(s"[bench-run] $n at ${System.currentTimeMillis() / 1000}")
      // one untimed warmup per query: the first execution pays planning/
      // codegen/broadcast for THAT query, which would otherwise dominate
      // the spread and masquerade as box noise
      runOnce(n)
      val raw = Seq.fill(iters)(runOnce(n))
      // SPARK_GRAFT_BENCH_RAW=1: print every run's time to stderr — the noise
      // dispositions need the raw distribution (bimodality is invisible
      // in a median+spread pair)
      if (sys.env.contains("SPARK_GRAFT_BENCH_RAW"))
        System.err.println(f"[bench-raw] $n: ${raw.map(t => f"$t%.2f").mkString(" ")}")
      val times = raw.filter(_ >= 0).sorted
      if (times.isEmpty) n -> (-1.0, -1.0)
      else {
        // true median: failed runs are filtered above, so even counts happen
        // even with odd ITERS — averaging the middle pair avoids the
        // upper-middle high bias
        val m = times.size / 2
        val median =
          if (times.size % 2 == 1) times(m) else (times(m - 1) + times(m)) / 2
        val spread = if (median > 0) (times.last - times.head) / median else 0.0
        n -> (median, spread)
      }
    }
    val qs = results.map { case (k, (m, _)) => "\"" + k + "\":" + m }
      .mkString("{", ",", "}")
    val spreads = results.map { case (k, (_, s)) =>
      "\"" + k + "\":" + BigDecimal(s).setScale(3, BigDecimal.RoundingMode.HALF_UP) }
      .mkString("{", ",", "}")
    // a failed query (-1) is left out of the total, so the artifact names
    // every failure and counts them beside it
    val total = results.map(_._2._1).filter(_ >= 0).sum
    val failed = results.collect { case (k, (m, _)) if m < 0 => "\"" + k + "\"" }
    // record what was NOT run (skip list or ONLY include-list), even when
    // empty, so a partial run's "total" is never mistaken for a full suite
    val notRun = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(selected.toSet)
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    // the revision the sweep ran, so the artifact says what it measured
    val gitRev = scala.util.Try(scala.sys.process.Process(Seq("git", "rev-parse", "HEAD"))
      .!!(scala.sys.process.ProcessLogger(_ => ())).trim).toOption.filter(_.nonEmpty)
      .getOrElse("unknown")
    val json = s"""{"metric":"total","value":$total,"unit":"sec","cpus":$cpus,"git_rev":"$gitRev","queries":$qs,""" +
      s""""spread":$spreads,"iters":$iters,"n_failed":${failed.size},""" +
      s""""failed":${failed.mkString("[", ",", "]")},"skipped":$notRun,"sf":"$sfDir"}"""
    println(json)
    // stdout goes through sbt's log decorator ("[info] " prefixes), so also
    // write the line to a file harnesses can parse without stripping
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
