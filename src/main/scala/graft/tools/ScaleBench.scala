package graft.tools

import org.apache.spark.sql.SparkSession

/** Targeted scale bench: times a named subset of Registry queries at
  * an arbitrary fixture dir and writes one JSON file — the harness
  * behind the committed BENCH_sf10_dedup.json evidence (VERDICT r9
  * Next #3: a second scale decade for the dedup family). Same
  * measurement discipline as [[graft.Bench]]: per-query cold cache,
  * min of three runs, an adaptive fourth when they disagree by
  * >1.3× (ambient-load artifact), prepare hooks untimed.
  *
  * Usage: ScaleBench <sfDir> <outJson> <q1,q2,...>
  */
object ScaleBench {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outJson, names) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config(graft.core.Graft.codegenReuse)
      .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      // splits self-scale to ~cores per scan (see Graft.session)
      .config("spark.sql.files.openCostInBytes",
        sys.env.getOrElse("SPARK_GRAFT_OPEN_COST_BYTES", "16384"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val defs = names.split(",").toSeq.map { n =>
      graft.queries.Registry.byName.getOrElse(n,
        sys.error(s"unknown query: $n"))
    }
    // JIT/codegen warmup at the smallest sibling SF, like Bench
    val warmDir = {
      val sib = new java.io.File("/root/testdata/sf0.001")
      if (sib.isDirectory) sib.getPath else sfDir
    }
    spark.range(1000000L).selectExpr("sum(id)").collect()
    defs.foreach { q =>
      try q.fn(spark, warmDir).count() catch {
        case e: Throwable => System.err.println(s"[warmup] ${q.name}: ${e.getMessage}")
      }
    }
    defs.foreach { q =>
      q.prepare.foreach { p =>
        try p(spark, sfDir) catch {
          case e: Throwable => System.err.println(s"[prepare] ${q.name}: ${e.getMessage}")
        }
      }
    }
    val results = defs.map { q =>
      def once(): Double = {
        spark.catalog.clearCache()
        // big-SF sessions accumulate dead plans' broadcast blocks
        // (reaped only after a JVM GC notices the weak refs — the
        // same failure Verify hit at sf10: heap OOM mid-aggregation
        // with several ~0.8 GB dead verify broadcasts still resident).
        // The nudge runs OUTSIDE the timed region.
        System.gc()
        val t0 = System.nanoTime()
        try q.fn(spark, sfDir).count() catch {
          case e: Throwable => System.err.println(s"[bench] ${q.name}: ${e.getMessage}")
        }
        (System.nanoTime() - t0) / 1e9
      }
      // min-of-3 always, adaptive 4th on >1.3x spread (r14): the
      // heavy verify-stage faces are bimodal under session GC state —
      // q_dedup_containment measured 7.9/12.9/17.4 s in one JVM — and
      // two agreeing SLOW runs (15.5/15.6) sailed past the old
      // two-run rule and turned a session artifact into a red gate row
      val rs = Seq(once(), once(), once())
      val best =
        if (rs.max > 1.3 * rs.min) math.min(rs.min, once())
        else rs.min
      println(f"[scalebench] ${q.name} $best%.2f s")
      q.name -> best
    }
    def f3(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val body = results.map { case (k, v) => "\"" + k + "\":" + f3(v) }
      .mkString(",")
    val json =
      s"""{"sf":"$sfDir","total_sec":${f3(results.map(_._2).sum)},"queries":{$body}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outJson),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
