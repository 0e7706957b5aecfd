package perfbench

import graft.core.Graft
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** One timed repetition of a workload's job. `ops` is the number of
  * checked operations (1 job, or one per increment); `failed` counts
  * the ones that threw or whose output digest mismatched.
  */
final case class RepResult(
    wallS: Double, cpuS: Double, outBytes: Long, ops: Int, failed: Int,
    incMs: Seq[Double] = Nil, extras: Map[String, Double] = Map.empty,
    spans: Option[Json] = None, engine: Option[Json] = None)

/** Per-rep context: spans are recorded only in traced repetitions. */
final class RepCtx(val traced: Boolean, val spans: Spans) {
  def span[A](name: String)(f: => A): A = if (traced) spans(name)(f) else f
  val extras = mutable.LinkedHashMap.empty[String, Double]
  def add(k: String, v: Double): Unit = extras(k) = extras.getOrElse(k, 0.0) + v
  /** drop-to-commit latency of each increment, when the job has any */
  val incMs = mutable.ArrayBuffer.empty[Double]
}

trait Workload {
  def face: String
  /** Read (and cache) the generated inputs; repeatable. */
  def load(): Unit
  def items: Long
  def rep(ctx: RepCtx): (Int, Int, Long) // (ops, failed, out bytes)
  /** Traced-run extras measured after the traced reps, outside them. */
  def afterTrace(ctx: RepCtx): Unit = ()
}

/** Runs one workload for `--seconds` and writes the raw run record
  * (`--record`) that perfbench/run.py turns into metrics.
  *
  * Usage: Harness --workload W --data DIR --work DIR --seconds S
  *   --trace 0|1 --record FILE [--face-out DIR]
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val data = a("data")
    val work = a("work")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"

    val spark = Graft.session("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val expected = Digest.loadExpected(s"$data/expected.tsv")
    val w: Workload = a("workload") match {
      case "audio_ingest" => new AudioIngest(spark, data, work, expected)
      case "text_corpus" => new TextCorpus(spark, data, work, expected)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // ---- setup: session (above), input load x3, two warm-up reps. The
    // JIT is still busy in the rep after the cold one: it runs 15-30%
    // slower than the next and is the least repeatable across runs.
    val loadS = (1 to 3).map(_ => timed(w.load())._2)
    val warm = Seq.fill(2)(runRep(spark, w, -1, traced = false))

    // ---- timed loop (closed, one client thread): reps start while the
    // measured window has time left
    val reps = mutable.ArrayBuffer.empty[(Boolean, RepResult)]
    val t0 = System.nanoTime()
    var k = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (reps.isEmpty || elapsed < seconds) {
      // traced runs interleave untraced and traced reps in ABBA blocks,
      // so the overhead compares neighbours under the same ambient load
      // and JIT state
      for (tr <- if (traced) Seq(false, true, true, false) else Seq(false)) {
        reps += tr -> runRep(spark, w, k, traced = tr)
        k += 1
      }
    }
    val afterCtx = new RepCtx(true, new Spans)
    if (traced) w.afterTrace(afterCtx)

    // ---- correctness face: untimed, after the measurement, once per seed
    val faceS = a.get("face-out").map { out =>
      timed {
        graft.queries.Registry.byName(w.face).fn(spark, data)
          .coalesce(1).write.mode("overwrite").parquet(out)
      }._2
    }.getOrElse(0.0)

    val record = Json.obj(
      "workload" -> a("workload"),
      "cores" -> spark.sparkContext.defaultParallelism,
      "items" -> w.items,
      "setup" -> Json.obj(
        "session_s" -> sessionS,
        "load_s" -> Json.nums(loadS),
        "warmup_s" -> warm.map(_.wallS).sum,
        "warmup_failed" -> warm.map(_.failed).sum,
        "face_s" -> faceS),
      "after_trace" -> Json.Obj(afterCtx.extras.toSeq.map { case (k, v) => k -> Json.Num(v) }),
      "reps" -> Json.Arr(reps.toSeq.map { case (tr, r) =>
        Json.Obj(Seq[(String, Json)](
          "traced" -> tr, "wall_s" -> r.wallS, "cpu_s" -> r.cpuS,
          "out_bytes" -> r.outBytes, "ops" -> r.ops, "failed" -> r.failed,
          "inc_ms" -> Json.nums(r.incMs),
          "extras" -> Json.Obj(r.extras.toSeq.map { case (k, v) => k -> Json.Num(v) })) ++
          r.spans.map("spans" -> _) ++ r.engine.map("engine" -> _))
      }))
    Files.writeString(Paths.get(a("record")), record.render)
    spark.stop()
  }

  def timed[A](f: => A): (A, Double) = {
    val t = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t) / 1e9)
  }

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def runRep(spark: SparkSession, w: Workload, k: Int, traced: Boolean): RepResult = {
    val ctx = new RepCtx(traced, new Spans)
    val engine = if (traced) Some(new EngineTrace) else None
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    engine.foreach { e =>
      spark.sparkContext.addSparkListener(e)
      classic.listenerManager.register(e)
    }
    val cpu0 = osBean.getProcessCpuTime
    val ((ops, failed, bytes), wall) = timed {
      try ctx.span("job")(w.rep(ctx))
      catch {
        case e: Exception =>
          System.err.println(s"[perfbench] rep $k failed: $e")
          (1, 1, 0L)
      }
    }
    val cpu = (osBean.getProcessCpuTime - cpu0) / 1e9
    engine.foreach { e =>
      // the bus delivers asynchronously: wait for the last events
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(e)
      classic.listenerManager.unregister(e)
    }
    RepResult(wall, cpu, bytes, ops, failed,
      incMs = ctx.incMs.toSeq,
      extras = ctx.extras.toMap,
      spans = if (traced) Some(ctx.spans.toJson) else None,
      engine = engine.map(_.toJson))
  }

  def dirBytes(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }

  def dataFiles(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.filter { f =>
        val n = f.getFileName.toString
        Files.isRegularFile(f) && !n.startsWith(".") && !n.startsWith("_")
      }.count()
      finally s.close()
    }
  }

  def deleteTree(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }
  }
}

/** Order-free digest of a small result relation: each row rendered as
  * its values in column-name order (tab-separated, null as `\N`), the
  * lines sorted, then md5 over the newline-joined text. run.py renders
  * the oracle's rows the same way.
  */
object Digest {
  def rows(df: DataFrame): (String, Long) = {
    val cols = df.columns.sorted
    val lines = df.select(cols.map(col).toSeq: _*).collect().map(render).sorted
    (md5(lines.mkString("\n")), lines.length.toLong)
  }

  def render(r: Row): String =
    (0 until r.length).map { i =>
      if (r.isNullAt(i)) "\\N" else r.get(i).toString
    }.mkString("\t")

  def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  /** expected.tsv: `<operation>\t<digest>\t<rows>` per line. */
  def loadExpected(path: String): Map[String, String] =
    scala.io.Source.fromFile(path, "UTF-8").getLines()
      .filter(_.nonEmpty).map(_.split("\t")).map(f => f(0) -> f(1)).toMap

  /** Shard summary rows (shard, n_docs, n_tokens, min_start, max_end)
    * are contiguous and non-overlapping from `base`; returns the end.
    */
  def contiguousFrom(base: Long, summary: Seq[Row]): Option[Long] = {
    var at = base
    var ok = true
    summary.sortBy(_.getAs[Long]("shard")).foreach { r =>
      if (r.getAs[Long]("min_start") != at) ok = false
      at = r.getAs[Long]("max_end")
    }
    val tokens = summary.map(_.getAs[Long]("n_tokens")).sum
    if (ok && at - base == tokens) Some(at) else None
  }
}

/** Writes the DuckDB oracle SQL of the benchmark's faces, from the
  * library's query registry, as one JSON object: `DumpOracles FILE`.
  */
object DumpOracles {
  val faces = Seq("q_pipeline_e2e", "q_text_curation_e2e", "q_corpus_refresh_e2e")

  def main(args: Array[String]): Unit = {
    val sql = faces.map(f => f -> Json.Str(graft.queries.Registry.byName(f).oracle.get))
    Files.writeString(Paths.get(args(0)), Json.Obj(sql).render)
  }
}
