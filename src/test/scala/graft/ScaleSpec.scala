package graft

import graft.ops.Skew
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Scale-posture evidence: salting preserves join semantics, bucketed
  * tables co-locate joins (no Exchange in the plan), and the session
  * extension registers native SQL functions and planner strategies.
  */
class ScaleSpec extends SparkTestBase {
  import spark.implicits._

  test("saltedJoin preserves exact join multiplicity under skew") {
    // one hot key (90% of rows) + long tail
    val big = ((1 to 900).map(_ => 1L) ++ (1 to 100).map(_.toLong + 1))
      .toDF("k").withColumn("v", monotonically_increasing_id())
    val small = (1L to 101L).toDF("k").withColumn("name", concat(lit("n"), $"k"))
    val plain = big.join(small, Seq("k"))
    val salted = Skew.saltedJoin(big, small, "k", salts = 8)
    assert(salted.count() == plain.count())
    val a = plain.groupBy("k").count().orderBy("k").collect().toSeq
    val b = salted.groupBy("k").count().orderBy("k").collect().toSeq
    assert(a.map(r => (r.getLong(0), r.getLong(1))) == b.map(r => (r.getLong(0), r.getLong(1))))
  }

  test("skewSplitJoin routes hot keys through broadcast, result identical") {
    val big = ((1 to 500).map(_ => 7L) ++ (1 to 50).map(_.toLong))
      .toDF("k").withColumn("v", monotonically_increasing_id())
    val small = (1L to 60L).toDF("k").withColumn("name", concat(lit("n"), $"k"))
    val plain = big.join(small, Seq("k")).groupBy("k").count()
    val split = Skew.skewSplitJoin(big, small, "k", hotKeyThreshold = 100)
      .groupBy("k").count()
    val pm = plain.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val sm = split.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(pm == sm)
  }

  test("packSequences equals a single-partition window oracle") {
    // adversarial shape for RangePartitioner sampling: many ids, very
    // skewed token counts — if the running sum ever read shards in the
    // wrong order or dropped a partition's offset, global offsets shift
    // and this comparison breaks
    val docs = (1 to 3000).map { i =>
      val words = (i * 2654435761L % 97 + 1).toInt
      (f"d$i%06d", Seq.fill(words)("w").mkString(" "))
    }.toDF("doc_id", "text").repartition(7)
    val cols = Seq("doc_id", "start_off", "end_off", "first_seq", "last_seq", "n_seqs")
    val packed = graft.text.TextAnalysis
      .packSequences(docs, "doc_id", "text", seqLen = 128L)
      .select(cols.map(col): _*)
    import org.apache.spark.sql.expressions.Window
    val before = Window.orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val oracle = docs
      .select($"doc_id", graft.text.TextAnalysis.tokenCountWs($"text").as("n_tok"))
      .withColumn("start_off", coalesce(sum($"n_tok").over(before), lit(0L)))
      .withColumn("end_off", $"start_off" + $"n_tok")
      .withColumn("first_seq", expr("start_off div 128"))
      .withColumn("last_seq", expr("(end_off - 1) div 128"))
      .withColumn("n_seqs", $"last_seq" - $"first_seq" + 1)
      .select(cols.map(col): _*)
    val a = packed.orderBy("doc_id").collect().map(_.toSeq).toSeq
    val b = oracle.orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(a.length == 3000)
    assert(a == b)
    // offsets tile the token stream exactly: sorted starts are gapless
    val sorted = a.sortBy(_(1).asInstanceOf[Long])
    assert(sorted.head(1) == 0L)
    sorted.sliding(2).foreach {
      case Seq(x, y) => assert(x(2) == y(1), s"gap between $x and $y")
      case _ => ()
    }
  }

  test("bucketed tables join with zero shuffle exchanges") {
    val wh = Files.createTempDirectory("graftwh").toString
    // getOrCreate hands back the shared suite session and sets the
    // runtime confs below on it; restore the broadcast threshold after
    val bcKey = "spark.sql.autoBroadcastJoinThreshold"
    val prevBc = spark.conf.getOption(bcKey)
    val s2 = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.warehouse.dir", wh)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      val a = (1L to 10000L).toDF("k").withColumn("va", $"k" * 2)
      val b = (1L to 10000L).toDF("k").withColumn("vb", $"k" * 3)
      a.write.mode("overwrite").bucketBy(8, "k").sortBy("k").saveAsTable("bkt_a")
      b.write.mode("overwrite").bucketBy(8, "k").sortBy("k").saveAsTable("bkt_b")
      val joined = s2.table("bkt_a").join(s2.table("bkt_b"), Seq("k"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"expected no shuffle, got:\n$plan")
      assert(joined.count() == 10000L)
    } finally {
      s2.sql("DROP TABLE IF EXISTS bkt_a")
      s2.sql("DROP TABLE IF EXISTS bkt_b")
      prevBc.fold(spark.conf.unset(bcKey))(spark.conf.set(bcKey, _))
    }
  }

  test("paragraphDedup/windowDedup rank exchange carries digests only, never text") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plans = Seq(
      "windowDedup" -> graft.dedup.Dedup
        .windowDedup(docs, "doc_id", "text", wordsPerPara = 8)
        .queryExecution.executedPlan.toString,
      "paragraphDedup" -> graft.dedup.Dedup
        .paragraphDedup(docs, "doc_id", "text")
        .queryExecution.executedPlan.toString)
    for ((name, p) <- plans) {
      // the rank shuffle partitions by the digest...
      val at = p.indexOf("Exchange hashpartitioning(__digest")
      assert(at >= 0, s"$name: no digest-keyed rank exchange found:\n$p")
      // ...and the projection feeding it must not carry the paragraph
      // text attribute (para#N) — only (doc_id, para_idx, __digest)
      val feeder = p.substring(at, p.indexOf("\n", p.indexOf("Project [", at)))
      assert(feeder.contains("__digest") && !feeder.contains(" para#") &&
        !feeder.contains("[para#") && !feeder.contains(", para#"),
        s"$name: rank exchange feeder carries paragraph text:\n$feeder")
    }
  }

  test("multi-table LSH pair dedup shuffles ids only, never vectors") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val p = graft.similarity.Ann
      .topKLsh(e, e.filter(org.apache.spark.sql.functions.col("vec_id") < 8L),
        "vec_id", "embedding", k = 5, bits = 4, tables = 8)
      .queryExecution.executedPlan.toString
    // the pair-distinct aggregation keys on (probe_id, cand_id); the
    // exchange between its partial and final halves must carry the two
    // ids and nothing array-typed (qa/qb enter only AFTER the dedup).
    // NOT the later rank exchange, which keys on probe_id alone.
    val m = "Exchange hashpartitioning\\(probe_id#\\d+L, cand_id#\\d+L".r
      .findFirstMatchIn(p)
    assert(m.isDefined, s"no (probe_id, cand_id)-keyed exchange found:\n$p")
    val at = m.get.start
    val feeder = p.substring(at,
      math.min(p.length, p.indexOf("\n", p.indexOf("HashAggregate", at))))
    assert(!feeder.contains("qa#") && !feeder.contains("qb#"),
      s"pair-dedup exchange carries vector attributes:\n$feeder")
  }

  test("distributed connected components never collects the edge set") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val pairs = graft.dedup.Dedup
      .ngramJaccardPairs(docs, "doc_id", "text", n = 3, minJaccard = 0.12,
        maxDf = Long.MaxValue)
    val dist = graft.dedup.Dedup
      .connectedComponents(pairs, localThreshold = 0L)
    // the driver tier materializes collected edges back through
    // parallelize → its plan is a bare scan of an ExistingRDD/
    // LocalTableScan; the distributed tier's labels are the fixpoint
    // of join+agg iterations, so joins MUST appear in the plan and
    // RDD-scan-of-local-rows must not
    val p = dist.queryExecution.executedPlan.toString
    assert(p.contains("Join") || p.contains("SortMergeJoin") ||
      p.contains("BroadcastHashJoin") || p.contains("ShuffledHashJoin"),
      s"distributed tier plan has no joins — did it fall back to the driver tier?\n$p")
    assert(!p.contains("LocalTableScan"),
      s"distributed tier plan scans driver-local rows:\n$p")
    // and the two tiers agree bit-for-bit on the real pair graph
    val local = graft.dedup.Dedup
      .connectedComponents(pairs).as[(Long, Long)].collect().toSet
    assert(dist.as[(Long, Long)].collect().toSet == local)
    pairs.unpersist()
  }

  test("GraftExtensions injects native SQL functions") {
    // A FRESH session whose only function source is the extension:
    // getOrCreate would otherwise hand back the shared suite session.
    val shared = spark
    val active = SparkSession.getActiveSession
    val default = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s3 = SparkSession.builder()
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      assert(s3 ne shared)
      val r = s3.sql(
        """SELECT array_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
          |  z_order(3L, 5L) AS z,
          |  wada_snr(array(0.1D, -0.5D, 0.9D, -0.2D)) AS snr,
          |  script_counts('ab 1') AS sc,
          |  fold_diacritics('café') AS fd,
          |  sorted_intersect_count(array(1L, 2L, 3L), array(2L, 3L, 4L)) AS sic
          |""".stripMargin).head()
      assert(r.getDouble(0) == 11.0)
      // z_order(3, 5) = interleave(011, 101) = 100111 = 39
      assert(r.getLong(1) == 39L)
      assert(r.getDouble(2) ==
        graft.signal.Signal.wadaSnr(Array(0.1, -0.5, 0.9, -0.2)))
      assert(r.getSeq[Long](3) == Seq(2L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 1L, 1L, 0L))
      assert(r.getString(4) == "cafe")
      assert(r.getLong(5) == 2L)
      val agg = s3.sql(
        """SELECT bottom_k_ids(CAST(id AS STRING), 's', 2) AS bk,
          |  count_min(id, 2, 8) AS cm
          |FROM range(5)""".stripMargin).head()
      assert(agg.getSeq[String](0).size == 2)
      // each of the 2 sketch rows counts all 5 keys
      assert(agg.getSeq[Long](1).sum == 10L)
      // the gram/fnv hashes from SQL equal the Column API on the same text
      val texts = Seq("the cat sat on the mat the cat", "a b", "", "café au lait ok", null)
      val t = s3.createDataFrame(texts.map(Tuple1(_))).toDF("text")
      t.createOrReplaceTempView("gram_texts")
      val fromSql = s3.sql(
        """SELECT fnv64(text) AS f, gram_hashes(text, 2) AS g,
          |  shingle_hashes(text, 3) AS sh FROM gram_texts""".stripMargin).collect()
      val fromApi = t.select(
        graft.plans.GramHash.fnv64(col("text")).as("f"),
        graft.plans.GramHash.gram_hashes(col("text"), 2).as("g"),
        graft.plans.GramHash.shingle_hashes(col("text"), 3).as("sh")).collect()
      assert(fromSql.toSeq == fromApi.toSeq)
      assert(fromSql.head.getSeq[Long](1).size == 7)
      // n must be a literal INT >= 1
      def sqlError(call: String): String = intercept[Exception](
        s3.sql(s"SELECT $call FROM gram_texts").collect()).getMessage
      assert(sqlError("gram_hashes(text, length(text))").contains("NON_FOLDABLE_ARGUMENT"))
      assert(sqlError("shingle_hashes(text, 2L)").contains("NON_FOLDABLE_ARGUMENT"))
      assert(sqlError("shingle_hashes(text, 0)").contains("n must be >= 1"))
      // the strategies come in through the same extension: the custom
      // execs plan, and install-on-first-use adds nothing on top
      assert(CustomExecs.planned(s3).values.forall(identity), CustomExecs.planned(s3))
      assert(s3.experimental.extraStrategies.isEmpty)
    } finally {
      active.foreach(SparkSession.setActiveSession)
      default.foreach(SparkSession.setDefaultSession)
    }
  }
}
