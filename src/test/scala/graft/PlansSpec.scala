package graft

import graft.plans.{ArrayOps, GramHash}
import graft.signal.Signal
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._

/** Native Catalyst expressions: codegen path vs interpreted vs HOF
  * parity, null semantics, structural equality, SQL registration and
  * strategy install.
  */
class PlansSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val vecs = Seq(
    (1L, Array(1.0f, 2.0f, 3.0f), Array(4.0, 5.0, 6.0)),
    (2L, Array(0.0f, 0.0f, 0.0f), Array(1.0, 1.0, 1.0)),
    (3L, null.asInstanceOf[Array[Float]], Array(1.0, 2.0, 3.0))
  ).toDF("id", "vf", "vd")

  test("array_dot: float×double arrays, null propagation") {
    val got = vecs
      .select($"id", ArrayOps.array_dot($"vf", $"vd").as("dot"))
      .orderBy("id")
      .collect()
    assert(got(0).getDouble(1) == 1.0 * 4 + 2 * 5 + 3 * 6)
    assert(got(1).getDouble(1) == 0.0)
    assert(got(2).isNullAt(1))
  }

  test("array_dot matches HOF cosine on real embeddings") {
    // reference: zip_with + aggregate, a lambda per element
    def hofDot(x: Column, y: Column): Column =
      aggregate(
        zip_with(x, y, (a, b) => a.cast("double") * b.cast("double")),
        lit(0.0d),
        (acc, v) => acc + v
      )
    def cosine(dot: (Column, Column) => Column, a: Column, b: Column): Column =
      dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(20)
    val pairs = e.as("a").crossJoin(e.as("b"))
      .filter($"a.vec_id" < $"b.vec_id")
      .select(
        cosine(ArrayOps.array_dot, $"a.embedding", $"b.embedding").as("native"),
        cosine(hofDot, $"a.embedding", $"b.embedding").as("hof")
      )
      .collect()
    pairs.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12)
    }
  }

  test("wada_snr expression matches the Scala function") {
    val wave = Array.tabulate(2000) { i =>
      val t = math.sin(0.19634954 * (i + 1)); t * t * t + 0.01 * math.sin(78.233 * i)
    }
    val expected = Signal.wadaSnr(wave)
    val got = Seq(Tuple1(wave)).toDF("w")
      .select(ArrayOps.wada_snr_native($"w"))
      .head().getDouble(0)
    assert(math.abs(got - expected) < 1e-12)
  }

  test("SQL registration: array_dot and wada_snr callable from SQL") {
    GraftExtensions.install(spark)
    vecs.createOrReplaceTempView("plans_vecs")
    val r = spark.sql(
      "SELECT id, array_dot(vf, vd) AS d, wada_snr(vd) AS s FROM plans_vecs WHERE id = 1"
    ).head()
    assert(r.getDouble(1) == 32.0)
    assert(!r.isNullAt(2))
  }

  test("type check rejects non-array input with a clear message") {
    val err = intercept[Exception] {
      vecs.select(ArrayOps.array_dot($"id", $"vd")).collect()
    }
    assert(err.getMessage.contains("array_dot") || err.getMessage.toLowerCase.contains("type"))
  }

  test("count_min grid equals the per-cell groupBy truth across a real shuffle") {
    import graft.plans.CountMinAgg
    val keys = spark.range(2000L)
      .select((col("id") % 37L).as("k"))
      .repartition(7) // force partial buffers + serialize/merge path
    val grid = keys
      .agg(CountMinAgg.countMin(col("k"), depth = 4, width = 16).as("cms"))
      .head().getSeq[Long](0)
    assert(grid.length == 64)
    // rebuild every cell from the published hash and compare
    val truth = new Array[Long](64)
    (0L until 2000L).map(_ % 37L).foreach { x =>
      (0 until 4).foreach { d =>
        truth(d * 16 + CountMinAgg.cell(x, d, 16)) += 1L
      }
    }
    assert(grid == truth.toSeq)
    // every hash row's counters sum to the row count
    (0 until 4).foreach { d =>
      assert(grid.slice(d * 16, (d + 1) * 16).sum == 2000L)
    }
  }

  test("count_min point estimates upper-bound true counts, exact sans collision") {
    import graft.plans.CountMinAgg
    val xs = Seq.fill(50)(7L) ++ Seq.fill(3)(11L) ++ (100L to 120L)
    val grid = xs.toDF("k")
      .agg(CountMinAgg.countMin(col("k"), depth = 4, width = 64).as("cms"))
      .head().getSeq[Long](0)
    def est(x: Long): Long =
      (0 until 4).map(d => grid(d * 64 + CountMinAgg.cell(x, d, 64))).min
    val trueCnt = xs.groupBy(identity).view.mapValues(_.size.toLong).toMap
    trueCnt.foreach { case (x, n) => assert(est(x) >= n, s"key $x") }
    // the heavy key's estimate is exact here (width 64 >> 23 keys
    // rarely collides on all 4 rows; if this ever flakes the constants
    // changed, which is the regression being pinned)
    assert(est(7L) == 50L)
  }

  test("count_min nulls are ignored and count_min is callable from SQL") {
    import graft.plans.CountMinAgg
    val df = Seq(Some(1L), None, Some(1L), Some(2L)).toDF("k")
    val grid = df
      .agg(CountMinAgg.countMin(col("k"), depth = 2, width = 8).as("cms"))
      .head().getSeq[Long](0)
    assert(grid.slice(0, 8).sum == 3L) // null contributed nothing
    GraftExtensions.install(spark)
    df.createOrReplaceTempView("plans_cms")
    val viaSql = spark.sql(
      "SELECT count_min(k, 2, 8) FROM plans_cms").head().getSeq[Long](0)
    assert(viaSql == grid)
  }

  test("sorted_intersect_count: reference-merge parity, nulls and SQL registration") {
    val rnd = new scala.util.Random(7)
    def sortedArr(n: Int): Array[Long] =
      Array.fill(n)(rnd.nextLong() % 1000).distinct.sorted
    val rows = (0 until 50).map { i =>
      (i.toLong, sortedArr(rnd.nextInt(40)), sortedArr(rnd.nextInt(40)))
    }
    def refCount(x: Array[Long], y: Array[Long]): Long =
      x.toSet.intersect(y.toSet).size.toLong
    val df = rows.toDF("id", "xa", "xb")
    val got = df
      .select($"id", ArrayOps.sorted_intersect_count($"xa", $"xb").as("c"))
      .orderBy("id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { case (i, x, y) =>
      assert(got(i) == refCount(x, y), s"row $i")
    }
    // null propagation
    val withNull = Seq(
      (1L, Array(1L, 2L), null.asInstanceOf[Array[Long]])
    ).toDF("id", "xa", "xb")
    assert(withNull
      .select(ArrayOps.sorted_intersect_count($"xa", $"xb"))
      .head().isNullAt(0))
    // SQL registration
    GraftExtensions.install(spark)
    df.createOrReplaceTempView("plans_sic")
    val viaSql = spark.sql(
      "SELECT id, sorted_intersect_count(xa, xb) AS c FROM plans_sic")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaSql == got)
    // type check failure is loud
    val err = intercept[Exception] {
      df.select(ArrayOps.sorted_intersect_count($"id", $"xa")).collect()
    }
    assert(err.getMessage.toLowerCase.contains("sorted_intersect_count") ||
      err.getMessage.toLowerCase.contains("type"))
  }

  test("array kernels: interpreted eval equals WholeStageCodegen, errors included") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
    import org.apache.spark.sql.catalyst.expressions.BindReferences
    import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
    import org.apache.spark.sql.types._
    import scala.util.Try

    // a failure's outcome is the message of the first
    // IllegalArgumentException in its cause chain: a failed task
    // reaches collect() wrapped in a SparkException
    def outcome(run: => Seq[Any]): Either[String, Seq[Any]] =
      Try(run).toEither.left.map { e =>
        Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
          .collectFirst { case x: IllegalArgumentException => x.getMessage }
          .getOrElse(throw e)
      }
    // doubles compare by bit pattern
    def bits(v: Any): Any = v match {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case xs: Seq[_] => xs.map(bits)
      case o => o
    }
    def check(kernel: String, schema: StructType, rows: Seq[Row], c: Column,
        fails: Boolean = false): Unit = {
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      val q = df.select(c)
      assert(q.queryExecution.executedPlan.find {
        case w: WholeStageCodegenExec => w.child.isInstanceOf[ProjectExec]
        case _ => false
      }.isDefined, kernel)
      val compiled = outcome(q.collect().toSeq.map(r => bits(r.get(0))))
      val e = q.queryExecution.analyzed match {
        case Project(Seq(Alias(e, _)), _) => e
        case p => fail(s"unexpected plan $p")
      }
      val bound = BindReferences.bindReference(e, df.queryExecution.analyzed.output)
      val toRow = CatalystTypeConverters.createToCatalystConverter(schema)
      val toScala = CatalystTypeConverters.createToScalaConverter(e.dataType)
      val interpreted = outcome(rows.map(r =>
        bits(toScala(bound.eval(toRow(r).asInstanceOf[InternalRow])))))
      assert(interpreted == compiled, kernel)
      assert(compiled.isLeft == fails, s"$kernel: $compiled")
    }
    def arr(elem: DataType, names: String*): StructType =
      StructType(names.map(StructField(_, ArrayType(elem))))

    val codegen = Seq(
      "spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")
    val saved = codegen.map { case (k, _) => k -> spark.conf.getOption(k) }
    codegen.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // array_dot: float, double and long elements; the shorter prefix
      val dotSchema = StructType(Seq(
        StructField("f", ArrayType(FloatType)), StructField("d", ArrayType(DoubleType)),
        StructField("l", ArrayType(LongType))))
      val dotRows = Seq(
        Row(null, Seq(1.0), Seq(1L)),
        Row(Seq(1.0f), null, Seq(2L)),
        Row(Seq(), Seq(), Seq()),
        Row(Seq(1.5f, -2.25f, 3.0f), Seq(0.5, 4.0), Seq(7L, -3L, 11L, 5L)),
        Row(Seq(0.1f, -0.2f), Seq(1e300, -1e-300, 2.5), Seq(1L << 40, -(1L << 41))))
      Seq(("f", "d"), ("d", "l"), ("l", "f"), ("l", "l"), ("f", "f")).foreach {
        case (x, y) =>
          check(s"array_dot($x, $y)", dotSchema, dotRows, ArrayOps.array_dot(col(x), col(y)))
      }

      check("sorted_intersect_count", arr(LongType, "a", "b"), Seq(
        Row(null, Seq(1L)), Row(Seq(), Seq()), Row(Seq(2L), Seq()),
        Row(Seq(1L, 3L, 5L, 7L), Seq(3L, 4L, 5L, 8L)),
        Row(Seq(-5L, 0L, 9L), Seq(-5L, 9L))),
        ArrayOps.sorted_intersect_count(col("a"), col("b")))

      // quantize_1m: ±k.5 on the ×2^20 grid (exact floats) round away
      // from zero; plain negatives round to the nearest grid point
      val halves = (-3 to 3).map(k => (k + 0.5f) / 1048576.0f)
      val vRows = Seq(Row(null), Row(Seq()), Row(halves),
        Row(Seq(-0.3f, -1.7f, -123.456f, 0.0f, -0.0f, 1000.25f)))
      check("quantize_1m", arr(FloatType, "v"), vRows, ArrayOps.quantize_1m(col("v")))

      // projections at n = dimCap, below it, and one past it (throws)
      val planes = Array.tabulate(24)(i => (i * 37L % 11L) - 5L)
      val projRows = Seq(Row(null), Row(Seq()), Row(Seq(0.25f, -1.5f)),
        Row(Seq(0.5f, -0.75f, 2.0f, -0.125f)), Row(halves.take(4)))
      val tooLong = Seq(Row(Seq(1.0f, 2.0f, 3.0f, 4.0f, 5.0f)))
      val lsh = ArrayOps.sign_lsh_buckets(col("v"), planes, 2, 3, 4)
      val jl = ArrayOps.jl_project(col("v"), planes.take(12), 3, 4)
      check("sign_lsh", arr(FloatType, "v"), projRows, lsh)
      check("sign_lsh past dimCap", arr(FloatType, "v"), tooLong, lsh, fails = true)
      check("jl_project", arr(FloatType, "v"), projRows, jl)
      check("jl_project past dimCap", arr(FloatType, "v"), tooLong, jl, fails = true)

      // pq_encode: equidistant codes go to the smallest (an empty
      // vector is outside its contract: the encoder reads m·sd floats)
      val codebooks = Array(
        Array(Array(0.0, 0.0), Array(2.0, 0.0), Array(0.0, 0.0)),
        Array(Array(1.0, 1.0), Array(-1.0, -1.0), Array(1.0, 1.0)))
      check("pq_encode", arr(FloatType, "v"), Seq(Row(null),
        Row(Seq(1.0f, 0.0f, 0.0f, 0.0f)), Row(Seq(2.0f, 0.0f, -1.0f, -1.0f)),
        Row(Seq(1.9f, 0.0f, 1.0f, 1.0f))),
        ArrayOps.pq_encode(col("v"), codebooks))

      // rebuild_units: token spans of 2 dropped, null text and
      // positions, repeated and past-the-end positions
      check("rebuild_units", StructType(Seq(StructField("t", StringType),
        StructField("p", ArrayType(LongType)))), Seq(Row(null, Seq(0L)), Row("a b", null),
        Row("", Seq()), Row(" a  b c ", Seq(0L, 0L, 3L)), Row("a b c d e", Seq(1L, 7L))),
        ArrayOps.rebuild_units(col("t"), col("p"), graft.plans.RebuildUnitsExpr.Tokens,
          1, 2, keep = false))

      val wave = (0 until 2000).map { i =>
        val t = math.sin(0.19634954 * (i + 1)); t * t * t + 0.01 * math.sin(78.233 * i)
      }
      val short = (0 until 64).map(i => math.sin(0.3 * i))
      check("wada_snr(double)", arr(DoubleType, "w"), Seq(Row(null), Row(wave), Row(short)),
        ArrayOps.wada_snr_native(col("w")))
      check("wada_snr(float)", arr(FloatType, "w"),
        Seq(Row(null), Row(wave.map(_.toFloat)), Row(short.map(_.toFloat))),
        ArrayOps.wada_snr_native(col("w")))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("array-parameter expressions compare structurally: independently " +
    "built copies are ==, hash alike and are semanticEquals") {
    val longs = Seq(Tuple1(Array(3L, 5L))).toDF("xs")
    def native(df: org.apache.spark.sql.DataFrame, c: Column): Expression =
      df.select(c.as("x")).queryExecution.analyzed match {
        case Project(Seq(Alias(e, _)), _) => e
        case p => fail(s"unexpected plan $p")
      }
    // every call builds fresh parameter arrays
    def planes = Array.tabulate(8)(i => 7L * i - 3L)
    def build(): Seq[Expression] = Seq(
      native(vecs, ArrayOps.sign_lsh_buckets($"vf", planes, 2, 2, 3)),
      native(vecs, ArrayOps.jl_project($"vf", planes, 2, 3)),
      native(vecs, ArrayOps.pq_encode($"vf",
        Array(Array(Array(0.5, 1.0, 1.5), Array(2.0, 2.5, 3.0))))),
      native(longs, GramHash.minhash_sig($"xs", planes, planes, 2147483647L)))
    build().zip(build()).foreach { case (a, b) =>
      assert(a ne b)
      assert(a == b, a.prettyName)
      assert(a.hashCode == b.hashCode, a.prettyName)
      assert(a.semanticEquals(b), a.prettyName)
    }
  }

  test("install on first use: the plain session plans every custom exec " +
    "and holds each strategy once after repeated calls") {
    assert(CustomExecs.planned(spark).values.forall(identity))
    assert(CustomExecs.planned(spark).values.forall(identity))
    GraftExtensions.install(spark)
    val planned = spark.sessionState.planner.strategies
    GraftExtensions.strategies.foreach { s =>
      assert(planned.count(_ == s) == 1, s)
    }
  }
}
