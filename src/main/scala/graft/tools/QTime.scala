package graft.tools
object QTime {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",")
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = graft.core.Graft.session("qtime")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000000L).selectExpr("sum(id)").collect()
    names.foreach { n =>
      val q = graft.queries.Registry.byName(n)
      // one untimed run on the timed fixture absorbs JIT and codegen warm-up
      try q.fn(spark, dir).count() catch { case e: Throwable => println(s"warm $n: ${e.getMessage}") }
      val ts = (1 to 3).map { _ =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        q.fn(spark, dir).count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[qtime] $n min=${ts.min}%.2f runs=${ts.map(t => f"$t%.2f").mkString(",")}")
    }
    spark.stop()
  }
}
