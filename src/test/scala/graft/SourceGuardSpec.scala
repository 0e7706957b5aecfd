package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Source-scan guards over `src/main/scala`: session wiring stays in
  * one file, a `*Udf` name stays a Spark UDF, global running sums go
  * through the one running-sum operator, near-dup pairs go through
  * the one exact verify, Hamming pairs through the one band cover,
  * keyed self pairs through the one group-pairs operator, the
  * exact sub-document faces through the one occurrence core and the one
  * in-row rebuild, the similarity faces through the one exact quantized
  * cosine, each native array kernel's loop is written once, and every
  * streaming sink face starts through the one micro-batch driver.
  */
class SourceGuardSpec extends AnyFunSuite {

  private lazy val sources: Seq[(Path, String)] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p -> new String(Files.readAllBytes(p), "UTF-8"))
    finally walk.close()
  }

  test("functions and planner strategies are installed only in GraftExtensions") {
    val hooks = Seq("extraStrategies", "createOrReplaceTempFunction",
      "registerFunction", "injectFunction", "injectPlannerStrategy")
    val offenders = for {
      (path, text) <- sources
      if path.getFileName.toString != "GraftExtensions.scala"
      hook <- hooks
      if text.contains(hook)
    } yield s"$path: $hook"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("no *Udf name holds a plain Column => Column function") {
    // a def/val named *Udf whose declared type (before its `=`) is a
    // Column => Column function: a forwarder to a native expression
    // wearing a UDF's name
    val forwarder =
      """(?s)\b(?:def|val)\s+(\w+Udf)\b((?:[^=]|=>)*?)=(?!>)""".r
    val fn = """Column\s*=>\s*(?:[\w.]+\.)?Column""".r
    val offenders = for {
      (path, text) <- sources
      m <- forwarder.findAllMatchIn(text)
      if fn.findFirstIn(m.group(2)).isDefined
    } yield s"$path: ${m.group(1)}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("no hand-rolled running sum: the partition-id function appears nowhere") {
    // sharding rows by their partition id was the per-shard subtotal +
    // broadcast-base recipe that GlobalSeq.withRunningSum replaces;
    // the name is spelled in parts so a grep over src finds only uses
    val partitionId = Seq("spark", "partition", "id").mkString("_")
    val offenders = sources.collect {
      case (path, text) if text.contains(partitionId) => path.toString
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("one exact pair verify: sorted_intersect_count is called once in dedup") {
    val call = java.util.regex.Pattern.quote("sorted_intersect_count(").r
    val calls = for {
      (path, text) <- sources
      if path.startsWith(Paths.get("src/main/scala/graft/dedup"))
    } yield path -> call.findAllIn(text).size
    assert(calls.map(_._2).sum == 1, calls.filter(_._2 > 0).mkString("\n"))
  }

  test("one Hamming band cover: one shuffle-merge band join and one popcount in dedup") {
    val needles = Seq(""".hint("shuffle_merge")""", "bit_count(")
    for (needle <- needles) {
      val hit = java.util.regex.Pattern.quote(needle).r
      val counts = for {
        (path, text) <- sources
        if path.startsWith(Paths.get("src/main/scala/graft/dedup"))
      } yield path -> hit.findAllIn(text).size
      assert(counts.map(_._2).sum == 1,
        s"$needle:\n" + counts.filter(_._2 > 0).mkString("\n"))
    }
  }

  test("one sub-document occurrence core") {
    // the one position gather of the exact sub-document faces
    val gather = java.util.regex.Pattern.quote("sort_array(collect_list(").r
    val counts = for {
      (path, text) <- sources
      if path.startsWith(Paths.get("src/main/scala/graft/dedup"))
    } yield path -> gather.findAllIn(text).size
    assert(counts.map(_._2).sum == 1, counts.filter(_._2 > 0).mkString("\n"))
    // one word-gram UDF: TextAnalysis.ngramsUdf
    val twin = """\bgramsUdf\b""".r
    val offenders = sources.collect {
      case (path, text) if twin.findFirstIn(text).isDefined => path
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("one in-row rebuild") {
    val dedup = sources.filter(_._1.startsWith(Paths.get("src/main/scala/graft/dedup")))
    // the four rebuild UDFs the native kernel replaced, spelled in
    // parts so a grep over src finds only uses
    val gone = Seq("lineRebuild", "windowRebuild", "spanRemove", "substringCut").map(_ + "Udf")
    val offenders = for {
      (path, text) <- sources
      name <- gone
      if text.contains(name)
    } yield s"$path: $name"
    assert(offenders.isEmpty, offenders.mkString("\n"))
    val udfs = dedup.map { case (path, text) =>
      path -> java.util.regex.Pattern.quote("udf {").r.findAllIn(text).size }
    assert(udfs.map(_._2).sum == 8, udfs.mkString("\n"))
    // the kernel's column builder: called from the one rebuild tail
    val calls = dedup.map { case (path, text) =>
      path -> java.util.regex.Pattern.quote("rebuild_units(").r.findAllIn(text).size }
    assert(calls.map(_._2).sum == 1, calls.filter(_._2 > 0).mkString("\n"))
  }

  test("one exact quantized cosine") {
    val needles = Seq(
      // the one cosine divide
      java.util.regex.Pattern.quote("""sqrt(col("na")) * sqrt(col("nb"))""").r,
      // the one scalar quantizer
      java.util.regex.Pattern.quote("QuantScale, 0)").r,
      // the one probe-lists UDF: one call of the nearest-list search
      """(?<!def )\bnearestCentroids\(""".r)
    for (needle <- needles) {
      val counts = for {
        (path, text) <- sources
        if path.startsWith(Paths.get("src/main/scala/graft/similarity"))
      } yield path -> needle.findAllIn(text).size
      assert(counts.map(_._2).sum == 1,
        s"$needle:\n" + counts.filter(_._2 > 0).mkString("\n"))
    }
  }

  test("each native kernel's loop is written once") {
    // Java loop spellings inside codegen templates: a kernel's loop is
    // one companion method that eval and generated code both call
    val needles = Seq(
      java.util.regex.Pattern.quote("for (int ").r -> 0,
      java.util.regex.Pattern.quote("while ($").r -> 0,
      // the one ×2^20 quantize step
      "1048576\\.0[dD]".r -> 1)
    for ((needle, allowed) <- needles) {
      val counts = for {
        (path, text) <- sources
        if path.startsWith(Paths.get("src/main/scala/graft/plans"))
      } yield path -> needle.findAllIn(text).size
      assert(counts.map(_._2).sum == allowed,
        s"$needle:\n" + counts.filter(_._2 > 0).mkString("\n"))
    }
  }

  test("no shutdown hook and no spark.graft.verify.* conf key") {
    // spelled in parts so a grep over src finds only uses
    val banned = Seq(Seq("add", "Shutdown", "Hook").mkString,
      Seq("spark", "graft", "verify", "").mkString("."))
    val offenders = for {
      (path, text) <- sources
      word <- banned
      if text.contains(word)
    } yield s"$path: $word"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("one group-pairs operator") {
    // the old posting-pair operator's name, spelled in parts so a grep
    // over src finds only uses
    val gone = Seq("Posting", "Pairs").mkString
    val offenders = sources.collect {
      case (path, text) if text.contains(gone) => path.toString
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
    // a keyed self join's a < b filter: self pairs come from the exec
    val selfJoin = java.util.regex.Pattern.quote(""".filter(col("a") < col("b"))""").r
    val counts = for {
      (path, text) <- sources
      if Seq("dedup", "similarity").exists(d => path.startsWith(Paths.get(s"src/main/scala/graft/$d")))
    } yield path -> selfJoin.findAllIn(text).size
    assert(counts.map(_._2).sum == 0, counts.filter(_._2 > 0).mkString("\n"))
  }

  test("one streaming front door") {
    // the one micro-batch driver: one writeStream, one trigger policy,
    // and one caller of the stream-lifetime release
    val needles = Seq(
      java.util.regex.Pattern.quote("writeStream").r,
      java.util.regex.Pattern.quote("Trigger.AvailableNow()").r,
      """(?<!def )\bunpersistOnTermination\(""".r)
    for (needle <- needles) {
      val counts = sources.map { case (path, text) => path -> needle.findAllIn(text).size }
      assert(counts.map(_._2).sum == 1, s"$needle:\n" + counts.filter(_._2 > 0).mkString("\n"))
    }
  }
}
