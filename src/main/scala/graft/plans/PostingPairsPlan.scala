package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, Expression, GenericInternalRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graft.bridge.{ofRows, resolveOn}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}

/** Whole-operator custom plan (SURVEY §7.3 tier (c)): co-occurring
  * (a<b) pair emission over an inverted index — the candidate core of
  * [[graft.dedup.Dedup.ngramJaccardPairs]].
  *
  * Input: exploded postings (shingle, id, n) — one row per (doc,
  * shingle). Output: one row (a, b, n_a, n_b) per ordered pair of docs
  * sharing a shingle, emitted only for groups with
  * 2 ≤ df ≤ `maxDf` (the skew guard: stopword shingles explode
  * quadratically and carry no dedup signal).
  *
  * The round-15 form built each group as ONE collect_list array and
  * materialized all d(d−1)/2 pair structs through
  * `PostingPairsExpr` — ObjectHashAggregate falls back to sort-based
  * aggregation past 128 map keys (so the capped funnel point paid a
  * sort anyway AND the array build), and an uncapped hot shingle threw
  * past d ≈ 92k where the old self-join streamed. This exec keeps the
  * one-exchange shape but streams: Catalyst inserts the shingle-
  * clustered exchange and a (shingle, id) sort via
  * requiredChildDistribution/Ordering, and doExecute walks the sorted
  * run group by group, buffering only the d-sized (id, n) postings of
  * the CURRENT group (the same d-sized group the pre-r15 self-join's
  * merge buffer held) and emitting pairs lazily through the iterator —
  * no d² array, no loud overflow guard needed, groups past `maxDf`
  * stop buffering at maxDf+1 entries and are skipped. Ascending id
  * order within the group gives a < b by construction, exactly as the
  * old join's a < b filter did.
  *
  * Id contract: long, int or string ids (null ids must be filtered by
  * the caller — [[graft.dedup.Dedup.ngramJaccardPairs]] does); `n`
  * must be a long.
  */
case class PostingPairsNode(
    shingle: Expression,
    docId: Expression,
    n: Expression,
    maxDf: Long,
    outAttrs: Seq[AttributeReference],
    child: LogicalPlan
) extends UnaryNode {
  override def output: Seq[Attribute] = outAttrs
  override def producedAttributes: AttributeSet = AttributeSet(outAttrs)
  override protected def withNewChildInternal(newChild: LogicalPlan): PostingPairsNode =
    copy(child = newChild)
}

case class PostingPairsExec(
    shingle: Expression,
    docId: Expression,
    n: Expression,
    maxDf: Long,
    outAttrs: Seq[Attribute],
    child: SparkPlan
) extends UnaryExecNode {

  override def output: Seq[Attribute] = outAttrs
  override def producedAttributes: AttributeSet = AttributeSet(outAttrs)
  // output columns are all produced here; the child's partitioning
  // (by shingle, a dropped column) is meaningless downstream
  override def outputPartitioning: Partitioning = UnknownPartitioning(0)
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(shingle :: Nil) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq(SortOrder(shingle, Ascending), SortOrder(docId, Ascending)))

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val shingleExpr = shingle
    val idExpr = docId
    val nExpr = n
    val idIsLong = idExpr.dataType == LongType
    val idIsString = idExpr.dataType == StringType
    val cap = maxDf
    val outTypes = outAttrs.map(_.dataType).toArray
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(Seq(shingleExpr), childOutput)
      val valProj = UnsafeProjection.create(Seq(idExpr, nExpr), childOutput)
      val outProj = UnsafeProjection.create(outTypes)
      val outRow = new GenericInternalRow(4)

      new Iterator[InternalRow] {
        // current group's postings (ids ascending — the child ordering)
        private var idsL: Array[Long] = if (idIsLong) new Array[Long](16) else null
        private var idsA: Array[AnyRef] = if (idIsLong) null else new Array[AnyRef](16)
        private var ns: Array[Long] = new Array[Long](16)
        private var d = 0
        // pair cursor over the current group
        private var i = 0
        private var j = 1
        // first row of the NEXT group, staged when the key changes
        private var curKey: UnsafeRow = null
        private var havePending = false
        private var pendingIdL = 0L
        private var pendingIdA: AnyRef = null
        private var pendingN = 0L

        private def copyId(r: InternalRow): AnyRef =
          if (idIsString) r.getUTF8String(0).copy()
          else Int.box(r.getInt(0))

        private def stage(raw: InternalRow): Unit = {
          curKey = keyProj(raw).copy()
          val v = valProj(raw)
          if (idIsLong) pendingIdL = v.getLong(0) else pendingIdA = copyId(v)
          pendingN = v.getLong(1)
          havePending = true
        }

        private def grow(): Unit = {
          val cap2 = ns.length * 2
          if (idIsLong) idsL = java.util.Arrays.copyOf(idsL, cap2)
          else idsA = java.util.Arrays.copyOf(idsA, cap2)
          ns = java.util.Arrays.copyOf(ns, cap2)
        }

        private def appendPending(): Unit = {
          if (d == ns.length) grow()
          if (idIsLong) idsL(d) = pendingIdL else idsA(d) = pendingIdA
          ns(d) = pendingN
          d += 1
          havePending = false
        }

        /** Read postings until the next emitable group (2 ≤ d ≤ cap) is
          * buffered; returns false at end of input. Overflowing groups
          * stop buffering (d freezes past cap) and are skipped.
          */
        private def readGroup(): Boolean = {
          while (true) {
            if (!havePending) {
              if (!iter.hasNext) return false
              stage(iter.next())
            }
            d = 0
            var overflow = false
            appendPending()
            var groupDone = false
            while (!groupDone && iter.hasNext) {
              val raw = iter.next()
              if (keyProj(raw) == curKey) {
                if (!overflow) {
                  if (d.toLong >= cap || d == Int.MaxValue) overflow = true
                  else {
                    val v = valProj(raw)
                    if (idIsLong) { pendingIdL = v.getLong(0) }
                    else pendingIdA = copyId(v)
                    pendingN = v.getLong(1)
                    havePending = true
                    appendPending()
                  }
                }
              } else {
                stage(raw)
                groupDone = true
              }
            }
            if (!overflow && d >= 2) { i = 0; j = 1; return true }
            // input ended inside a skipped (overflowing) group: drop its
            // buffer so a repeated hasNext cannot re-enter the stale
            // pair cursor
            if (!groupDone && !havePending) { d = 0; return false }
          }
          false // unreachable
        }

        override def hasNext: Boolean = (d >= 2 && i < d - 1) || readGroup()

        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException("posting pairs exhausted")
          if (idIsLong) {
            outRow.update(0, idsL(i))
            outRow.update(1, idsL(j))
          } else {
            outRow.update(0, idsA(i))
            outRow.update(1, idsA(j))
          }
          outRow.update(2, ns(i))
          outRow.update(3, ns(j))
          j += 1
          if (j == d) { i += 1; j = i + 1 }
          if (i == d - 1) d = 0 // group exhausted; hasNext advances
          outProj(outRow)
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): PostingPairsExec =
    copy(child = newChild)
}

object PostingPairsStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PostingPairsNode(shingle, id, n, maxDf, outAttrs, child) =>
      PostingPairsExec(shingle, id, n, maxDf, outAttrs, planLater(child)) :: Nil
    case _ => Nil
  }
}

object PostingPairs {

  /** Column-level API: all co-occurring (a<b) doc pairs per shingle
    * group with 2 ≤ group size ≤ maxDf, as (a, b, n_a, n_b).
    * `idCol` must be long/int/string and NON-NULL (filter first);
    * `nCol` must be long.
    */
  def pairs(
      df: DataFrame,
      shingleCol: Column,
      idCol: Column,
      nCol: Column,
      maxDf: Long): DataFrame = {
    val spark = df.sparkSession
    graft.GraftExtensions.install(spark)
    val plan = df.queryExecution.analyzed
    val sh = resolveOn(spark, plan, shingleCol)
    val idE = resolveOn(spark, plan, idCol)
    val nE = resolveOn(spark, plan, nCol)
    require(
      idE.dataType == LongType || idE.dataType == StringType ||
        idE.dataType == IntegerType,
      s"posting pairs need a long/int/string id, got ${idE.dataType.simpleString}")
    require(nE.dataType == LongType,
      s"posting pairs need a long n column, got ${nE.dataType.simpleString}")
    val outAttrs = Seq(
      AttributeReference("a", idE.dataType, nullable = false)(),
      AttributeReference("b", idE.dataType, nullable = false)(),
      AttributeReference("n_a", LongType, nullable = false)(),
      AttributeReference("n_b", LongType, nullable = false)())
    ofRows(spark, PostingPairsNode(sh, idE, nE, maxDf, outAttrs, plan))
  }
}
