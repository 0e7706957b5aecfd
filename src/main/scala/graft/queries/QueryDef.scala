package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable engine query: a Spark plan over the sfDir parquet
  * tables plus, when SQL-expressible, a DuckDB oracle producing the
  * IDENTICAL result (column names, row order, values).
  *
  * Determinism rules (both sides must follow them or the driver's
  * hash compare flags a false mismatch):
  *
  *  1. every query ends with ORDER BY over a set of columns that is
  *     unique per row (ties would make row order engine-dependent);
  *  2. sums/averages of doubles accumulate in DECIMAL (exact, order
  *     independent) and cast to double exactly once at the end —
  *     naive double summation is shuffle-order dependent in Spark;
  *  3. double→integer conversions go through floor()/round(): Spark
  *     CAST(double AS BIGINT) truncates while DuckDB rounds;
  *  4. derived integer columns are cast to long Spark-side (DuckDB
  *     row_number/len/count all yield BIGINT);
  *  5. per-row double arithmetic (+,*,/ of the same operands in the
  *     same association order) is IEEE-identical across engines and
  *     is safe without rounding — list_sum over an ORDER BY-built
  *     list pins the addition order when a sum must mirror a Scala
  *     accumulation loop;
  *  6. DuckDB integer aggregates return HUGEINT, which pandas
  *     materializes as float64 and the driver hash then mismatches
  *     int64 — CAST(sum(...) AS BIGINT) in every oracle;
  *  7. 64-bit wraparound hashing (FNV-1a et al.) replays in DuckDB
  *     as HUGEINT arithmetic mod 2^64, folded to signed via
  *     `CASE WHEN h >= 1<<63 THEN h - 2^64`; list_reduce seeds with
  *     the FIRST element, which equals a zero-seeded fold's first
  *     step for h = (h·B + b) mod p shapes;
  *  8. ratio thresholds compare integers after cross-multiplication
  *     (n_chars >= 3·n_words, never n_chars/n_words >= 3.0) so gate
  *     decisions carry no float at all;
  *  9. engine-library floats (libm log/exp, k-means means) never
  *     reach an oracle column directly — but INTEGER decisions
  *     derived from them (table-lookup indices, argmin assignments,
  *     sign bits) are checkable when the decision inputs are
  *     identical-order double chains over exactly-representable
  *     operands (see q_g2_wada_table, q_ann_topk_ivf/pq, the
  *     quantized sign-LSH).
  */
final case class QueryDef(
    name: String,
    /** SURVEY.md §2 operator ids this query exercises, e.g. "F1,J1". */
    covers: String,
    fn: (SparkSession, String) => DataFrame,
    /** DuckDB SQL over the same tables; None → driver rows-only check. */
    oracle: Option[String],
    doc: String = "",
    /** Optional UNTIMED fixture build (e.g. a partitioned on-disk
      * layout the query exists to read). Bench runs every prepare at
      * the bench scale factor before the timed loop, so the recorded
      * time measures the query, not its fixture write. `fn` must still
      * self-prepare idempotently (skip-if-built) so Verify/QTime
      * stay correct standalone.
      */
    prepare: Option[(SparkSession, String) => Unit] = None
)

object Registry {
  lazy val all: Seq[QueryDef] = {
    val defs =
      RelationalQueries.defs ++
        AggWindowQueries.defs ++
        TextQueries.defs ++
        DedupQueries.defs ++
        SimilarityQueries.defs ++
        SamplingQueries.defs ++
        DomainQueries.defs ++
        PipelineQueries.defs ++
        TemporalQueries.defs ++
        LayoutQueries.defs ++
        CurationOpsQueries.defs ++
        PerceptualQueries.defs ++
        WebQueries.defs ++
        OlapQueries.defs
    // fail fast on duplicate registrations: byName/SparkEntry maps
    // silently dedupe, so a duplicate would otherwise surface only as
    // a confusing downstream test abort
    val dups = defs.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(dups.isEmpty, s"duplicate query registrations: ${dups.mkString(", ")}")
    defs
  }

  lazy val byName: Map[String, QueryDef] = all.map(q => q.name -> q).toMap
}
