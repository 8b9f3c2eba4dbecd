package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{SparkPlan, UnionExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions.col

/** Spreading a narrow document input across the session's cores.
  *
  * A small corpus file is ONE input split: a single parquet row group
  * is unsplittable, and a text/CSV file below Spark's 4 MB open-cost
  * floor is never cut. An unsplit scan serializes every downstream
  * per-row native stage - regex scrubs, quality features, md5/MinHash
  * signatures, tokenizers, gram streams, the dominant map work of the
  * prep, dedup and text families - onto one core (input skew: one
  * unsplittable file -> repartition immediately after the read). The
  * exchange moves the raw text once; the per-row work it spreads is
  * 10-50x the shuffle cost at these sizes (the md5-minhash signature
  * stage alone was 0.78 s single-task at sf0.1).
  *
  * Not for tokenize-then-aggregate operators: a single-task tokenize
  * feeding a vocab-sized partial aggregate beats the spread map plus
  * the wider combine (measured losses on BPE training, see
  * SparkEntry's bpeMergesShared and q_t_byte_bpe_train).
  */
object Spread {

  /** `df` hash-repartitioned on `idCol` to `spark.sql.shuffle.partitions`
    * when its planned partition count is below that, else `df` itself -
    * a wide input (a multi-split corpus, or one already behind an
    * exchange) pays no extra shuffle.
    *
    * The count is explicit: a bare repartition(col) is an
    * AQE-coalescable exchange, and at these row sizes AQE folds it
    * straight back to one partition, re-serializing the map stage it
    * was meant to spread. The decision reads the physical plan and
    * starts no Spark job; an exchange counts at its planned (pre-AQE)
    * width. */
  def ifNarrow(df: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val n = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    if (plannedPartitions(df.queryExecution.executedPlan) >= n) df
    else df.repartition(n, col(idCol))
  }

  /** The number of partitions `plan` produces, from the plan alone: an
    * adaptive plan is read at its initial (pre-stage) form, a cache
    * scan at its cached plan, a known output partitioning at its count,
    * and a leaf without one (file scan, local rows) by building - not
    * running - its RDD. A union sums its children; any other node
    * keeps its widest child's count. */
  private[graft] def plannedPartitions(plan: SparkPlan): Int = plan match {
    case a: AdaptiveSparkPlanExec => plannedPartitions(a.initialPlan)
    case m: InMemoryTableScanExec => plannedPartitions(m.relation.cachedPlan)
    case p if p.outputPartitioning.numPartitions > 0 =>
      p.outputPartitioning.numPartitions
    case p if p.children.isEmpty =>
      (if (p.supportsColumnar) p.executeColumnar() else p.execute()).getNumPartitions
    case u: UnionExec => u.children.map(plannedPartitions).sum
    case p => p.children.map(plannedPartitions).max
  }
}
