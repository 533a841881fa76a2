package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.expressions.aggregate.Final
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, FilterExec, LocalTableScanExec,
  ProjectExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf

/** Query-stage preparation rule: a global sort over an input known to be
  * small sorts in one partition.
  *
  * EnsureRequirements satisfies a global sort's ordered distribution with
  * a range exchange. That exchange costs a sampling job (the
  * `RangePartitioner` re-runs the child to pick bounds) and a shuffle-map
  * stage, and over a small input AQE then coalesces it back to one
  * partition anyway. This rule replaces it with `CoalesceExec(1, child)`:
  * the sort stays global (a single partition satisfies any ordered
  * distribution), the rows and their order are the same, and no sampling
  * job or extra stage runs. A dashboard chart ending in `ORDER BY` over a
  * few rows of aggregate drops two jobs.
  *
  * "Small" is at most `spark.sql.adaptive.coalescePartitions.minPartitionSize`:
  * a shuffle of at most that size always coalesces to one partition, under
  * either `parallelismFirst` setting. Only these sizes count, read through
  * filters and projections:
  *  - the runtime statistics of a materialized query stage (what AQE's
  *    re-optimization supplies once an aggregate's shuffle has run), also
  *    under the final aggregate that reads it;
  *  - the bytes of the data files a file scan reads (the files the
  *    catalog's planner kept). These are compressed parquet bytes, so the
  *    decoded rows can exceed them by the files' compression ratio: over
  *    a scan, the one partition may hold that ratio times the limit;
  *  - local rows, as unsafe rows.
  * Any other operator (a join, a `Generate`, a window, a union) declines.
  *
  * Runs only inside AQE (sessions with it off keep the exchange) and only
  * on exchanges EnsureRequirements added: `repartitionByRange` and write
  * distributions keep theirs. */
case class SmallSortSinglePartition(session: SparkSession) extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = {
    val conf = session.sessionState.conf
    if (!conf.getConf(SQLConf.COALESCE_PARTITIONS_ENABLED)) return plan
    val limit = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    plan.transformUp {
      case s @ SortExec(_, true,
          ShuffleExchangeExec(_: RangePartitioning, child, ENSURE_REQUIREMENTS, _), _)
          if SmallSortSinglePartition.inputBytes(child, limit).exists(_ <= limit) =>
        s.withNewChildren(Seq(CoalesceExec(1, child)))
    }
  }
}

object SmallSortSinglePartition {
  /** The bytes `p` produces, or None where no size is known: a query
    * stage's runtime statistics (the sizes AQE itself coalesces by),
    * local rows as unsafe rows, and for a file scan the compressed file
    * bytes, which the decoded rows can exceed. Counting local rows stops
    * once past `limit`, so a large local relation costs no more than
    * `limit` bytes of projection. */
  private[plans] def inputBytes(p: SparkPlan, limit: Long): Option[BigInt] = p match {
    case f: FilterExec          => inputBytes(f.child, limit)
    case pr: ProjectExec        => inputBytes(pr.child, limit)
    case r: AQEShuffleReadExec  => inputBytes(r.child, limit)
    // a final aggregate emits at most one row per input buffer row, each
    // no wider than the buffer it finishes
    case a: BaseAggregateExec
        if a.requiredChildDistributionExpressions.isDefined &&
          a.aggregateExpressions.forall(_.mode == Final) =>
      inputBytes(a.child, limit)
    case q: QueryStageExec      => q.computeStats().map(_.sizeInBytes)
    case b: BatchScanExec       =>
      val parts = b.inputPartitions
      if (parts.forall(_.isInstanceOf[FilePartition]))
        Some(parts.map(_.asInstanceOf[FilePartition].files.map(f => BigInt(f.length)).sum).sum)
      else None
    case l: LocalTableScanExec  =>
      val unsafe = UnsafeProjection.create(l.schema)
      val rows = l.rows.iterator
      var n = 0L
      while (rows.hasNext && n <= limit) n += unsafe(rows.next()).getSizeInBytes
      Some(n)
    case _ => None
  }
}
