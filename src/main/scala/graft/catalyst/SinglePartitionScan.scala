package graft.catalyst

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.{SinglePartition, UnknownPartitioning}
import org.apache.spark.sql.execution.{LogicalRDD, RDDScanExec, SparkPlan, SparkStrategy}

/** Planner strategy: a non-streaming `LogicalRDD` whose partitioning
  * is unknown and whose RDD holds exactly ONE partition plans as an
  * `RDDScanExec` reporting `SinglePartition` — the partitioning it
  * actually has. A `localCheckpoint` otherwise reports
  * `UnknownPartitioning(0)`, so every aggregate, window, distinct or
  * join over a one-partition checkpoint plans a
  * hash exchange that AQE runs as its own stage job, only to move the
  * batch back into one partition. With the exact count known,
  * EnsureRequirements adds no exchange downstream: `SinglePartition`
  * satisfies every clustered or ordered distribution, and a join of
  * two such inputs stays in their one partition while both sides'
  * estimated sizes are within `spark.sql.maxSinglePartitionBytes`
  * (Spark's own guard; a checkpoint of a join estimates large, so
  * such a join still shuffles). The decision reads the materialized
  * RDD's partition count — a runtime statistic, exact, and free for a
  * checkpoint — not a logical-plan estimate.
  *
  * Precondition: the rule keeps a one-partition checkpoint's downstream
  * work in ONE task. That is cheap because such a checkpoint holds at
  * most one input split or one AQE-coalesced partition (a batch-sized
  * frame). The CPU-heavy consumers keep their own spread: a multi-pass
  * one (KMeans) still rebalances a checkpoint first
  * ([[graft.ext.TextOps.rebalanceMultiPass]]), and a single-pass one
  * runs it in place, the trade [[graft.ext.TextOps.rebalance]]'s
  * checkpoint skip rests on. A join with a wider input does not
  * collapse the wide side: `SinglePartition` cannot create a
  * partitioning for it, so both sides hash-shuffle as before.
  *
  * Everything else plans exactly as Spark's `BasicOperators` does:
  * RDDs with zero or several partitions, known partitionings, and
  * streaming relations fall through (an empty RDD must not claim one
  * partition). Registered by [[GraftExtensions]]. */
object SinglePartitionScan extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case r: LogicalRDD if !r.isStreaming &&
        r.outputPartitioning.isInstanceOf[UnknownPartitioning] &&
        r.rdd.getNumPartitions == 1 =>
      RDDScanExec(r.output, r.rdd, "ExistingRDD", SinglePartition,
        r.outputOrdering, r.stream) :: Nil
    case _ => Nil
  }
}
