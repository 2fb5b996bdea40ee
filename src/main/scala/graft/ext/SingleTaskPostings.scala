package graft.ext

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.planning.{ExtractEquiJoinKeys, PhysicalOperation}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftAnti, LeftOuter, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Generate, HintInfo, Join, JoinHint, LogicalPlan, Project, Repartition, SHUFFLE_HASH, Sort, Union, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{DataSourceStrategy, HadoopFsRelation, LogicalRelation}

/** Runs a small bucket-pruned postings slice as ONE task, so a full-text
  * query over it runs as one Spark job.
  *
  * A served `fts_*` query reads a few kB to a few MB of postings, yet each
  * window, aggregate, join and top-k over them used to cost an exchange or
  * a broadcast, and each of those costs a job. This rule sizes the plan to
  * its data:
  *
  *  - **Single-task slices.** Every scan of the persisted postings layout
  *    ([[graft.fts.Index.isPostings]]: partitioned by `bucket`, with `term`
  *    and `doc_id` data columns) whose partition filters select at most
  *    `spark.sql.files.openCostInBytes` bytes of bucket files has its
  *    Project/Filter chain wrapped in `Repartition(1, shuffle = false)`.
  *    That plans as `CoalesceExec(1)`, whose `SinglePartition` output
  *    satisfies every distribution the window, aggregates, sort and top-k
  *    above it require, so none of them adds an exchange.
  *  - **Joins of two single-task sides** get a shuffled-hash hint: they
  *    then plan with neither an exchange nor a broadcast. A union of
  *    single-task sides is coalesced to one task the same way.
  *  - An unpruned scan (a term range, a wildcard or regexp dictionary
  *    scan) and a slice above the threshold keep the parallel plan.
  *    `fts_prefix` and `fts_fuzzy` expand against the index's vocabulary
  *    first, so their scans prune to the expanded terms' buckets.
  *
  * The threshold is Spark's own estimate of the bytes one task scans in
  * the time a file open costs, the same figure the file-scan planner packs
  * splits by. A slice below it gains nothing from a second task, so the
  * rule adds no option of its own. Setting it to 0 keeps the parallel plan
  * for every non-empty slice.
  *
  * Injected as a pre-CBO rule: by then the operator-optimization batch,
  * which could push a semi-join below a `Repartition`, has run, and the
  * scans' partition filters are final. [[RewriteFtsMatch]] grafts its
  * postings subplans unoptimized, so the rule sees every postings scan of
  * a query once, in its final place.
  * The byte count is `location.listFiles` over the relation's cached
  * listing: no file-system call.
  */
object SingleTaskPostings extends Rule[LogicalPlan] {

  /** The hint a join of two single-task sides gets. */
  private val ShuffleHash = JoinHint(None, Some(HintInfo(strategy = Some(SHUFFLE_HASH))))

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (plan.exists(isPostingsScan)) lower(plan)._1 else plan

  private def isPostingsScan(p: LogicalPlan): Boolean = p match {
    case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
      graft.fts.Index.isPostings(fs.partitionSchema, fs.dataSchema)
    case _ => false
  }

  /** Bytes of the bucket files a postings scan's partition filters select,
    * when it has any partition filter at all. */
  private def prunedBytes(filters: Seq[Expression], lr: LogicalRelation): Option[Long] = {
    val fs = lr.relation.asInstanceOf[HadoopFsRelation]
    val partitionCols = lr.output.filter(a => fs.partitionSchema.fieldNames.contains(a.name))
    val partitionFilters = DataSourceStrategy.getPushedDownFilters(partitionCols,
      filters.filter(_.deterministic))
    if (partitionFilters.isEmpty) None
    else Some(fs.location.listFiles(partitionFilters.toSeq, Nil)
      .flatMap(_.files).map(_.fileStatus.getLen).sum)
  }

  /** `p` with its small postings slices on one task, and whether `p`'s own
    * output is then a single partition. */
  private def lower(p: LogicalPlan): (LogicalPlan, Boolean) = p match {
    case op @ PhysicalOperation(_, filters, lr: LogicalRelation)
        if isPostingsScan(lr) &&
          prunedBytes(filters, lr).exists(_ <= conf.filesOpenCostInBytes) =>
      (Repartition(1, shuffle = false, op), true)
    case _ =>
      val lowered = p.children.map(lower)
      val np = p.withNewChildren(lowered.map(_._1))
      val single = lowered.nonEmpty && lowered.forall(_._2)
      np match {
        case j: Join if single && j.hint == JoinHint.NONE &&
            Seq(Inner, LeftSemi, LeftAnti, LeftOuter).contains(j.joinType) &&
            ExtractEquiJoinKeys.unapply(j).isDefined =>
          (j.copy(hint = ShuffleHash), true)
        case u: Union if single => (Repartition(1, shuffle = false, u), true)
        case Repartition(1, _, _) => (np, true)
        case _: Project | _: Filter | _: Aggregate | _: Window | _: Sort | _: Generate =>
          (np, single)
        case _ => (np, false)
      }
  }
}
