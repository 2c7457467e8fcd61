package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeSet, BindReferences, Descending, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/**
 * First-row-per-key over partition-sorted input — the MERGE's LWW winner
 * election as a CUSTOM physical operator instead of Window(lag)+Filter.
 *
 * Why not the built-in Window: `WindowExec` materializes EVERY partition
 * group into an ExternalAppendOnlyUnsafeRowArray before evaluating — for the
 * merge that is a full extra copy of all row bytes through memory (and a
 * second one for the `_hl` rollup window), which made the reduce stage
 * memory-bandwidth-bound and capped multi-core scaling (measured ~30% of
 * reduce-stage time at 32M events). The winner election over SORTED input
 * needs none of that: stream the rows, hold ONE row (the current group's
 * first = LWW winner under the (lsn DESC, stored-flag DESC) sort), fold the
 * group's `_hl` max into it, emit on group change. O(1) memory, zero row
 * copies beyond the single held winner.
 *
 * Semantics contract (same as the replaced lag-window formulation,
 * CdcApply.lwwDedup): input must be hash-clustered by `partExprs` and
 * sorted within partitions so that all rows of one key are adjacent with
 * the winner first. The operator declares those as required distribution /
 * ordering, so Catalyst INSERTS a shuffle+sort if a caller ever violates
 * them (and reuses the merge's explicit one-exchange repartition+sort
 * otherwise — plan shape: Exchange -> Sort -> SortedLwwDedup).
 *
 * Reference analogue: per-key in-memory merge before CQL write
 * (ActivityAggregatesFunction.scala:218-289) — restated as a streaming
 * operator over Spark's sort so it distributes.
 */
final case class SortedLwwDedup(
    partExprs: Seq[Expression],
    keyExprs: Seq[Expression],
    sortOrder: Seq[SortOrder],
    /** int column whose per-key MAX is folded onto the emitted winner
      * (the change feed's "key had a live stored row" rollup) */
    rollup: Option[Attribute],
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  // accurate references keep column pruning from dropping sort/key columns
  override def references: AttributeSet =
    AttributeSet(partExprs ++ keyExprs ++ sortOrder ++ rollup)
  override protected def withNewChildInternal(newChild: LogicalPlan): SortedLwwDedup =
    copy(child = newChild)
}

object SortedLwwDedupStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case SortedLwwDedup(part, key, order, rollup, child) =>
      SortedLwwDedupExec(part, key, order, rollup, planLater(child)) :: Nil
    case _ => Nil
  }
}

final case class SortedLwwDedupExec(
    partExprs: Seq[Expression],
    keyExprs: Seq[Expression],
    sortOrder: Seq[SortOrder],
    rollup: Option[Attribute],
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(partExprs) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(sortOrder)

  protected override def doExecute(): RDD[InternalRow] = {
    val boundKeys = keyExprs.map(BindReferences.bindReference(_, child.output))
    val hlOrdinal = rollup.map(a => child.output.indexWhere(_.exprId == a.exprId))
    hlOrdinal.foreach(i => require(i >= 0, s"rollup column $rollup not in child output"))
    child.execute().mapPartitions({ it =>
      val keyProj = UnsafeProjection.create(boundKeys)
      new Iterator[InternalRow] {
        private var winner: UnsafeRow = _
        private var winnerKey: UnsafeRow = _
        private var maxHl = 0
        private var ready: InternalRow = _

        private def hl(r: InternalRow): Int = hlOrdinal match {
          case Some(i) => r.getInt(i)
          case None => 0
        }
        private def emitWinner(): InternalRow = {
          hlOrdinal.foreach(i => winner.setInt(i, maxHl))
          val w = winner
          winner = null
          w
        }
        private def advance(): Unit = {
          while (ready == null && it.hasNext) {
            val row = it.next().asInstanceOf[UnsafeRow]
            val key = keyProj(row)
            if (winner == null) {
              winner = row.copy(); winnerKey = key.copy(); maxHl = hl(row)
            } else if (key == winnerKey) {
              // same key: winner already held (first row wins); fold rollup
              if (hlOrdinal.isDefined) maxHl = math.max(maxHl, hl(row))
            } else {
              ready = emitWinner()
              winner = row.copy(); winnerKey = key.copy(); maxHl = hl(row)
            }
          }
          if (ready == null && winner != null) ready = emitWinner()
        }
        override def hasNext: Boolean = {
          if (ready == null) advance()
          ready != null
        }
        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException("empty iterator")
          val r = ready
          ready = null
          r
        }
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): SortedLwwDedupExec =
    copy(child = newChild)
}

object SortedLwwDedup {
  /** Idempotently register the planning strategy on the session. */
  def ensureRegistered(spark: SparkSession): Unit =
    spark.experimental.synchronized {
      if (!spark.experimental.extraStrategies.contains(SortedLwwDedupStrategy))
        spark.experimental.extraStrategies =
          spark.experimental.extraStrategies :+ SortedLwwDedupStrategy
    }

  /** Public entry: first-row-per-key of `df` (which the caller has
    * clustered by `partCols` and sorted by `orderSpec`), with an optional
    * per-key int-max rollup folded onto the winner. `orderSpec` is
    * (column, descending). */
  def dedup(
      df: DataFrame,
      partCols: Seq[String],
      keyCols: Seq[String],
      orderSpec: Seq[(String, Boolean)],
      rollupCol: Option[String]): DataFrame = {
    val spark = df.sparkSession
    ensureRegistered(spark)
    val lp = df.queryExecution.analyzed
    def attr(n: String): Attribute = lp.output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(
        s"column $n not in ${lp.output.map(_.name)}"))
    val node = SortedLwwDedup(
      partCols.map(attr),
      keyCols.map(attr),
      orderSpec.map { case (n, desc) =>
        SortOrder(attr(n), if (desc) Descending else Ascending)
      },
      rollupCol.map(attr),
      lp)
    org.apache.spark.sql.graft.GraftBridge.ofRows(spark, node)
  }
}
