package graft

import scala.annotation.tailrec

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression, HigherOrderFunction,
  SortOrder, UserDefinedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{Collect, First, Last, ListAgg}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.PartitionedFileUtil
import org.apache.spark.sql.execution.datasources.{FilePartition, HadoopFsRelation, LogicalRelation}

/** The one place that decides scan-side parallelism (injected by
  * [[GraftExtensions]] as an operator-optimization rule).
  *
  * A file scan runs one task per planned split, and every expression
  * stacked on it without an exchange in between runs in those tasks. A
  * one-file table is one split, so a per-row kernel over it (BPE, language
  * ID, minhash, the media codecs) would run on one core. Where a scan plans
  * fewer splits than `defaultParallelism` and a costly per-row expression
  * sits in the `Project`/`Filter`/`Generate` chain above it, this rule puts
  * `Repartition(defaultParallelism, shuffle = true)` directly above the
  * scan: the node `.repartition(n)` makes, which Spark plans as a
  * `RoundRobinPartitioning(n)` exchange that AQE never coalesces. Costly
  * means a graft kernel (an expression class under `graft.`), a
  * higher-order function or a UDF, in a projection or generator: a filter's
  * condition would be pushed back below the exchange.
  *
  * Under a global sort the exchange is the sort's own. Where a prefix of
  * the sort keys are scan columns, passed up the chain unchanged or renamed
  * by an alias (a generator's output is not one), the rule puts
  * `RepartitionByExpression(prefix, n)` above the scan instead: a
  * `RangePartitioning(n)` exchange, again never coalesced by AQE, that the
  * projections carry up to the sort, so Spark adds no second exchange. The
  * kernel then runs once per row, after the shuffle; over a round-robin,
  * the sort's range exchange would run it twice, in its sampling job and
  * in its map stage. A sort on no scan column keeps the round-robin.
  *
  * Either exchange changes which rows meet in which task and in what order, so
  * the rule stays out of any subtree whose result depends on that: under a
  * nondeterministic expression, an arrival-order aggregate (`first`,
  * `last`, `collect_list`/`collect_set`, `listagg`; `dropDuplicates`
  * plans as `first`), a sample, a rebalance, or a repartition that is
  * already there (the user's, or this rule's on an earlier pass: that is
  * what makes it idempotent). A limit, an offset, a
  * tail, a coalesce and a write command depend on the order or the number
  * of their input partitions, so the rule stays out below them too, unless
  * a global sort sits in between: the sort fixes both. Streaming plans are
  * left alone. `spark.sql.optimizer.excludedRules` switches the rule off. */
case class SplitAwareRepartition(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (plan.isStreaming) plan
    else place(plan, spark.sparkContext.defaultParallelism, orderFree = true)

  private def place(p: LogicalPlan, n: Int, orderFree: Boolean): LogicalPlan = p match {
    case _ if pinsInput(p) => p
    case _ if orderFree && fires(p, n) => atScan(p)(Repartition(n, shuffle = true, _))
    case s: Sort if s.global && fires(s.child, n) =>
      val keys = rangeKeys(s)
      s.copy(child = atScan(s.child)(r =>
        if (keys.isEmpty) Repartition(n, shuffle = true, r)
        else RepartitionByExpression(keys, r, Some(n))))
    case _ =>
      val childFree = p match {
        case s: Sort if s.global => true
        case _: GlobalLimit | _: LocalLimit | _: Offset | _: Tail | _: Command => false
        case r: Repartition if !r.shuffle => false
        case _ => orderFree
      }
      p.mapChildren(place(_, n, childFree))
  }

  private def atScan(chain: LogicalPlan)(exchange: LogicalRelation => LogicalPlan) =
    chain.transformUp { case r: LogicalRelation => exchange(r) }

  /** The longest prefix of `s`'s keys that are columns of the scan at the
    * bottom of its child chain, passed up unchanged or renamed by an alias
    * (a generator's output is none), as sort orders over the scan's own
    * attributes. */
  private def rangeKeys(s: Sort): Seq[SortOrder] = {
    @tailrec def trace(a: Attribute, q: LogicalPlan): Option[Attribute] = q match {
      case Project(list, child) =>
        list.collectFirst {
          case b: Attribute if b.exprId == a.exprId => b
          case al @ Alias(b: Attribute, _) if al.exprId == a.exprId => b
        } match {
          case Some(b) => trace(b, child)
          case None => None
        }
      case Filter(_, child) => trace(a, child)
      case g: Generate if !g.generatorOutput.exists(_.exprId == a.exprId) => trace(a, g.child)
      case r: LogicalRelation => r.output.find(_.exprId == a.exprId)
      case _ => None
    }
    s.order.iterator.map(o => o.child match {
      case a: Attribute => trace(a, s.child).map(SortOrder(_, o.direction, o.nullOrdering, Nil))
      case _ => None
    }).takeWhile(_.isDefined).flatten.toSeq
  }

  private def pinsInput(p: LogicalPlan): Boolean = p match {
    case _: Sample | _: RebalancePartitions => true
    case r: RepartitionOperation => r.shuffle
    case _ => p.expressions.exists(e => !e.deterministic || e.exists {
      case _: First | _: Last | _: Collect[_] | _: ListAgg => true
      case _ => false
    })
  }

  /** `p` tops a Project/Filter/Generate chain that carries a costly
    * expression and ends in a non-bucketed file scan of too few splits. */
  private def fires(p: LogicalPlan, n: Int): Boolean = {
    @tailrec def walk(q: LogicalPlan, costly: Boolean): Boolean = q match {
      case _ if pinsInput(q) => false
      case _: Project | _: Generate =>
        walk(q.children.head, costly || q.expressions.exists(_.exists(isCostly)))
      case f: Filter => walk(f.child, costly)
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        costly && fs.bucketSpec.isEmpty && splits(fs) < n
      case _ => false
    }
    walk(p, costly = false)
  }

  private def isCostly(e: Expression): Boolean = e match {
    case _: HigherOrderFunction | _: UserDefinedExpression => true
    case _ => e.getClass.getName.startsWith("graft.")
  }

  /** The scan's planned partitions, by `FileSourceScanExec`'s arithmetic
    * over every listed file (no partition pruning: an upper bound). */
  private def splits(fs: HadoopFsRelation): Int = {
    val dirs = fs.location.listFiles(Nil, Nil)
    val maxSplit = FilePartition.maxSplitBytes(spark, dirs)
    val files = dirs.flatMap(d => d.files.flatMap { f =>
      PartitionedFileUtil.splitFiles(f, f.getPath,
        fs.fileFormat.isSplitable(spark, fs.options, f.getPath), maxSplit, d.values)
    }).sortBy(_.length)(Ordering[Long].reverse)
    FilePartition.getFilePartitions(spark, files, maxSplit).size
  }
}
