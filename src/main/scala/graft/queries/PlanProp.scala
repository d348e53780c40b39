package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Attribute, ScalaUDF}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{ExternalRDDScanExec, FileSourceScanExec, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.internal.SQLConf

/** A frame's physical plan as two flat node lists. `before` is the plan
  * before execution, where every file scan is still a leaf; `after` is
  * the AQE final plan of one run, where scans sit inside query stages
  * and may be reused or pruned away. Both look through AQE wrappers,
  * query stages and cached relations, so each node appears once. */
final class PlanView(val before: Seq[SparkPlan], val after: Seq[SparkPlan],
    val text: String) {

  /** Final-plan nodes whose one-line description contains `fragment`. */
  def count(fragment: String): Int = after.count(PlanView.line(_).contains(fragment))

  def scans: Seq[FileSourceScanExec] = before.collect { case s: FileSourceScanExec => s }

  /** Top-level column names of every hash-partitioned shuffle. */
  def shuffleKeys: Seq[String] = after.collect {
    case e: ShuffleExchangeExec => e.outputPartitioning
  }.flatMap {
    case h: HashPartitioning => h.expressions.collect { case a: Attribute => a.name }
    case _ => Nil
  }
}

object PlanView {

  /** Runs `df` once (so AQE finalizes its plan) and captures both plans. */
  def of(df: DataFrame): PlanView = {
    val root = df.queryExecution.executedPlan
    df.collect()
    new PlanView(nodes(root, before = true), nodes(root, before = false), root.toString)
  }

  /** A cached relation's plan is walked at its first reader only: it
    * runs once however many operators read it. */
  private def nodes(root: SparkPlan, before: Boolean): Seq[SparkPlan] = {
    val cached = collection.mutable.Set.empty[AnyRef]
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(if (before) a.initialPlan else a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case m: InMemoryTableScanExec =>
        m +: (if (cached.add(m.relation.cacheBuilder)) walk(m.relation.cachedPlan) else Nil)
      case _ => p +: (p.children ++ p.subqueries).flatMap(walk)
    }
    walk(root)
  }

  private[queries] def line(p: SparkPlan): String = p.simpleString(SQLConf.get.maxToStringFields)
}

/** One plan property: the sentence PLANS.md shows and the predicate the
  * tests assert. Scan counts and pushdown read the plan before execution;
  * every other property reads the AQE final plan only. */
final case class PlanProp(what: String, holds: PlanView => Boolean)

object PlanProp {

  def scans(n: Int): PlanProp =
    PlanProp(s"reads $n file scan${if (n == 1) "" else "s"}", _.scans.length == n)

  def pushed(filters: String*): PlanProp =
    PlanProp(s"a scan pushes ${filters.mkString(" and ")} into the reader",
      _.scans.exists { s =>
        val pushed = s.metadata.getOrElse("PushedFilters", "")
        filters.forall(pushed.contains)
      })

  def scanReads(cols: String*): PlanProp =
    PlanProp(s"a scan reads exactly ${cols.mkString(", ")}",
      _.scans.exists(_.requiredSchema.fieldNames.toSet == cols.toSet))

  def neverReads(col: String): PlanProp =
    PlanProp(s"no scan reads $col",
      _.scans.forall(!_.requiredSchema.fieldNames.contains(col)))

  def has(fragments: String*): PlanProp =
    PlanProp(s"has ${fragments.mkString(" ")}",
      _.after.exists(n => fragments.forall(PlanView.line(n).contains)))

  def lacks(fragment: String): PlanProp =
    PlanProp(s"has no $fragment", _.count(fragment) == 0)

  def atLeast(fragment: String, n: Int): PlanProp =
    PlanProp(s"at least $n $fragment nodes", _.count(fragment) >= n)

  def atMost(fragment: String, n: Int): PlanProp =
    PlanProp(s"at most $n $fragment node${if (n == 1) "" else "s"}", _.count(fragment) <= n)

  def exactly(fragment: String, n: Int): PlanProp =
    PlanProp(s"exactly $n $fragment node${if (n == 1) "" else "s"}", _.count(fragment) == n)

  def shuffleKey(col: String): PlanProp =
    PlanProp(s"shuffles on $col", _.shuffleKeys.contains(col))

  def neverShuffles(col: String): PlanProp =
    PlanProp(s"never shuffles on $col", !_.shuffleKeys.contains(col))

  /** Some final-plan expression is the native function `name`. */
  def calls(name: String): PlanProp =
    PlanProp(s"calls $name",
      _.after.exists(_.expressions.exists(_.exists(_.prettyName == name))))

  val noUdf: PlanProp =
    PlanProp("no Scala UDF and no Python eval", v => !v.after.exists { n =>
      n.nodeName.contains("EvalPython") ||
        n.expressions.exists(_.exists(_.isInstanceOf[ScalaUDF]))
    })

  /** No leaf reads an RDD: its lineage would be opaque to the planner. A
    * scan of an RDD of rows prints as `Scan ExistingRDD`, but a scan of an
    * RDD of objects prints as `Scan[obj#…]`, so this matches node classes. */
  val noRdd: PlanProp =
    PlanProp("no RDD scan", !_.after.exists {
      case _: RDDScanExec | _: ExternalRDDScanExec[_] => true
      case _ => false
    })

  /** `p` read on the plan before execution: for shapes AQE may erase at
    * run time, such as a join whose other side turned out empty. */
  def planned(p: PlanProp): PlanProp =
    PlanProp(s"${p.what} (before execution)",
      v => p.holds(new PlanView(v.before, v.before, v.text)))

  val codegen: PlanProp =
    PlanProp("runs inside whole-stage codegen", _.count("WholeStageCodegen") > 0)

  val noCartesian: PlanProp =
    PlanProp("no CartesianProduct and no BroadcastNestedLoopJoin",
      v => v.count("CartesianProduct") + v.count("BroadcastNestedLoopJoin") == 0)
}
