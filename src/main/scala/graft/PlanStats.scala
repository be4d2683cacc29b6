package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.catalyst.expressions.PlanExpression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Per-query physical-plan statistics, generated, committed and
  * spec-enforced.
  *
  * For every registered query (lazy builder where one exists, same
  * convention as Explain/PlanQualitySpec) it reports:
  *  - `shuffles`: DISTINCT ShuffleExchangeLike nodes after canonicalized
  *    dedup — duplicated identical subtrees execute once at runtime
  *    (ReuseExchange/AQE stage reuse), so raw node counts overstate what
  *    actually shuffles; the distinct count is the honest number.
  *  - `smj`: SortMergeJoin node count (raw — each is a real sort pair).
  *
  * Usage: `sbt "runMain graft.PlanStats [sfDir] [outFile]"` →
  * PLANS_SWEEP.md. PlanQualitySpec's "plan sweep ceilings" test enforces
  * the same numbers live, so the committed table cannot silently drift. */
object PlanStats {

  /** Walk a physical plan including adaptive wrappers, query stages and
    * subquery plans (the PlanQualitySpec offenders recursion extended to
    * the PREPARED plan — exchanges are only inserted by EnsureRequirements,
    * so `sparkPlan` never contains them). */
  private[graft] def allNodes(spark: org.apache.spark.sql.SparkSession,
                              p: SparkPlan): Seq[SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def walk(n: SparkPlan): Seq[SparkPlan] = n match {
      case a: AdaptiveSparkPlanExec => n +: walk(a.executedPlan)
      case q: QueryStageExec        => n +: walk(q.plan)
      case other                    => other +: other.children.flatMap(walk)
    }
    val here = walk(p)
    val subPlans = here.flatMap { n =>
      n.expressions.flatMap(_.collect { case pe: PlanExpression[_] => pe.plan })
    }
    here ++ subPlans.flatMap {
      case sp: SparkPlan   => allNodes(spark, sp)
      case lp: LogicalPlan =>
        allNodes(spark, spark.sessionState.executePlan(lp).executedPlan)
      case _               => Nil
    }
  }

  private[graft] def stats(spark: org.apache.spark.sql.SparkSession,
                           df: DataFrame): (Int, Int) = {
    val nodes = allNodes(spark, df.queryExecution.executedPlan)
    val shuffles = nodes.collect { case e: ShuffleExchangeLike => e.canonicalized }
      .distinct.size
    val smj = nodes.count(_.isInstanceOf[SortMergeJoinExec])
    (shuffles, smj)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("PLANS_SWEEP.md")
    val spark = graft.core.Sessions.local(8)
    // the committed plan files are generated at 32 shuffle partitions, the
    // bucket count of the bucketed tables, so exchanges align with buckets
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    val sb = new StringBuilder
    sb.append("# Plan sweep (auto-generated by graft.PlanStats, ")
    sb.append(s"$sfDir)\n\n")
    sb.append("Distinct-canonicalized shuffle Exchange count and SortMergeJoin count\n")
    sb.append("per registered query (lazy builder where one exists). Enforced by\n")
    sb.append("PlanQualitySpec \"plan sweep\" — regenerate after any plan change.\n\n")
    sb.append("| query | shuffles | smj |\n|---|---|---|\n")
    SparkEntry.registry.sortBy(_.name).foreach { q =>
      try {
        val (sh, smj) = Explain.planOf(q, spark, sfDir)(stats(spark, _))
        sb.append(s"| ${q.name} | $sh | $smj |\n")
      } catch {
        case e: Throwable => sb.append(s"| ${q.name} | BUILD FAILED: ${e.getMessage} | |\n")
      }
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
