package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import graft.queries.GraftQuery

/** Dumps the formatted physical plan of every registered query to a
  * markdown file (default PLANS.md) — the artifact for plan review:
  * pushdown, join strategies, exchange counts, codegen spans.
  *
  * Usage: `sbt "runMain graft.Explain [sfDir] [outFile]"`
  */
object Explain {

  /** The near-dup/ANN entries are eager (they release their caches before
    * returning): their registered form returns a materialized local
    * relation whose plan is a bare scan. Dump the lazy plan builders
    * instead — those are the plans that matter. q69_dedup_groups stays
    * as-registered: it is intrinsically driver-iterative (one join+agg plan
    * per propagation round).
    *
    * Each builder returns its lazy plan and a release for what the plan
    * holds (cached frames, tables); [[planOf]] calls it after use.
    * Shared (private[graft]) with PlanQualitySpec's blanket sweep so every
    * eager query with a lazy builder is swept on its REAL plan, and a new
    * builder added here is automatically swept too. */
  private[graft] val lazyPlans: Map[String, (SparkSession, String) => (DataFrame, () => Unit)] = {
    def cached(build: (SparkSession, String) => (DataFrame, Seq[DataFrame])) =
      (s: SparkSession, d: String) => {
        val (df, frames) = build(s, d)
        (df, () => frames.foreach(_.unpersist(false)))
      }
    Map(
      "q36_minhash_neardup" -> cached(graft.llm.Dedup.minhashNearDupPlan),
      "q37_simhash_neardup" -> cached(graft.llm.Dedup.simhashNearDupPlan),
      "q40_knn_ivf" -> cached(graft.llm.Similarity.knnIvfPlan),
      "q56_knn_lsh" -> cached(graft.llm.Similarity.knnLshPlan(_, _)),
      "q70_knn_quantized" -> cached(graft.llm.Similarity.knnQuantizedPlan),
      "q128_incremental_neardup" -> cached(graft.llm.Dedup.incrementalNearDupPlan),
      "q130_knn_pq" -> cached(graft.llm.Similarity.knnPqPlan(_, _)),
      "q139b_hard_negatives_lsh" -> cached(graft.llm.Similarity.hardNegativesLshPlan(_, _)),
      "q143b_bitext_mine_lsh" -> cached(graft.llm.Similarity.bitextMineLshPlan(_, _)),
      "q195_deepwalk" -> cached(graft.queries.Relational11.q195Plan),
      // LPA: the registered queries checkpoint per round, so their final
      // explain is just the post-checkpoint tail — dump the plan ONE PHASE
      // actually runs (the max_by label argmax)
      "q182_label_prop" -> cached(graft.queries.Relational11.q182PhasePlan),
      "q182b_label_prop_copart" -> graft.queries.Relational11.q182bPhasePlan)
  }

  /** `use` applied to the plan Explain dumps for `q`: its lazy builder's,
    * released afterwards, or else the registered frame's. */
  private[graft] def planOf[T](q: GraftQuery, spark: SparkSession, sfDir: String)(use: DataFrame => T): T =
    lazyPlans.get(q.name) match {
      case Some(build) =>
        val (df, release) = build(spark, sfDir)
        try use(df) finally release()
      case None => use(q.run(spark, sfDir))
    }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("PLANS.md")
    val spark = graft.core.Sessions.local(8)
    // the committed plan files are generated at 32 shuffle partitions, the
    // bucket count of the bucketed tables, so exchanges align with buckets
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    val sb = new StringBuilder
    sb.append(s"# Physical plans (auto-generated by graft.Explain, $sfDir)\n")
    // local-iteration filter (same contract as Verify/Bench):
    // SPARK_GRAFT_ONLY=q182,q201 dumps matching prefixes only — for the
    // per-change before/after plan captures in plans/rNN/
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    SparkEntry.registry.sortBy(_.name)
      .filter(q => only.forall(_.exists(q.name.startsWith))).foreach { q =>
      try {
        val plan = planOf(q, spark, sfDir)(
          _.queryExecution.explainString(ExplainMode.fromString("formatted")))
        sb.append(s"\n## ${q.name}\n\n```\n$plan```\n")
      } catch {
        case e: Throwable =>
          sb.append(s"\n## ${q.name}\n\nEXPLAIN FAILED: ${e.getMessage}\n")
      }
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
