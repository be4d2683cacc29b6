package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.ExplainMode

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
    * Shared (private[graft]) with PlanQualitySpec's blanket sweep so every
    * eager query with a lazy builder is swept on its REAL plan, and a new
    * builder added here is automatically swept too. */
  private[graft] val lazyPlans: Map[String, (org.apache.spark.sql.SparkSession, String) =>
      (org.apache.spark.sql.DataFrame, Seq[org.apache.spark.sql.DataFrame])] = Map(
    "q36_minhash_neardup" -> graft.llm.Dedup.minhashNearDupPlan,
    "q37_simhash_neardup" -> graft.llm.Dedup.simhashNearDupPlan,
    "q40_knn_ivf" -> graft.llm.Similarity.knnIvfPlan,
    "q56_knn_lsh" -> ((s: org.apache.spark.sql.SparkSession, d: String) => graft.llm.Similarity.knnLshPlan(s, d)),
    "q70_knn_quantized" -> graft.llm.Similarity.knnQuantizedPlan,
    "q128_incremental_neardup" -> graft.llm.Dedup.incrementalNearDupPlan,
    "q130_knn_pq" -> ((s: org.apache.spark.sql.SparkSession, d: String) => graft.llm.Similarity.knnPqPlan(s, d)),
    "q139b_hard_negatives_lsh" -> ((s: org.apache.spark.sql.SparkSession, d: String) =>
      graft.llm.Similarity.hardNegativesLshPlan(s, d)),
    "q143b_bitext_mine_lsh" -> ((s: org.apache.spark.sql.SparkSession, d: String) =>
      graft.llm.Similarity.bitextMineLshPlan(s, d)),
    "q195_deepwalk" -> ((s: org.apache.spark.sql.SparkSession, d: String) =>
      graft.queries.Relational11.q195Plan(s, d)),
    // LPA: the registered queries checkpoint per round, so their final
    // explain is just the post-checkpoint tail — dump the plan ONE PHASE
    // actually runs (the max_by label argmax)
    "q182_label_prop" -> ((s: org.apache.spark.sql.SparkSession, d: String) =>
      graft.queries.Relational11.q182PhasePlan(s, d)),
    "q182b_label_prop_copart" -> ((s: org.apache.spark.sql.SparkSession, d: String) =>
      graft.queries.Relational11.q182bPhasePlan(s, d)))

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
        val plan = lazyPlans.get(q.name) match {
          case Some(build) =>
            val (df, cached) = build(spark, sfDir)
            try df.queryExecution.explainString(ExplainMode.fromString("formatted"))
            finally cached.foreach(_.unpersist(false))
          case None =>
            q.run(spark, sfDir).queryExecution
              .explainString(ExplainMode.fromString("formatted"))
        }
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
