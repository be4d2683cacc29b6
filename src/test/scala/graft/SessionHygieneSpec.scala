package graft

import java.io.File
import scala.io.Source
import org.scalatest.funsuite.AnyFunSuite

/** What a query leaves in, and reads from, the session it runs in: no temp
  * view outlives its query, and the program has no session option of its
  * own — its only environment reads are the mains'. */
class SessionHygieneSpec extends AnyFunSuite with LocalSpark {

  test("registered SQL queries leave no temp view behind") {
    // every registration that goes through `s.sql` over a temp view; each
    // must drop its views once the query is analyzed
    val sqlViewQueries = Seq(
      "q46_correlated_subquery", "q63_grouping_sets", "q73_lateral_topk",
      "q78_listagg", "q82_filter_aggs", "q83_bitmap_distinct",
      "q84_recursive_cte", "q91_group_by_all", "q92_percentile_exact",
      "q97_exists_subquery", "q101_parameterized_sql", "q102_sql_pivot",
      "q164_mad_outliers")
    def tempViews = spark.catalog.listTables().collect()
      .filter(_.isTemporary).map(_.name).toSet
    val before = tempViews
    sqlViewQueries.foreach { name =>
      val df = SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
      val leaked = tempViews -- before
      assert(leaked.isEmpty, s"$name left temp views behind: ${leaked.mkString(", ")}")
      // the dropped views were resolved at analysis: the frame still runs
      df.collect()
    }
  }

  test("src/main reads no graft.* session conf key, and sys.env only in the mains") {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"no source tree at ${root.getAbsolutePath}")
    def scalaFiles(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(scalaFiles)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val sources = scalaFiles(root).map { f =>
      val src = Source.fromFile(f, "UTF-8")
      try f -> src.mkString finally src.close()
    }
    assert(sources.size > 20, s"only ${sources.size} sources found")
    // a program option is spelled as a "graft.<...>" literal somewhere
    val graftKey = """"graft\.[A-Za-z_]""".r
    val withKeys = sources.collect {
      case (f, text) if graftKey.findFirstIn(text).nonEmpty => f.getName }
    assert(withKeys.isEmpty, s"graft.* literals in ${withKeys.mkString(", ")}")
    val mains = Set("Bench.scala", "Verify.scala", "Explain.scala", "GenData.scala")
    val envReaders = sources.collect {
      case (f, text) if text.contains("sys.env") || text.contains("System.getenv") =>
        f.getName }
    assert((envReaders.toSet -- mains).isEmpty,
      s"environment read outside the mains: ${(envReaders.toSet -- mains).mkString(", ")}")
  }
}
