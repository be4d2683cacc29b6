package graft

import java.io.File
import scala.io.Source
import org.scalatest.funsuite.AnyFunSuite

/** What a query leaves in, and reads from, the session it runs in: no temp
  * view outlives its query, and the program has no session option of its
  * own — its only environment reads are the mains'. Also what the program
  * keeps: every public object member is reached or documented. */
class SessionHygieneSpec extends AnyFunSuite with LocalSpark {

  private def mainSources: Seq[(File, String)] = {
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
    sources
  }

  /** `text` with its line and block comments removed (a block comment
    * leaves its line breaks); string and character literals are kept. */
  private def withoutComments(text: String): String = {
    val out = new StringBuilder
    var i = 0
    val n = text.length
    def skipTo(j: Int): Unit = i = math.min(j, n)
    while (i < n) {
      if (text.startsWith("\"\"\"", i)) {
        var j = text.indexOf("\"\"\"", i + 3)
        j = if (j < 0) n else j + 3
        while (j < n && text.charAt(j) == '"') j += 1
        out.append(text.substring(i, j)); skipTo(j)
      } else if (text.charAt(i) == '"') {
        var j = i + 1
        while (j < n && text.charAt(j) != '"' && text.charAt(j) != '\n')
          j += (if (text.charAt(j) == '\\') 2 else 1)
        out.append(text.substring(i, math.min(j + 1, n))); skipTo(j + 1)
      } else if (text.startsWith("//", i)) {
        val j = text.indexOf('\n', i)
        skipTo(if (j < 0) n else j)
      } else if (text.startsWith("/*", i)) {
        val j = text.indexOf("*/", i + 2)
        val end = if (j < 0) n else j + 2
        out.append("\n" * text.substring(i, end).count(_ == '\n')); skipTo(end)
      } else if (text.charAt(i) == '\'' && i + 2 < n && text.charAt(i + 2) == '\'') {
        out.append(text.substring(i, i + 3)); skipTo(i + 3)
      } else {
        out.append(text.charAt(i)); i += 1
      }
    }
    out.toString
  }

  test("every public object member in src/main is called there or named in SURVEY.md") {
    val code = mainSources.map { case (f, text) => f -> withoutComments(text) }
    // members are the defs one indent level inside a top-level, non-private object
    val objectStart = """^(?:case )?object (\w+)""".r
    val member = """^  (?:(?:override|final|implicit)\s+)*def ([A-Za-z_]\w*)""".r
    val defs = code.flatMap { case (f, text) =>
      var obj: Option[String] = None
      text.split("\n").toSeq.flatMap { line =>
        objectStart.findFirstMatchIn(line) match {
          case Some(m) => obj = Some(m.group(1)); Nil
          case None =>
            if (line.nonEmpty && !line.head.isWhitespace) obj = None
            obj.toSeq.flatMap(o => member.findFirstMatchIn(line).map(m => (o, m.group(1), f.getName)))
        }
      }
    }
    assert(defs.size > 200, s"only ${defs.size} object members found")
    val word = """\w+""".r
    val uses = code.flatMap { case (_, text) => word.findAllIn(text) }
      .groupBy(identity).view.mapValues(_.size).toMap
    val survey = {
      val src = Source.fromFile("SURVEY.md", "UTF-8")
      try word.findAllIn(src.mkString).toSet finally src.close()
    }
    val definitions = defs.groupBy(_._2).view.mapValues(_.size).toMap
    val unreached = defs.filter { case (_, name, _) =>
      name != "main" && uses(name) <= definitions(name) && !survey(name)
    }
    assert(unreached.isEmpty,
      "defined but neither called in src/main nor named in SURVEY.md: " +
        unreached.map { case (o, name, f) => s"$o.$name ($f)" }.mkString(", "))
  }

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
    val sources = mainSources
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
