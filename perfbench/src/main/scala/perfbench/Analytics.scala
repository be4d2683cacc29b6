package perfbench

import java.nio.file.{Files, Paths}

import graft.SparkEntry
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** `analytics`: a fixed list of registered queries, run serially over the
  * test tables checked in under `perfbench/tables`. Each timed action builds
  * the query and writes every output column to the noop sink; the same pass
  * observes the row count and an order-insensitive fingerprint, checked
  * against `perfbench/expected/analytics.tsv`. */
object Analytics {
  /** The repository's seed-42 test tables at sf 0.01 (60,000 lineitem rows),
    * the scale its oracle and goldens are pinned at. */
  val Tables = "perfbench/tables/sf0.01"
  val ExpectedFile = "perfbench/expected/analytics.tsv"

  /** (query, registering module). */
  val queries: Seq[(String, String)] = Seq(
    "q01_scan_filter" -> "queries",
    "q02_agg_pricing" -> "queries",
    "q04_star_join" -> "queries",
    "q17_date_funcs" -> "queries",
    "q26_approx_percentile" -> "queries",
    "q74_regr_stats" -> "queries",
    "q92_percentile_exact" -> "queries",
    "q123_winsorize" -> "queries",
    "q186_basket_rules" -> "queries",
    "q201_hits" -> "queries",
    "q69_dedup_groups" -> "llm",
    "q114_dedup_pipeline" -> "llm",
    "q136_ngram_novelty" -> "llm",
    "q159_ppjoin_neardup" -> "llm",
    "q150_salted_join" -> "operators",
    "q227_bloom_semijoin" -> "operators",
    "q128b_stream_neardup" -> "streaming")

  /** Floats are compared at 10 significant digits, the precision
    * `tools/localverify.py` accepts (rtol 1e-11) rounded to a grid. */
  private def canonical(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.9e", c.cast("double"))
    case ArrayType(DoubleType | FloatType, _) => array_join(transform(c, x => format_string("%.9e", x.cast("double"))), ",", "null")
    case _: DecimalType => format_string("%.9e", c.cast("double"))
    case StringType => c
    case BooleanType | ByteType | ShortType | IntegerType | LongType | DateType |
         TimestampType | TimestampNTZType => c.cast("string")
    case _ => to_json(struct(c))
  }

  /** Row count plus an order-insensitive fingerprint: two 32-bit halves of
    * each row's xxhash64 summed separately, so no sum overflows. */
  def fingerprintExprs(df: DataFrame): Seq[Column] = {
    val fields = df.schema.fields.sortBy(_.name)
    val h = if (fields.isEmpty) lit(0L) else xxhash64(fields.map(f => coalesce(canonical(col(s"`${f.name}`"), f.dataType), lit("\u0000null"))): _*)
    Seq(sum(h.bitwiseAND(lit(0xffffffffL))).as("fp_lo"), sum(shiftrightunsigned(h, 32)).as("fp_hi"))
  }

  def fingerprint(obs: Map[String, Any]): String = {
    def v(k: String): Long = Option(obs(k)).map(_.asInstanceOf[Long]).getOrElse(0L)
    f"${v("fp_hi")}%x-${v("fp_lo")}%x"
  }

  def readExpected(): Map[String, (Long, String)] = {
    val p = Paths.get(ExpectedFile)
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p).asScala.filterNot(l => l.startsWith("#") || l.isBlank).map { l =>
      val Array(name, rows, fp) = l.split("\t")
      name -> (rows.toLong, fp)
    }.toMap
  }

  def run(run: Run): Unit = {
    val dir = Paths.get(Tables).toAbsolutePath.toString
    val expected = readExpected()
    val spark = run.setUp { s =>
      s.range(1000000).selectExpr("sum(id)").collect()
      graft.core.Tables.names.foreach(t => graft.core.Tables.table(s, dir, t).selectExpr("count(*)").collect())
    }
    val exec = if (run.args.trace) Some(new Exec(spark).register()) else None
    val before = exec.map(_.snapshot())
    // one pass over the list: every query runs once, in a fresh JVM, so each
    // run measures the same (cold) mix
    val walls = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val (_, passWall) = run.seconds {
      queries.foreach { case (name, _) =>
        run.attempt(name) {
          run.trace.span("analytics.query", name) {
            run.seconds {
              val df = SparkEntry.queries(name)(spark, dir)
              Act.noop(df, fingerprintExprs(df): _*)
            }
          }
        }.foreach { case (obs, wall) =>
          walls(name) = wall
          val rows = obs("rows").asInstanceOf[Long]
          val fp = fingerprint(obs)
          System.out.println(f"query $name%-28s $wall%8.3f s $rows%8d rows $fp")
          expected.get(name) match {
            case Some((r, f)) =>
              run.check(rows == r, s"$name returned $rows rows, expected $r")
              run.check(fp == f, s"$name fingerprint $fp, expected $f")
            case None => run.check(false, s"$name has no expectation in $ExpectedFile")
          }
        }
      }
    }
    val perQuery = walls.toMap
    System.out.println(f"query list wall: $passWall%.3f s")
    // each query is a kind of its own; a failed query's time is never
    // recorded, so a failure leaves the run without totals
    run.reportWork(queries.map { case (n, _) => n -> perQuery.get(n).toSeq })
    run.reportResources()
    if (run.args.trace) {
      val after = exec.get.snapshot()
      queries.foreach { case (n, _) => perQuery.get(n).foreach(w => run.layer(s"analytics.$n.s", w, "s")) }
      queries.groupBy(_._2).toSeq.sortBy(_._1).foreach { case (module, qs) =>
        run.layer(s"analytics.module.$module.s", qs.flatMap(q => perQuery.get(q._1)).sum, "s")
      }
      Exec.diff(before.get, after).foreach { case (k, v, u) => run.layer(k, v, u) }
      // the overhead probe: the cheap relational queries, listeners off/on
      run.traceOverhead(exec.get, 3, "q02 + q04 + q17") { _ =>
        Seq("q02_agg_pricing", "q04_star_join", "q17_date_funcs").foreach { name =>
          val df = SparkEntry.queries(name)(spark, dir)
          Act.noop(df, fingerprintExprs(df): _*)
        }
      }
    }
  }
}
