package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression

/** Registers the engine's native expressions at the SQL surface, so
  * `spark.sql("SELECT rolling_hash(text) ...")` works next to the Column
  * API. The program itself calls them through the Column API; `install`
  * is for sessions that want them in SQL.
  */
object GraftExtensions {
  private val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "rolling_hash" -> (e => RollingHash(e.head)),
    "dot_product" -> (e => DotProduct(e(0), e(1))),
    "word_ngrams" -> (e => WordNgrams(e(0), e(1))))

  /** Registers every function in [[functions]] into an already-built
    * session's function registry. */
  def install(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    functions.foreach { case (name, build) =>
      reg.createOrReplaceTempFunction(name, build, "built-in") }
  }
}
