package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Generator}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.graftshim.Shim

/** Word n-gram generator — a custom Catalyst `Generator` (table-valued
  * expression): one input document row fans out to one row per n
  * consecutive whitespace-separated words, the shingling primitive under
  * the dedup family (`graft.llm.Dedup`) exposed as a first-class TVF
  * (`SELECT word_ngrams(text, 3) FROM docs`).
  *
  * Planning: the analyzer's ExtractGenerator pulls this out of the Project
  * into a Generate node, exactly like built-in `explode` — narrow, no
  * shuffle, streamed row-at-a-time (never materializes the n-gram array,
  * unlike the `transform`+`explode` composition which builds the full array
  * per row first). Codegen: GenerateExec only special-cases ExplodeBase and
  * Stack, so a custom generator evaluates via CodegenFallback — fine here
  * because the per-row work (byte-level split + concat) dominates, and the
  * surrounding stages still codegen. Like any Generate, its fan-out is
  * invisible to the static size estimate (the planner sizes its output by
  * its input), so a join whose exploded side must not be broadcast says so
  * with a per-call `hint("shuffle_hash")`, as `graft.llm.Dedup` does.
  *
  * Tokenization contract: split on single spaces, empty tokens preserved
  * (matches DuckDB `string_split(text, ' ')` — the oracle's tokenizer —
  * and `graft.llm.Dedup`'s shingler); texts with fewer than n words emit
  * nothing. All byte-level on UTF8String — no String allocation per token.
  */
case class WordNgrams(left: Expression, right: Expression)
    extends BinaryExpression with Generator with CodegenFallback {

  override def elementSchema: StructType =
    StructType(StructField("ngram", StringType, nullable = false) :: Nil)

  override def checkInputDataTypes(): TypeCheckResult = {
    if (left.dataType != StringType || right.dataType != IntegerType)
      TypeCheckResult.TypeCheckFailure("word_ngrams(text STRING, n INT)")
    else if (!right.foldable)
      TypeCheckResult.TypeCheckFailure("word_ngrams: n must be a constant")
    else TypeCheckResult.TypeCheckSuccess
  }

  private lazy val n: Int = right.eval().asInstanceOf[Int]
  private val space = UTF8String.fromString(" ")

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = left.eval(input)
    if (v == null) return Nil
    val words = v.asInstanceOf[UTF8String].split(space, -1)
    if (words.length < n) return Nil
    (0 to words.length - n).iterator.map { i =>
      val gram = UTF8String.concatWs(space, java.util.Arrays.copyOfRange(words, i, i + n): _*)
      InternalRow(gram)
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WordNgrams =
    copy(left = newLeft, right = newRight)
}

object WordNgrams {
  /** Column-API entry point: `word_ngrams($"text", 3)`. */
  def word_ngrams(text: Column, n: Int): Column =
    Shim.column(WordNgrams(Shim.expression(text),
      org.apache.spark.sql.catalyst.expressions.Literal(n)))

  /** Reference implementation for tests. */
  def reference(text: String, n: Int): Seq[String] = {
    val words = text.split(" ", -1)
    if (words.length < n) Seq.empty
    else (0 to words.length - n).map(i => words.slice(i, i + n).mkString(" "))
  }
}
