package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based invariants of the text-analysis / dedup / split operators
  * (same direct-ScalaCheck pattern as Er7PropertySpec). Each property runs
  * one Spark job over a generated corpus rather than a job per case. */
class LlmPropertySpec extends AnyFunSuite with LocalSpark {

  private def sample[A](gen: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(i.toLong)))

  private val word: Gen[String] =
    Gen.chooseNum(1, 10).flatMap(n => Gen.stringOfN(n, Gen.alphaLowerChar))
  private val text: Gen[String] =
    Gen.chooseNum(1, 80).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))

  /** Run a TextAnalysis-style query against an ad-hoc generated corpus by
    * materializing it as the `documents` table shape in a temp dir. */
  private def corpusDir(texts: Seq[String]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-prop").toString
    texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en", "gen", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("quality score is always within [0, 1]; token counts are consistent") {
    val d = corpusDir(sample(text, 300))
    val rows = graft.llm.TextAnalysis.qualityScore(spark, d).collect()
    assert(rows.length == 300)
    rows.foreach { r =>
      val q = r.getAs[Double]("quality")
      assert(q >= 0.0 && q <= 1.0, s"quality $q out of range")
      assert(r.getAs[Int]("n_tokens") >= 1)
    }
    val toks = graft.llm.TextAnalysis.tokenCount(spark, d).collect()
    toks.foreach { r =>
      assert(r.getAs[Int]("distinct_tokens") <= r.getAs[Int]("ws_tokens"),
        "distinct tokens cannot exceed whitespace tokens")
    }
  }

  test("chunking reconstructs every generated document exactly") {
    val texts = sample(text, 60) // doc_ids 0..59; chunk covers doc_id < 40
    val d = corpusDir(texts)
    val byDoc = graft.llm.Retrieval.chunk(spark, d).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(3)))
      .groupBy(_._1)
    byDoc.foreach { case (id, chunks) =>
      val raw = texts(id.toInt).split(" ", -1).toSeq
      chunks.sortBy(_._2).foreach { case (_, start, ctext) =>
        assert(ctext == raw.slice(start, start + 30).mkString(" "),
          s"doc $id chunk@$start diverges from the source tokens")
      }
      // stitching the stride-20 prefixes of each chunk (plus the last
      // chunk's tail) rebuilds the document verbatim
      val ordered = chunks.sortBy(_._2)
      val stitched = (ordered.init.map(_._3.split(" ", -1).take(20)) :+
        ordered.last._3.split(" ", -1)).flatten.toSeq
      assert(stitched == raw, s"doc $id does not reassemble from its chunks")
    }
  }

  test("token packing on generated corpora: every doc packed once, batches bounded") {
    val texts = sample(text, 200)
    val d = corpusDir(texts)
    val batches = graft.llm.Retrieval.tokenPacking(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(batches.map(_._2).sum == texts.length, "doc lost or duplicated")
    assert(batches.map(_._1).toSeq == (0L until batches.length), "ids not dense")
    val maxDoc = texts.map(_.split(" ", -1).length.toLong).max
    batches.dropRight(1).foreach { case (id, _, total) =>
      assert(total > 512 - maxDoc && total < 512 + maxDoc,
        s"batch $id outside the exclusive-prefix bound: $total")
    }
  }

  test("langId only emits declared codes") {
    val d = corpusDir(sample(text, 300))
    val codes = graft.llm.TextAnalysis.langId(spark, d)
      .select("pred_lang").distinct().collect().map(_.getString(0)).toSet
    assert(codes.subsetOf(Set("en", "es", "fr", "de", "zh", "und")), codes)
  }

  test("fingerprint is invariant under case and whitespace noise") {
    val texts = sample(text, 150)
    val noisy = texts.map(t => "  " + t.toUpperCase.replace(" ", "   ") + " ")
    val a = graft.llm.TextAnalysis.fingerprint(spark, corpusDir(texts))
      .orderBy("doc_id").collect().map(_.getString(1)).toSeq
    val b = graft.llm.TextAnalysis.fingerprint(spark, corpusDir(noisy))
      .orderBy("doc_id").collect().map(_.getString(1)).toSeq
    assert(a == b, "normalization must erase case/whitespace noise")
  }

  test("hash split is a partition: counts cover the table exactly") {
    val sf = "/root/testdata/sf0.001"
    val splits = SparkEntry.queries("q59_hash_split")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_rows")).toMap
    val total = graft.core.Tables.lineitem(spark, sf).count()
    assert(splits.values.sum == total, s"splits $splits must sum to $total")
    assert(splits.keySet == Set("train", "test"))
    assert(splits("test") > 0 && splits("train") > 0)
  }

  test("word_ngrams: count/content invariants hold on random corpora") {
    import spark.implicits._
    val corpus = (sample(text, 60) ++ Seq("", "a", "a b", "x  y", "trail ")).distinct
    val df = corpus.toDF("text")
    val rows = df.select(col("text"),
        graft.functions.WordNgrams.word_ngrams(col("text"), 3).as("ngram"))
      .collect().map(r => r.getString(0) -> r.getString(1))
    val byText = rows.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    corpus.foreach { t =>
      val words = t.split(" ", -1)
      val got = byText.getOrElse(t, Seq.empty)
      // count: max(0, n_words - 2); order preserved; every gram is a
      // 3-word slice; and the generator agrees with the Scala reference
      assert(got.length == math.max(0, words.length - 2), s"count wrong for '$t'")
      got.foreach { g =>
        assert(words.containsSlice(g.split(" ", -1)), s"'$g' not a slice of '$t'")
      }
      assert(got == graft.functions.WordNgrams.reference(t, 3),
        s"generator diverged from reference for '$t'")
    }
  }

  test("exact dedup: duplicating every document never changes n_unique") {
    val texts = sample(text, 100)
    val once = graft.llm.Dedup.exactDedup(spark, corpusDir(texts)).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_unique")).toMap
    val twice = graft.llm.Dedup.exactDedup(spark, corpusDir(texts ++ texts)).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_unique")).toMap
    assert(once == twice, "n_unique must be idempotent under duplication")
  }

  test("KMV sketch merge algebra: commutative, associative, duplicate-blind, order-blind") {
    import graft.functions.KmvSketch
    val sk = new KmvSketch(16)
    def fold(xs: Seq[Long]): Array[Long] = xs.foldLeft(sk.zero)(sk.reduce)
    val longs: Gen[List[Long]] =
      Gen.chooseNum(0, 60).flatMap(n => Gen.listOfN(n, Gen.chooseNum(-1000L, 1000L)))
    sample(Gen.zip(longs, longs), 200).foreach { case (a, b) =>
      val (fa, fb) = (fold(a), fold(b))
      // merge == sketch of the union stream, both orders
      val direct = fold(a ++ b)
      assert(sk.merge(fa, fb).toSeq == direct.toSeq, s"merge != union fold: $a $b")
      assert(sk.merge(fb, fa).toSeq == direct.toSeq, s"merge not commutative: $a $b")
      // duplicate- and order-blindness of the underlying set semantics
      assert(fold(scala.util.Random.shuffle(a ++ a)).toSeq ==
        KmvSketch.reference(a, 16), s"fold not set-semantics: $a")
    }
    sample(Gen.zip(longs, longs, longs), 100).foreach { case (a, b, c) =>
      val l = sk.merge(sk.merge(fold(a), fold(b)), fold(c)).toSeq
      val r = sk.merge(fold(a), sk.merge(fold(b), fold(c))).toSeq
      assert(l == r, s"merge not associative: $a $b $c")
    }
  }
}
