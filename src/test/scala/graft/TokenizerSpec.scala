package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.llm.Tokenizer

/** BPE induction semantics: the distributed trainer must reproduce a
  * plain-Scala reference implementation exactly (same merges, same order,
  * same weights), independent of partition layout, with standard greedy
  * leftmost merge application. */
class TokenizerSpec extends AnyFunSuite with LocalSpark {

  /** Reference BPE over a word-frequency map: exact integer pair counts,
    * argmax with (count DESC, left ASC, right ASC) tie-break, greedy
    * leftmost merge application. */
  private def refBpe(words: Map[String, Long], rounds: Int)
      : Seq[(Int, String, String, Long)] = {
    var segs: Map[Vector[String], Long] =
      words.groupMapReduce { case (w, _) => w.map(_.toString).toVector }(_._2)(_ + _)
    val out = Seq.newBuilder[(Int, String, String, Long)]
    for (round <- 1 to rounds) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, c) <- segs; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) = counts.getOrElse((syms(i), syms(i + 1)), 0L) + c
      if (counts.nonEmpty) {
        val ((l, r), w) = counts.minBy { case ((l, r), w) => (-w, l, r) }
        out += ((round, l, r, w))
        segs = segs.groupMapReduce { case (syms, _) => applyMerge(syms, l, r) }(_._2)(_ + _)
      }
    }
    out.result()
  }

  private def applyMerge(syms: Vector[String], l: String, r: String): Vector[String] =
    syms.foldLeft(Vector.empty[String]) { (acc, x) =>
      if (acc.nonEmpty && acc.last == l && x == r) acc.init :+ (l + r)
      else acc :+ x
    }

  test("greedy leftmost merge: 'aaa' under (a,a) becomes [aa, a], no re-pairing") {
    import spark.implicits._
    val got = Seq(Seq("a", "a", "a")).toDF("syms")
      .select(Tokenizer.mergeAdjacent(col("syms"), "a", "a").as("m"))
      .as[Seq[String]].head()
    assert(got == Seq("aa", "a"))
    // and the merged token does not chain with a following exact pair
    val got2 = Seq(Seq("a", "a", "a", "a")).toDF("syms")
      .select(Tokenizer.mergeAdjacent(col("syms"), "a", "a").as("m"))
      .as[Seq[String]].head()
    assert(got2 == Seq("aa", "aa"))
  }

  test("distributed trainer matches the plain-Scala reference, any layout") {
    import spark.implicits._
    val corpus = Seq.tabulate(60) { i =>
      Seq("lower", "lowest", "newer", "newest", "wider", "widest", "low", "new")
        .drop(i % 3).take(5).mkString(" ")
    }
    val wordFreq = corpus.flatMap(_.split(" ")).groupBy(identity)
      .map { case (w, g) => w -> g.size.toLong }
    val expect = refBpe(wordFreq, 6)
    for (parts <- Seq(1, 7)) {
      val wc = corpus.toDF("text")
        .select(explode(split(col("text"), " ")).as("word"))
        .repartition(parts)
        .groupBy("word").agg(count(lit(1)).as("wc"))
      val (merges, encoded) = Tokenizer.train(spark, wc, 6)
      assert(merges.map(m => (m.rank, m.left, m.right, m.weight)) == expect,
        s"merge table diverged from reference at $parts partitions")
      // final segmentation reassembles every word exactly
      val broken = encoded
        .filter(concat_ws("", col("syms")) =!= col("word")).count()
      assert(broken == 0L)
    }
  }

  test("trainer stops cleanly when no pairs remain (single-char vocab)") {
    import spark.implicits._
    val wc = Seq(("a", 5L), ("b", 3L)).toDF("word", "wc")
    val (merges, encoded) = Tokenizer.train(spark, wc, 4)
    assert(merges.isEmpty)
    assert(encoded.select(max(size(col("syms")))).head().getInt(0) == 1)
  }

  /** Reference WordPiece: same loop as refBpe but the argmax maximizes
    * count(ab)/(count(a)·count(b)) over the current segmentation's exact
    * weighted symbol counts, tie-break (score DESC, l ASC, r ASC). */
  private def refWordPiece(words: Map[String, Long], rounds: Int)
      : Seq[(Int, String, String, Double)] = {
    var segs: Map[Vector[String], Long] =
      words.groupMapReduce { case (w, _) => w.map(_.toString).toVector }(_._2)(_ + _)
    val out = Seq.newBuilder[(Int, String, String, Double)]
    for (round <- 1 to rounds) {
      val pair = scala.collection.mutable.Map.empty[(String, String), Long]
      val sym = scala.collection.mutable.Map.empty[String, Long]
      for ((syms, c) <- segs) {
        for (s0 <- syms) sym(s0) = sym.getOrElse(s0, 0L) + c
        for (i <- 0 until syms.length - 1)
          pair((syms(i), syms(i + 1))) =
            pair.getOrElse((syms(i), syms(i + 1)), 0L) + c
      }
      if (pair.nonEmpty) {
        val scored = pair.toSeq.map { case ((l, r), w) =>
          ((l, r), w.toDouble / (sym(l).toDouble * sym(r).toDouble))
        }
        val ((l, r), sc) = scored.minBy { case ((l, r), s0) => (-s0, l, r) }
        out += ((round, l, r, sc))
        segs = segs.groupMapReduce { case (syms, _) => applyMerge(syms, l, r) }(_._2)(_ + _)
      }
    }
    out.result()
  }

  test("WordPiece trainer matches the plain-Scala likelihood-ratio reference, any layout") {
    import spark.implicits._
    val corpus = Seq.tabulate(50) { i =>
      Seq("lower", "lowest", "newer", "newest", "wider", "widest", "low", "new")
        .drop(i % 3).take(5).mkString(" ")
    }
    val wordFreq = corpus.flatMap(_.split(" ")).groupBy(identity)
      .map { case (w, g) => w -> g.size.toLong }
    val expect = refWordPiece(wordFreq, 6)
    for (parts <- Seq(1, 7)) {
      val wc = corpus.toDF("text")
        .select(explode(split(col("text"), " ")).as("word"))
        .repartition(parts)
        .groupBy("word").agg(count(lit(1)).as("wc"))
      val (merges, encoded) = Tokenizer.trainWordPiece(spark, wc, 6)
      assert(merges.map(m => (m.rank, m.left, m.right, m.score)) == expect,
        s"WordPiece merge table diverged from reference at $parts partitions")
      val broken = encoded
        .filter(concat_ws("", col("syms")) =!= col("word")).count()
      assert(broken == 0L)
    }
    // the likelihood objective must actually diverge from BPE's frequency
    // objective on this corpus — otherwise the test can't tell them apart
    val bpe = refBpe(wordFreq, 6).map(m => (m._2, m._3))
    assert(expect.map(m => (m._2, m._3)) != bpe,
      "WordPiece chose exactly BPE's merges — weak corpus")
  }

  test("WordPiece encode is greedy longest-match-first and reassembles (q158)") {
    val vocab = Set("a", "b", "c", "ab", "abc", "bc")
    assert(Tokenizer.wpEncode("abcabc", vocab, 3) == Seq("abc", "abc"))
    assert(Tokenizer.wpEncode("abb", vocab, 3) == Seq("ab", "b"))
    assert(Tokenizer.wpEncode("cba", vocab, 3) == Seq("c", "b", "a"))
    // greedy takes the longest match at the CURRENT position, not the
    // globally optimal segmentation
    assert(Tokenizer.wpEncode("abc", Set("a", "b", "c", "ab", "bc"), 2) ==
      Seq("ab", "c"))
    // every word reassembles under an arbitrary vocab (chars always present)
    for (w <- Seq("zzz", "abcba", "q"))
      assert(Tokenizer.wpEncode(w, vocab ++ w.map(_.toString), 3)
        .mkString("") == w)
  }

  /** Reference unigram-LM hard-EM: weighted substring seeds (all single
    * chars + top-K multi by (freq DESC, piece ASC)), probabilities as exact
    * long-ratio divisions, Viterbi with ascending-start strict-> tie-break
    * (longest piece wins ties), add-one floor on chars, prune unused. The
    * arithmetic mirrors the production operator operation-for-operation so
    * double equality is exact. */
  private def refUnigram(words: Map[String, Long], maxLen: Int, topK: Int,
                         rounds: Int)
      : (Map[String, Double], Map[String, Seq[String]]) = {
    val seeds = scala.collection.mutable.Map.empty[String, Long]
    for { (w, c) <- words; i <- 0 until w.length
          l <- 1 to math.min(maxLen, w.length - i) } {
      val p = w.substring(i, i + l)
      seeds(p) = seeds.getOrElse(p, 0L) + c
    }
    val kept0 = seeds.filter(_._1.length == 1).toSeq ++
      seeds.filter(_._1.length > 1).toSeq.sortBy { case (p, f) => (-f, p) }.take(topK)
    var probs = {
      val tot = kept0.map(_._2).sum.toDouble
      kept0.map { case (p, f) => p -> f / tot }.toMap
    }
    def vit(w: String, logp: Map[String, Double]): Seq[String] = {
      val n = w.length
      val best = Array.fill(n + 1)(Double.NegativeInfinity); best(0) = 0.0
      val back = Array.fill(n + 1)(-1)
      for (end <- 1 to n; start <- math.max(0, end - maxLen) until end)
        logp.get(w.substring(start, end)) match {
          case Some(lp) if best(start) + lp > best(end) =>
            best(end) = best(start) + lp; back(end) = start
          case _ => ()
        }
      var e = n; var out = List.empty[String]
      while (e > 0) { val s0 = back(e); out = w.substring(s0, e) :: out; e = s0 }
      out
    }
    for (_ <- 1 to rounds) {
      val logp = probs.map { case (k, v) => k -> math.log(v) }
      val usage = scala.collection.mutable.Map.empty[String, Long]
      for ((w, c) <- words; p <- vit(w, logp))
        usage(p) = usage.getOrElse(p, 0L) + c
      val k2 = probs.keys.toSeq.map { p =>
        val u = usage.getOrElse(p, 0L)
        p -> (if (p.length == 1) u + 1 else u)
      }.filter(_._2 > 0)
      val t2 = k2.map(_._2).sum.toDouble
      probs = k2.map { case (p, u) => p -> u / t2 }.toMap
    }
    val logpF = probs.map { case (k, v) => k -> math.log(v) }
    (probs, words.keys.map(w => w -> vit(w, logpF)).toMap)
  }

  test("unigram trainer matches the plain-Scala reference, any layout") {
    import spark.implicits._
    val corpus = Seq.tabulate(40) { i =>
      Seq("lower", "lowest", "newer", "newest", "wider", "widest", "low",
        "new", "renew", "renewed").drop(i % 4).take(6).mkString(" ")
    }
    val wordFreq = corpus.flatMap(_.split(" ")).groupBy(identity)
      .map { case (w, g) => w -> g.size.toLong }
    val (expProbs, expSeg) = refUnigram(wordFreq, maxLen = 3, topK = 8, rounds = 2)
    for (parts <- Seq(1, 7)) {
      val wc = corpus.toDF("text")
        .select(explode(split(col("text"), " ")).as("word"))
        .repartition(parts)
        .groupBy("word").agg(count(lit(1)).as("wc"))
      val (probs, seg) = Tokenizer.unigramTrain(spark, wc,
        maxLen = 3, topK = 8, rounds = 2)
      assert(probs == expProbs,
        s"vocab probabilities diverged from reference at $parts partitions")
      val gotSeg = seg.select("word", "pieces").as[(String, Seq[String])]
        .collect().toMap
      assert(gotSeg == expSeg,
        s"segmentations diverged from reference at $parts partitions")
      // every word reassembles exactly, and multi-char pieces actually won
      assert(gotSeg.forall { case (w, ps) => ps.mkString("") == w })
      assert(gotSeg.exists(_._2.exists(_.length > 1)),
        "no multi-char piece ever used — weak test")
    }
    // probability floor: every single char survives even with zero usage
    val chars = wordFreq.keys.flatMap(_.toSeq).map(_.toString).toSet
    assert(chars.forall(expProbs.contains), "a single char was pruned")
  }
}
