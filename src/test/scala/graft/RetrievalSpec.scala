package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.llm.Retrieval
import graft.core.Tables

/** Brute-force references and invariants for the retrieval operators
  * (q86-q90). The DuckDB oracle already hash-checks them end-to-end; these
  * specs pin the SEMANTICS against independent driver-side recomputation so
  * an oracle-side and Spark-side bug can't cancel out. */
class RetrievalSpec extends AnyFunSuite with LocalSpark {

  private val sf = "/root/testdata/sf0.001"

  /** Same tokenizer contract as Retrieval.toks / the DuckDB oracle:
    * split on single spaces, keep interior empties out via filter. */
  private def tokens(text: String): Seq[String] =
    text.toLowerCase.split(" ", -1).toSeq.filter(_.nonEmpty)

  private def docs(): Map[Long, String] =
    Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

  private def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("bm25 matches brute-force reference ranking") {
    val corpus = docs()
    val terms = Seq("spark", "vector", "merge")
    val toks = corpus.map { case (id, t) => id -> tokens(t) }
    val lens = toks.collect { case (id, ts) if ts.nonEmpty => id -> ts.size.toDouble }
    val n = lens.size
    val avgdl = lens.values.sum / n
    val tf = for ((id, ts) <- toks; w <- terms;
                  c = ts.count(_ == w) if c > 0) yield (id, w, c)
    val df = tf.groupBy(_._2).map { case (w, xs) => w -> xs.size }
    val scored = tf.groupBy(_._1).map { case (id, xs) =>
      val s = xs.map { case (_, w, c) =>
        val idf = math.log(1.0 + (n - df(w) + 0.5) / (df(w) + 0.5))
        idf * (c * 2.2) / (c + 1.2 * (0.25 + 0.75 * lens(id) / avgdl))
      }.sum
      (id, round4(s), xs.size.toLong)
    }.toSeq
    val expect = scored.sortBy { case (id, s, _) => (-s, id) }.take(10)
    val got = Retrieval.bm25(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(got.map(t => (t._1, t._3)) == expect.map(t => (t._1, t._3)))
    got.zip(expect).foreach { case (g, e) =>
      assert(math.abs(g._2 - e._2) <= 1e-4, s"score drift at doc ${g._1}")
    }
  }

  test("tfidf matches brute-force reference for a sample doc") {
    val corpus = docs()
    val n = corpus.size
    val tfAll = corpus.toSeq.flatMap { case (id, t) =>
      tokens(t).groupBy(identity).map { case (w, xs) => (id, w, xs.size) }
    }
    val dfreq = tfAll.groupBy(_._2).map { case (w, xs) => w -> xs.size }
    val expect = tfAll.filter(_._1 < 25).groupBy(_._1).flatMap { case (id, xs) =>
      xs.map { case (_, w, c) => (id, w, round4(c * math.log(n.toDouble / dfreq(w)))) }
        .toSeq.sortBy { case (_, w, s) => (-s, w) }.take(3).zipWithIndex
        .map { case ((_, w, s), i) => (id, i + 1, w, s) }
    }.toSet
    val got = Retrieval.tfidf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getDouble(3))).toSet
    assert(got == expect)
  }

  test("chunking covers every token with stride overlap and bounded width") {
    val corpus = docs().filter(_._1 < 40)
    val byDoc = Retrieval.chunk(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
      .groupBy(_._1)
    assert(byDoc.keySet == corpus.keySet)
    corpus.foreach { case (id, text) =>
      // raw split INCLUDING empties — chunking reconstructs text, not tokens
      val raw = text.split(" ", -1).toSeq
      val chunks = byDoc(id).sortBy(_._2)
      assert(chunks.head._2 == 0, "first chunk starts at token 0")
      assert(chunks.map(_._2).toSeq == chunks.indices.map(_ * 20), "stride-20 starts")
      chunks.foreach { case (_, start, nTok, ctext) =>
        assert(nTok <= 30 && nTok >= 1)
        assert(ctext == raw.slice(start, start + 30).mkString(" "),
          s"chunk content mismatch at doc $id start $start")
      }
      // coverage: last chunk reaches the final token
      val (_, lastStart, lastN, _) = chunks.last
      assert(lastStart + lastN >= raw.size, s"tail tokens uncovered in doc $id")
    }
  }

  test("word entropy: bounds and exact recomputation") {
    val corpus = docs()
    val got = Retrieval.wordEntropy(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got.map(_._1).toSet ==
      corpus.collect { case (id, t) if tokens(t).nonEmpty => id }.toSet)
    got.foreach { case (id, nTok, h) =>
      val tf = tokens(corpus(id)).groupBy(identity).map(_._2.size.toDouble)
      assert(nTok == tf.sum.toLong)
      val ref = -tf.map { c => val p = c / tf.sum; p * math.log(p) }.sum
      assert(math.abs(h - ref) <= 1e-3, s"entropy drift at doc $id: $h vs $ref")
      // h is rounded to 4 decimals — allow half-ulp-of-rounding slack
      assert(h >= -1e-9 && h <= math.log(tf.size.toDouble) + 5e-5,
        s"entropy out of [0, ln k] at doc $id")
    }
  }

  test("kmeans: SSE non-increasing, update is the member mean, deterministic") {
    import graft.llm.Similarity
    val e = Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "cast(embedding as array<double>) as v")
    val vecsById = e.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap

    def sse(cents: Map[Long, Array[Double]]): Double =
      vecsById.values.map { v =>
        cents.values.map { c =>
          v.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum
        }.min
      }.sum

    def centsOf(iters: Int): Map[Long, Array[Double]] =
      Similarity.kmeans(e, 8, iters).collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap

    val runs = (1 to 3).map(centsOf)
    val sses = runs.map(sse)
    assert(sses.sliding(2).forall { case Seq(a, b) => b <= a + 1e-9 },
      s"Lloyd's SSE increased: $sses")

    // fixpoint structure: each reported centroid is the per-dimension mean
    // of the vectors assigned to it by the PREVIOUS round's centroids —
    // verify via one extra assignment round driver-side on the iters=2 set
    val prev = runs(1)
    val members = vecsById.groupBy { case (_, v) =>
      prev.minBy { case (cid, c) =>
        (v.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum, cid)
      }._1
    }
    val next = centsOf(3)
    next.foreach { case (cid, c) =>
      val m = members(cid).values.toSeq
      val mean = m.head.indices.map(i => m.map(_(i)).sum / m.size)
      c.zip(mean).foreach { case (a, b) =>
        assert(math.abs(a - b) <= 1e-9, s"centroid $cid not the member mean")
      }
    }
    assert(centsOf(3).map { case (k, v) => k -> v.toSeq } ==
      next.map { case (k, v) => k -> v.toSeq }, "kmeans not deterministic")
  }

  test("q170: incoming counts equal a brute nearest-centroid recompute; drift sane") {
    import graft.llm.Similarity
    val e = Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "cast(embedding as array<double>) as v")
    val existing = e.filter("vec_id % 10 < 8")
    val cents = Similarity.kmeans(existing, 8, 3).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    // driver-side brute assignment of the incoming batch to stored cents
    val expected = e.filter("vec_id % 10 >= 8").collect()
      .map { r =>
        val v = r.getSeq[Double](1).toArray
        cents.minBy { case (id, c) =>
          (v.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum, id)
        }._1
      }.groupBy(identity).map { case (k, xs) => k -> xs.length.toLong }
    val got = SparkEntry.queries("q170_incremental_ivf")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    expected.foreach { case (cid, n) =>
      assert(got.getOrElse(cid, 0L) == n, s"centroid $cid: got ${got.get(cid)} want $n")
    }
    // drift near 1 on an i.i.d. split: incoming is the same distribution
    SparkEntry.queries("q170_incremental_ivf")(spark, sf).collect().foreach { r =>
      val drift = r.getDouble(5)
      assert(drift > 0.5 && drift < 2.0, s"implausible drift $drift at ${r.getLong(0)}")
    }
  }

  test("token packing: contiguous batches, bounded overflow, all docs packed") {
    import graft.llm.Retrieval
    val corpus = docs()
    val batches = Retrieval.tokenPacking(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    // every doc packed exactly once
    assert(batches.map(_._2).sum == corpus.size)
    // batch ids contiguous from 0
    assert(batches.map(_._1).toSeq == (0L until batches.length))
    // every batch except possibly the last is filled past the budget ONLY
    // by its final doc: total - its largest doc < 512 (exclusive-prefix
    // assignment ⇒ a new batch starts only once 512 is crossed)
    val tokensByDoc = corpus.toSeq.sortBy(_._1)
      .map { case (_, t) => t.split(" ", -1).length.toLong }
    val maxDoc = tokensByDoc.max
    batches.dropRight(1).foreach { case (id, _, total) =>
      // exclusive-prefix assignment: a batch closes only once its budget is
      // crossed, so every non-final batch holds more than 512 - maxDoc and
      // overflows by less than one maximal document
      assert(total > 512 - maxDoc, s"batch $id underfilled: $total")
      assert(total < 512 + maxDoc, s"batch $id overflowed beyond one doc: $total")
    }
  }

  test("pca: orthonormal components, eigenvalue == projected variance, total preserved") {
    import graft.llm.Embeddings
    val e = Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "cast(embedding as array<double>) as v")
    val model = Embeddings.fitPca(e)
    val vecs = e.select("v").collect().map(_.getSeq[Double](0).toArray)
    val dim = vecs.head.length
    val n = vecs.length.toDouble
    // eigenvalues descending, non-negative (symmetric PSD covariance)
    model.eigenvalues.sliding(2).foreach { case Array(a, b) => assert(a >= b - 1e-12) }
    assert(model.eigenvalues.forall(_ >= -1e-9))
    // trace preservation: Σ eigenvalues == Σ per-dimension population variance
    val mean = (0 until dim).map(i => vecs.map(_(i)).sum / n)
    val totalVar = (0 until dim).map(i =>
      vecs.map(v => math.pow(v(i) - mean(i), 2)).sum / n).sum
    assert(math.abs(model.eigenvalues.sum - totalVar) <= 1e-9 * totalVar.max(1.0))
    // orthonormality
    for (i <- 0 until 4; j <- 0 until 4) {
      val dot = model.components(i).zip(model.components(j)).map { case (a, b) => a * b }.sum
      assert(math.abs(dot - (if (i == j) 1.0 else 0.0)) <= 1e-8,
        s"components $i,$j not orthonormal: $dot")
    }
    // projected population variance along component i == eigenvalue i
    val projected = Embeddings.project(e, model, 4)
      .select("proj").collect().map(_.getSeq[Double](0).toArray)
    (0 until 4).foreach { i =>
      val m = projected.map(_(i)).sum / n
      val v = projected.map(p => math.pow(p(i) - m, 2)).sum / n
      assert(math.abs(v - model.eigenvalues(i)) <= 1e-8,
        s"component $i: projected variance $v != eigenvalue ${model.eigenvalues(i)}")
    }
    // whitening: every kept coordinate has unit population variance
    val whitened = Embeddings.whiten(e, model, 4)
      .select("proj").collect().map(_.getSeq[Double](0).toArray)
    (0 until whitened.head.length).foreach { i =>
      val m = whitened.map(_(i)).sum / n
      val v = whitened.map(p => math.pow(p(i) - m, 2)).sum / n
      assert(math.abs(v - 1.0) <= 1e-8, s"whitened component $i variance $v != 1")
    }
  }

  test("pca: compensated fold is bit-identical across partition layouts") {
    // The property that makes q117 pinnable at every scale decade: the
    // (n, Σv, Σvvᵀ) fold is Neumaier-compensated, so two maximally
    // different layouts (1 vs 32 partitions → different reduce orders)
    // must produce the SAME doubles, not merely close ones.
    import graft.llm.Embeddings
    val e = Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "cast(embedding as array<double>) as v")
    val m1 = Embeddings.fitPca(e.repartition(1))
    val m32 = Embeddings.fitPca(e.repartition(32, org.apache.spark.sql.functions.col("vec_id")))
    assert(m1.mean.toSeq == m32.mean.toSeq, "means drift across layouts")
    assert(m1.eigenvalues.toSeq == m32.eigenvalues.toSeq,
      "eigenvalues drift across layouts")
  }

  test("repetition quality gate recomputes from raw text") {
    val corpus = docs()
    val got = Retrieval.repetitionQuality(spark, sf).collect()
    got.foreach { r =>
      val ts = tokens(corpus(r.getLong(0)))
      val tf = ts.groupBy(identity).map(_._2.size)
      assert(r.getLong(1) == ts.size)
      assert(r.getLong(2) == tf.size)
      assert(r.getDouble(3) == round4(tf.size.toDouble / ts.size))
      assert(r.getDouble(4) == round4(tf.max.toDouble / ts.size))
      val keepRef = r.getDouble(3) >= 0.3 && r.getDouble(4) <= 0.2 &&
        ts.size >= 10 && ts.size <= 1000
      assert(r.getBoolean(6) == keepRef)
    }
  }

  test("q148: embedding drift matches a plain-Scala centroid recompute") {
    val vecs = graft.core.Tables.embeddings(spark, sf)
      .select("label", "embedding").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    val dim = vecs.head._2.length
    def centroid(vs: Array[Array[Double]]): Array[Double] =
      Array.tabulate(dim)(i => vs.map(_(i)).sum / vs.length)
    val global = centroid(vecs.map(_._2))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = (a, b).zipped.map(_ * _).sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val expected = vecs.groupBy(_._1).map { case (lbl, g) =>
      (lbl, g.length.toLong,
        math.floor(cos(centroid(g.map(_._2)), global) * 10000 + 0.5) / 10000.0)
    }.toSet
    val got = graft.llm.Embeddings.embeddingDrift(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == expected, "embedding drift diverges from the centroid recompute")
  }

  test("q194 textrank kernel: hub word wins, leaves tie symmetrically, isolated docs drop") {
    // "a b c b": edges {(a,b),(b,a),(b,c),(c,b)} — b is the hub
    val out = graft.llm.Retrieval.textrankDoc(
      Seq((0, "a"), (1, "b"), (2, "c"), (3, "b")))
    assert(out.map(_._2) == Seq("b", "a", "c"),
      s"rank order wrong: $out (hub must win, a/c tie broken by word)")
    val byWord = out.map(o => o._2 -> o._3).toMap
    assert(byWord("a") == byWord("c"), "symmetric leaves must score equal")
    assert(byWord("b") > byWord("a"), "hub must out-score leaves")
    // damped-PageRank invariant on the complete 3-graph from "x y z x":
    // all symmetric, pr = 1/3 each, fixpoint from round 0
    val k3 = graft.llm.Retrieval.textrankDoc(
      Seq((0, "x"), (1, "y"), (2, "z"), (3, "x")))
    assert(k3.map(_._3).distinct == Seq(0.3333), s"K3 must stay uniform: $k3")
    // single token / all-repeat docs have no edges → no keywords
    assert(graft.llm.Retrieval.textrankDoc(Seq((0, "solo"))).isEmpty)
    assert(graft.llm.Retrieval.textrankDoc(Seq((0, "w"), (1, "w"))).isEmpty)
  }
}
