package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.llm.{Dedup, Multimodal, Similarity}
import graft.functions.RollingHash

/** Verifies the operators whose queries have no SQL oracle (hash-based and
  * approximate paths) against brute-force references on sf0.001. */
class LlmSpec extends AnyFunSuite with LocalSpark {

  private val sf = "/root/testdata/sf0.001"

  test("cosineNearDupLsh recovers the exact pairs on a planted near-dup corpus") {
    // the LSH-blocked variant is sound at real near-dup thresholds (≳0.8):
    // plant 12 high-cosine pairs (≈0.994) among 120 random unit vectors and
    // assert (label, tbl, bucket) candidate generation + exact confirm
    // returns exactly the exact-join result. Seeded end-to-end: per-pair
    // miss probability at these parameters is ≈1e-5 and the draw is fixed.
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val dim = 32
    def unit(): Array[Double] = {
      val a = Array.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(a.map(x => x * x).sum)
      a.map(_ / n)
    }
    val base = (0 until 120).map(i => (i.toLong, i % 5, unit()))
    val planted = (0 until 12).map { k =>
      val (_, lab, v) = base(k)
      val p = v.map(x => x + 0.02 * rnd.nextGaussian())
      val n = math.sqrt(p.map(x => x * x).sum)
      (200L + k, lab, p.map(_ / n))
    }
    val ev = (base ++ planted).toDF("vec_id", "label", "v")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val exact = rows(Similarity.cosineNearDupPairs(ev, 0.9))
    val lsh = rows(Similarity.cosineNearDupLsh(ev, 0.9))
    assert(exact.size >= 12, s"planted pairs missing from the exact join: $exact")
    assert(lsh == exact, s"LSH candidates missed/invented pairs:\n  exact=$exact\n  lsh=$lsh")
  }

  test("semDedup pruning matches the brute-force greedy rule (q125)") {
    // drive the pruning stage with a planted clustering: 3 clusters of unit
    // vectors where cluster 0 holds two exact-duplicate groups, cluster 1
    // holds orthogonal vectors (nothing prunable), cluster 2 mixes both —
    // then recompute the paper's greedy rule (prune iff a lower-id
    // cluster-mate has round-4 cosine ≥ 0.35) in plain Scala
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val dim = 16
    def unit(): Array[Double] = {
      val a = Array.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(a.map(x => x * x).sum)
      a.map(_ / n)
    }
    def jitter(v: Array[Double]): Array[Double] = {
      val p = v.map(x => x + 0.05 * rnd.nextGaussian())
      val n = math.sqrt(p.map(x => x * x).sum)
      p.map(_ / n)
    }
    val seeds = Array.fill(6)(unit())
    val rows = Seq.newBuilder[(Long, Long, Array[Double])]
    var id = 0L
    for (c <- 0 until 3; s <- 0 until 2; k <- 0 until (3 + c)) {
      val base = seeds(c * 2 + s)
      rows += ((id, c.toLong, if (k == 0) base else jitter(base))); id += 1
    }
    val assigned = rows.result().toDF("vec_id", "cent_id", "v")
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      // Spark round(,4) semantics: BigDecimal HALF_UP on the double value
      BigDecimal(d / (na * nb)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val data = rows.result()
    val expected = data.groupBy(_._2).map { case (c, xs) =>
      val pruned = xs.count { case (i, _, v) =>
        xs.exists { case (j, _, w) => j < i && cos(v, w) >= 0.35 }
      }
      (c, xs.length.toLong, pruned.toLong, (xs.length - pruned).toLong)
    }.toSet
    val got = Similarity.semDedupFromAssigned(assigned).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == expected, s"missing=${expected -- got}\n  extra=${got -- expected}")
    // the plant must exercise both branches
    assert(expected.exists(_._3 > 0) && expected.exists(e => e._4 > 1),
      "plant has no prunable or no kept-distinct vectors — weak test")
  }

  test("dupSpans matches a brute-force span count (q124)") {
    // brute-force reference: collect the corpus (50 docs at sf0.001), count
    // 8-token windows and their corpus-wide frequencies in plain Scala, and
    // compare the whole per-doc profile row-for-row
    val docs = graft.core.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val spans = docs.flatMap { case (id, text) =>
      val t = text.split(" ", -1)
      if (t.length < 8) Seq.empty
      else (0 to t.length - 8).map(i => (id, t.slice(i, i + 8).mkString(" ")))
    }
    val freq = spans.groupBy(_._2).map { case (s, xs) => (s, xs.length) }
    val expected = spans.groupBy(_._1).map { case (id, xs) =>
      val nd = xs.count(x => freq(x._2) >= 2)
      (id, xs.length.toLong, nd.toLong,
        math.floor(nd.toDouble / xs.length * 10000 + 0.5) / 10000.0)
    }.toSet
    val got = Dedup.dupSpans(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == expected,
      s"missing=${expected -- got}\n  extra=${got -- expected}")
    // the corpus must actually exercise the duplicated branch (2,382 shared
    // span occurrences at sf0.001) — otherwise the comparison proves nothing
    assert(expected.exists(_._3 > 0), "no duplicated spans in corpus — weak test")
  }

  test("spanExcision merges flagged windows into maximal spans and rebuilds (q151)") {
    // brute-force reference: flag every 8-token window occurring ≥2 times
    // corpus-wide, merge a doc's flagged window positions into maximal
    // islands (p joins the open island iff p ≤ lastPos + 8), excise every
    // covered token, rebuild the survivors in order
    val docs = graft.core.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1)))
      .filter(_._2.length >= 8)
    val spans = docs.flatMap { case (id, t) =>
      (0 to t.length - 8).map(i => (id, i, t.slice(i, i + 8).mkString(" ")))
    }
    val freq = spans.groupBy(_._3).map { case (s, xs) => (s, xs.length) }
    val expected = docs.map { case (id, t) =>
      val flagged = (0 to t.length - 8)
        .filter(i => freq(t.slice(i, i + 8).mkString(" ")) >= 2)
      val islands = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      flagged.foreach { p =>
        if (islands.nonEmpty && p <= islands.last._2 + 8)
          islands(islands.length - 1) = (islands.last._1, p)
        else islands += ((p, p))
      }
      val covered = islands.flatMap { case (a, b) => a to (b + 7) }.toSet
      val removed = covered.size.toLong
      val clean = t.indices.filterNot(covered).map(t).mkString(" ")
      (id, t.length.toLong, islands.length.toLong, removed,
        math.floor((t.length - removed).toDouble / t.length * 10000 + 0.5) / 10000.0,
        clean)
    }.toSet
    val got = Dedup.spanExcision(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getString(5))).toSet
    assert(got == expected, s"missing=${expected -- got}\n  extra=${got -- expected}")
    // the corpus must exercise the interesting branches: excised docs, a
    // MERGED island (> 1 window), and at least one untouched doc
    assert(expected.exists(e => e._3 > 0 && e._4 != e._3 * 8),
      "no multi-window island merged — weak test")
    assert(expected.exists(_._4 == 0), "every doc excised — weak test")
  }

  test("segmentDedup keeps exactly the first global occurrence of each segment (q127)") {
    // brute-force reference in plain Scala: split every document into
    // consecutive 8-token segments, keep a segment iff its (doc_id, seg_idx)
    // is the minimum over all occurrences of that exact segment text, and
    // rebuild the text in document order
    val docs = graft.core.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val segs = docs.flatMap { case (id, text) =>
      val t = text.split(" ", -1)
      (0 until math.ceil(t.length / 8.0).toInt).map { i =>
        (id, i.toLong, t.slice(i * 8, math.min(i * 8 + 8, t.length)).mkString(" "))
      }
    }
    val firstOcc = segs.groupBy(_._3).map { case (s, xs) =>
      (s, xs.map(x => (x._1, x._2)).min)
    }
    val expected = segs.groupBy(_._1).map { case (id, xs) =>
      val kept = xs.filter(x => firstOcc(x._3) == ((x._1, x._2)))
      (id, xs.length.toLong, kept.length.toLong,
        kept.sortBy(_._2).map(_._3).mkString(" "))
    }.toSet
    val got = Dedup.segmentDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    assert(got == expected, s"missing=${expected -- got}\n  extra=${got -- expected}")
    // the corpus must exercise the drop branch (204 dropped segments at
    // sf0.001) — otherwise keep-first is vacuous
    assert(expected.exists(e => e._3 < e._2), "no segment ever dropped — weak test")
  }

  test("incrementalNearDup finds exactly the existing↔incoming jaccard pairs (q128)") {
    // brute-force trigram-shingle Jaccard between the existing (doc_id%10<8)
    // and incoming (doc_id%10>=8) splits — the LSH path must recover every
    // pair at the 0.5 threshold (same bimodal-corpus argument as q36)
    val docs = graft.core.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def shingles(text: String): Set[String] = {
      val t = text.split(" ", -1)
      if (t.length < 3) Set.empty
      else (0 to t.length - 3).map(i => t.slice(i, i + 3).mkString(" ")).toSet
    }
    val sh = docs.map { case (id, t) => (id, shingles(t)) }.filter(_._2.nonEmpty)
    val existing = sh.filter(_._1 % 10 < 8)
    val incoming = sh.filter(_._1 % 10 >= 8)
    val expected = (for {
      (ei, es) <- existing; (ii, is) <- incoming
      inter = (es & is).size.toDouble
      j = BigDecimal(inter / (es.size + is.size - inter))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      if j >= 0.5
    } yield (ii, ei, j)).toSet
    val got = Dedup.incrementalNearDup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == expected, s"missing=${expected -- got}\n  extra=${got -- expected}")
    assert(expected.nonEmpty, "no cross-split near-dup pairs in corpus — weak test")
  }

  test("crc32 matches java.util.zip.CRC32 (q43b's scalar)") {
    import spark.implicits._
    val samples = Seq("", "a", "hello world", "café ☕", "x" * 1000)
    samples.toDF("s")
      .select(col("s"), crc32(col("s").cast("binary")).as("c"))
      .collect().foreach { r =>
        val ref = new java.util.zip.CRC32()
        val bytes = r.getString(0).getBytes("UTF-8")
        ref.update(bytes, 0, bytes.length)
        assert(r.getLong(1) == ref.getValue, s"crc32 mismatch for '${r.getString(0)}'")
      }
  }

  test("rolling_hash codegen == interpreted == reference") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    val samples = Seq("", "a", "hello world", "café ☕", "x" * 1000)
    samples.foreach { s =>
      val interp = RollingHash(Literal(UTF8String.fromString(s),
        org.apache.spark.sql.types.StringType)).eval(null)
      assert(interp == RollingHash.reference(s), s"interpreted mismatch for '$s'")
    }
    // codegen path through a real plan
    import spark.implicits._
    val df = samples.toDF("s")
      .select(col("s"), RollingHash.rolling_hash(col("s")).as("h"))
    df.collect().foreach { r =>
      assert(r.getLong(1) == RollingHash.reference(r.getString(0)))
    }
  }

  test("word_ngrams generator == reference; SQL registration; edge cases") {
    import spark.implicits._
    val samples = Seq(
      "one two three four",   // 2 trigrams
      "a b c",                // exactly n words
      "a b",                  // shorter than n → no rows
      "",                     // single empty token
      "x  y z",               // consecutive spaces → empty token preserved
      "trail z q ")           // trailing space → empty last token
    val df = samples.toDF("text")
    val got = df.select(col("text"),
        graft.functions.WordNgrams.word_ngrams(col("text"), 3).as("ngram"))
      .collect().map(r => r.getString(0) -> r.getString(1))
    val want = samples.flatMap(s =>
      graft.functions.WordNgrams.reference(s, 3).map(s -> _))
    assert(got.sorted.toSeq == want.sorted)
    // null text emits nothing (generator, not null row)
    val withNull = df.unionAll(Seq(null.asInstanceOf[String]).toDF("text"))
    assert(withNull.select(graft.functions.WordNgrams.word_ngrams(col("text"), 3))
      .count() == want.size)
    // SQL surface via GraftExtensions, with LATERAL VIEW shape
    graft.functions.GraftExtensions.install(spark)
    df.createOrReplaceTempView("ngram_docs")
    try {
      val viaSql = spark.sql(
        "SELECT ngram FROM ngram_docs LATERAL VIEW word_ngrams(text, 3) t AS ngram")
      assert(viaSql.collect().map(_.getString(0)).sorted.toSeq == want.map(_._2).sorted)
    } finally spark.catalog.dropTempView("ngram_docs")
  }

  test("simhash LSH pairs == brute-force hamming pairs") {
    // NB: iterate a Seq, not the Map — a for/yield over a Map collapses
    // result pairs by key
    val sh = Dedup.simhash(graft.core.Tables.documents(spark, sf))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    val brute = (for {
      (a, ha) <- sh; (b, hb) <- sh if a < b
      if java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (a, b)).toSet
    val lsh = Dedup.simhashNearDup(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == brute, s"lsh=${lsh.size} brute=${brute.size}")
    assert(brute.nonEmpty, "test corpus should contain simhash near-dups")
  }

  test("minhash near-dup pairs == brute-force jaccard >= 0.5") {
    val docs = graft.core.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").sliding(3).map(_.mkString(" ")).toSet)
      .filter(_._2.nonEmpty)
    val brute = (for {
      (a, sa) <- docs; (b, sb) <- docs if a < b
      inter = (sa & sb).size.toDouble
      j = inter / (sa.size + sb.size - inter) if j >= 0.5
    } yield (a, b)).toSet
    val lsh = Dedup.minhashNearDup(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == brute, s"lsh=${lsh.size} brute=${brute.size}")
    assert(brute.nonEmpty, "test corpus should contain minhash near-dups")
  }

  test("IVF knn finds most of the brute-force top-5") {
    val brute = Similarity.knnBrute(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val ivf = Similarity.knnIvf(spark, sf)
      .collect().map(_.getLong(0)).toSet
    assert(ivf.size == 5)
    val recall = (brute & ivf).size / 5.0
    assert(recall >= 0.6, s"IVF recall $recall too low (ivf=$ivf brute=$brute)")
  }

  test("LSH knn finds most of the brute-force top-5") {
    val brute = Similarity.knnBrute(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val lsh = Similarity.knnLsh(spark, sf)
      .collect().map(_.getLong(0)).toSet
    assert(lsh.size == 5, s"LSH buckets must yield >= 5 candidates, got $lsh")
    val recall = (brute & lsh).size / 5.0
    assert(recall >= 0.6, s"LSH recall $recall too low (lsh=$lsh brute=$brute)")
  }

  test("LSH-probed hard negatives recover most of the brute-force set (q139b)") {
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val brute = pairs(Similarity.hardNegatives(spark, sf))
    val lsh = pairs(Similarity.hardNegativesLsh(spark, sf))
    assert(lsh.map(_._1) == brute.map(_._1),
      s"every query must emit negatives: lsh queries ${lsh.map(_._1)}")
    val recall = (brute & lsh).size.toDouble / brute.size
    assert(recall >= 0.6,
      s"probe-fed hard-negative recall $recall too low (lsh=$lsh brute=$brute)")
  }

  test("LSH-probed bitext mining recovers most brute mutual pairs (q143b)") {
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(Similarity.bitextMine(spark, sf))
    val lsh = pairs(Similarity.bitextMineLsh(spark, sf))
    assert(brute.nonEmpty, "test corpus should contain mutual pairs")
    // shortlist-mutual vs block-mutual: recall bounded by the per-pair
    // candidate probability 1−(1−p^B)^L ≈ 0.79 at this corpus's p ≈ 0.60
    val recall = (brute & lsh).size.toDouble / brute.size
    assert(recall >= 0.5,
      s"probe-fed bitext recall $recall too low (lsh=${lsh.size} brute=${brute.size})")
    // deterministic: fixed planes, round-4 cosines, id tiebreaks
    assert(pairs(Similarity.bitextMineLsh(spark, sf)) == lsh,
      "q143b must be deterministic across runs")
  }

  test("quantized knn recovers the exact brute-force top-5 after rerank") {
    val brute = Similarity.knnBrute(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
    val quant = Similarity.knnQuantized(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
    // the pinned ANN golden is only valid if the rerank recovers the exact
    // answer — assert full equality, not just recall
    assert(quant == brute, s"quantized path diverged: quant=$quant brute=$brute")
  }

  test("semDedup capacity levers: non-default k partitions the corpus and conserves counts") {
    // the k ∝ n/⟨cluster size⟩ scaling rule only exists if k is actually a
    // parameter — run end-to-end at k=4 (default is 8) and check the
    // accounting invariants hold under the coarser clustering
    val total = graft.core.Tables.embeddings(spark, sf).count()
    val out = Similarity.semDedup(spark, sf, k = 4, iters = 2).collect()
    assert(out.nonEmpty && out.length <= 4, s"expected ≤4 clusters, got ${out.length}")
    assert(out.map(_.getLong(1)).sum == total, "cluster membership must cover the corpus")
    for (r <- out) {
      assert(r.getLong(3) == r.getLong(1) - r.getLong(2), "kept + pruned != members")
      assert(r.getLong(3) >= 1, "every cluster keeps at least one representative")
    }
  }

  test("LSH capacity levers: non-default (bits, tables) holds recall vs knnBrute") {
    // the "raise B as n grows" rule only exists if (B, L) are real
    // parameters AND recall survives the narrower buckets when L rises
    // with them — run end-to-end at B=6/L=24 (default 4/16) for both the
    // single-query probe (q56 shape) and the batch probe (q139b shape)
    val brute = Similarity.knnBrute(spark, sf).collect().map(_.getLong(0)).toSet
    val lsh = Similarity.knnLsh(spark, sf, bits = 6, tables = 24)
      .collect().map(_.getLong(0)).toSet
    assert(lsh.intersect(brute).size >= 4,
      s"B=6/L=24 top-5 recall < 4/5 vs brute: lsh=$lsh brute=$brute")
    // the batch probe's tail pairs sit at LOWER cosine than a top-5 query
    // (p^B decays faster), so holding recall while B rises takes a larger
    // L here — the exact asymmetry the capacity rule predicts (measured:
    // B=6/L=24 recalls 10/15, L=48 recovers it)
    val bruteNeg = Similarity.hardNegatives(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val lshNeg = Similarity.hardNegativesLsh(spark, sf, bits = 6, tables = 48)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(lshNeg.intersect(bruteNeg).size >= (bruteNeg.size * 4) / 5,
      s"B=6/L=48 hard-negative recall < 4/5 vs brute: lsh=$lshNeg brute=$bruteNeg")
  }

  test("PQ capacity levers: non-default (m, kCodes, iters) still yields a ranked top-5") {
    val rows = Similarity.knnPq(spark, sf, m = 4, kCodes = 8, iters = 1)
      .orderBy("rank").collect()
    assert(rows.length == 5, s"expected 5 neighbors, got ${rows.length}")
    assert(rows.map(_.getInt(2)).toSeq == Seq(1, 2, 3, 4, 5))
    val cosines = rows.map(_.getDouble(1)).toSeq
    assert(cosines == cosines.sorted.reverse, s"cosines not descending: $cosines")
  }

  test("PQ knn finds most of the brute-force top-5 (q130)") {
    // PQ at 64× compression is genuinely lossy and this corpus's top-5
    // margins are a few thousandths of cosine — the recall contract is the
    // q40/q56 one, not q70's exact-equality (see knnPq scaladoc)
    val brute = Similarity.knnBrute(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val pq = Similarity.knnPq(spark, sf)
      .collect().map(_.getLong(0)).toSet
    assert(pq.size == 5, s"PQ must yield 5 results, got $pq")
    val recall = (brute & pq).size / 5.0
    assert(recall >= 0.6, s"PQ recall $recall too low (pq=$pq brute=$brute)")
  }

  test("ngram jaccard pairs == brute-force trigram jaccard >= 0.4") {
    val docs = graft.core.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" "))
      .filter(_._2.length >= 3)
      .map { case (id, t) => id -> t.sliding(3).map(_.mkString(" ")).toSet }
    val brute = (for {
      (a, sa) <- docs; (b, sb) <- docs if a < b
      inter = (sa & sb).size.toDouble
      j = inter / (sa.size + sb.size - inter) if j >= 0.4
    } yield (a, b)).toSet
    val got = Dedup.ngramJaccard(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == brute, s"got=${got.size} brute=${brute.size}")
    assert(brute.nonEmpty, "test corpus should contain bigram near-dups")
  }

  test("sorted-neighborhood pairs == plain-Scala window replay, and embed in q55 (q184)") {
    // reference: same normalized key, same total order, same W=8 window,
    // same trigram-Jaccard verification with the 4-dp half-up rounding
    val docs = graft.core.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
      .filter(_._2.split(" ").length >= 3)
      .map { case (id, text) =>
        val skey = text.toLowerCase.replaceAll("[^a-z0-9]", "").take(40)
        val sh = text.split(" ").sliding(3).map(_.mkString(" ")).toSet
        (skey, id, sh)
      }.sortBy(x => (x._1, x._2))
    val expected = (for {
      i <- docs.indices; j <- (i + 1) until math.min(i + 8, docs.length)
      (_, ai, sa) = docs(i); (_, bi, sb) = docs(j)
      ni = (sa & sb).size
      jac = math.floor(ni.toDouble / (sa.size + sb.size - ni) * 10000 + 0.5) / 10000
      if jac >= 0.4
    } yield (math.min(ai, bi), math.max(ai, bi), (j - i).toLong, jac)).toSet
    val got = Dedup.sortedNeighborhood(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(expected.nonEmpty, "corpus should contain window-adjacent near-dups")
    assert(got == expected,
      s"SNM diverges from replay: ${got.diff(expected)} extra, ${expected.diff(got)} missing")
    // blocking soundness: SNM never invents a pair the exhaustive exact
    // join (same universe, same threshold) doesn't have
    val full = Dedup.ngramJaccard(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.forall(p => full.contains((p._1, p._2))),
      "SNM emitted a pair outside the exact-Jaccard pair set")
  }

  test("asymmetric prefix containment is lossless: identical to the direct counting join") {
    val docs = graft.core.Tables.documents(spark, sf)
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val direct = asSet(Dedup.containmentOf(docs))
    val prefix = asSet(Dedup.containmentPrefixOf(docs))
    assert(direct.nonEmpty, "corpus should contain containment pairs")
    assert(prefix == direct,
      s"one-sided prefix filter changed the result: ${prefix.diff(direct)} extra, ${direct.diff(prefix)} missing")
  }

  test("prefix-filtered jaccard is lossless: identical pairs to the exact join") {
    val exact = Dedup.ngramJaccard(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val prefix = Dedup.prefixJaccard(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(prefix == exact,
      s"prefix filtering changed the result: ${prefix.diff(exact)} extra, ${exact.diff(prefix)} missing")
  }

  test("dedup groups are the connected components of the near-dup pair graph") {
    // brute-force union-find over the exact pair set
    val pairs = Dedup.ngramJaccard(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      .map(n => n -> find(n)).toMap
    val got = Dedup.dedupGroups(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected, s"components differ: got=${got.size} want=${expected.size}")
    assert(expected.values.toSet.size < expected.size, "corpus should have a multi-node group")
  }

  test("soft dedup: weights are 1/|component|, partition the corpus, sum to effective size (q187)") {
    val docs = graft.core.Tables.documents(spark, sf).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val groups = Dedup.dedupGroups(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap // edged nodes only (spec'd correct above)
    val got = SparkEntry.queries("q187_soft_dedup")(spark, sf).collect()
      .map(r => (r.getLong(1), r.getLong(0), r.getLong(2), r.getDouble(3)))
    // every document exactly once
    assert(got.map(_._2).toSet == docs && got.length == docs.size)
    val byGroup = got.groupBy(_._1)
    got.foreach { case (g, doc, n, w) =>
      // label agrees with the component closure; singletons self-label
      assert(g == groups.getOrElse(doc, doc))
      assert(n == byGroup(g).length, s"group $g size mismatch")
      assert(w == math.floor(1.0 / n * 10000 + 0.5) / 10000)
    }
    // sum of weights == number of clusters (each cluster contributes ~1)
    val eff = got.map(_._4).sum
    assert(math.abs(eff - byGroup.size) < 0.01 * byGroup.size + 1e-6)
  }

  test("winnowing pairs == plain-Scala fingerprint replay (q188)") {
    val (k, w, minShared) = (3, 4, 5)
    def md5hex8(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
    val texts = graft.core.Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq)
    val fp = texts.collect { case (id, t) if t.length >= k + w - 1 =>
      val grams = (0 to t.length - k)
        .map(i => (md5hex8(t.slice(i, i + k).mkString(" ")), i))
      val sel = (0 to grams.length - w).map { j =>
        grams.slice(j, j + w).minBy { case (h, pos) => (h, -pos) }._1
      }
      id -> sel.distinct.toSet
    }.toMap
    val expected = (for {
      (a, fa) <- fp.toSeq; (b, fb) <- fp.toSeq if a < b
      shared = (fa & fb).size if shared >= minShared
    } yield (a, b, shared.toLong,
      math.rint(shared.toDouble / math.min(fa.size, fb.size) * 10000) / 10000)).toSet
    val got = SparkEntry.queries("q188_winnowing")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    // overlap rounding: compare counts exactly, overlap to 3dp (rint vs
    // HALF_UP can differ in the 4th place on exact ties)
    assert(got.map(t => (t._1, t._2, t._3)) == expected.map(t => (t._1, t._2, t._3)),
      s"pair sets diverge: got ${got.size}, want ${expected.size}")
    val expOv = expected.map(t => (t._1, t._2) -> t._4).toMap
    got.foreach(t => assert(math.abs(t._4 - expOv((t._1, t._2))) < 5e-4))
    // density sanity: every doc's fingerprint count obeys the 2/(w+1) regime
    val nfp = fp.view.mapValues(_.size).toMap
    val nWin = texts.collect { case (id, t) if t.length >= k + w - 1 =>
      id -> (t.length - k - w + 2) }.toMap
    nfp.foreach { case (id, n) => assert(n >= 1 && n <= nWin(id)) }
  }

  test("binaryFile source ingests raw files as binary rows with metadata") {
    val dir = java.nio.file.Files.createTempDirectory("binary-files")
    val sizes = Map("a.txt" -> 1, "b.txt" -> 17, "c.txt" -> 4096)
    sizes.foreach { case (name, n) =>
      java.nio.file.Files.write(dir.resolve(name), Array.tabulate[Byte](n)(i => (i % 251).toByte))
    }
    java.nio.file.Files.write(dir.resolve("d.bin"), Array.fill[Byte](33)(7))
    val n = sizes.size
    val df = Multimodal.readBinaryDir(spark, dir.toString, "*.txt")
    assert(df.columns.toSet == Set("path", "modificationTime", "length", "content"))
    val rows = df.select("path", "length", "content").collect()
    assert(rows.length == n, s"expected $n files, got ${rows.length}")
    assert(rows.forall(r => r.getAs[Array[Byte]]("content").length == r.getAs[Long]("length")),
      "content length must match the length metadata column")
    assert(!rows.exists(_.getAs[String]("path").endsWith(".bin")), "the *.txt glob read the .bin file")
    val got = rows.map(r => r.getAs[String]("path").split('/').last -> r.getAs[Long]("length")).toMap
    assert(got == sizes.map { case (k, v) => k -> v.toLong }, s"file sizes: $got")
  }

  test("multimodal resize updates metadata and scales payloads; frame sampling strides") {
    import spark.implicits._
    val media = Multimodal.media(spark, sf).as[graft.llm.MediaRow]
    val resized = Multimodal.resize(media, 64, 48).collect()
    assert(resized.forall(m => m.width == 64 && m.height == 48))
    assert(resized.forall(m => m.payload.length >= 1))
    val frames = Multimodal.sampleFrames(media, stride = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(frames.nonEmpty)
    assert(frames.forall(_._2 % 2 == 0), "sampled frame indices must honor the stride")
  }

  test("multimodal feature extraction applies the stub decoder per row") {
    import spark.implicits._
    val feats = Multimodal.extractFeatures(
        Multimodal.media(spark, sf).as[graft.llm.MediaRow])
      .filter(col("media_id") < 5).collect().sortBy(_.media_id)
    val texts = graft.core.Tables.documents(spark, sf)
      .filter(col("doc_id") < 5).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    feats.foreach { f =>
      val bytes = texts(f.media_id).getBytes("UTF-8")
      var h = 0L; bytes.foreach(b => h = h * 31 + (b & 0xff))
      assert(f.checksum == h)
      assert(f.n_bytes == bytes.length)
      assert(f.n_frames == bytes.length / 100 + 1)
    }
  }

  private def loadVecs(): Array[(Long, Int, Array[Double])] =
    graft.core.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Double](2).toArray))

  private def cos4(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    // Spark round(,4) semantics: BigDecimal HALF_UP on the double value
    BigDecimal(d / (math.sqrt(na) * math.sqrt(nb)))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  test("q141 semantic decontamination matches the brute-force eval argmax") {
    val vecs = loadVecs()
    val eval = vecs.filter(_._1 < 10)
    val expected = vecs.filter(_._1 >= 10).flatMap { case (id, _, v) =>
      // argmax with the query's tiebreak: cosine desc, eval_id asc
      val best = eval.map { case (eid, _, qv) => (cos4(v, qv), eid) }
        .maxBy { case (c, eid) => (c, -eid) }
      if (best._1 >= 0.30) Some((id, best._2, best._1)) else None
    }.toSet
    val got = Similarity.semanticDecontam(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == expected,
      s"decontam flags diverge:\n  got=$got\n  expected=$expected")
  }

  test("q143 bitext mining returns exactly the mutual-top-1 pairs with margins") {
    val vecs = loadVecs()
    val xs = vecs.filter(_._2 == 0)
    val ys = vecs.filter(_._2 == 9)
    assert(xs.nonEmpty && ys.nonEmpty, "test corpus lost its label groups")
    def top(other: Array[(Long, Int, Array[Double])],
            v: Array[Double]): List[(Double, Long)] =
      other.map { case (oid, _, ov) => (cos4(v, ov), oid) }
        .sortBy { case (c, oid) => (-c, oid) }.toList
    val expected = xs.flatMap { case (xid, _, xv) =>
      val rankedY = top(ys, xv)
      val (c1, y1) = rankedY.head
      val c2 = rankedY.drop(1).headOption.map(_._1).getOrElse(0.0)
      val yTop = ys.find(_._1 == y1).get
      val rankedX = top(xs, yTop._3)
      if (rankedX.head._2 == xid)
        Some((xid, y1, c1, math.floor((c1 - c2) * 10000 + 0.5) / 10000.0))
      else None
    }.toSet
    val got = Similarity.bitextMine(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
    assert(got == expected,
      s"mutual pairs diverge:\n  got=$got\n  expected=$expected")
  }

  test("q196 k-center picks match the plain-Scala greedy recompute on sf0.001") {
    // independent greedy farthest-point run with the same rounding/tiebreak
    val rows = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      .sortBy(_._1)
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def d2(a: Array[Double], b: Array[Double]): Double = {
      // same association as the engine: |a|² + |b|² − 2·a·b, each dot a
      // left-to-right fold
      def dot(x: Array[Double], y: Array[Double]) =
        x.indices.foldLeft(0.0)((s, i) => s + x(i) * y(i))
      r4(dot(a, a) + dot(b, b) - 2.0 * dot(a, b))
    }
    var picks = Vector(rows.head._1)
    var dmin = rows.map(r => d2(r._2, rows.head._2))
    val expected = scala.collection.mutable.ArrayBuffer((1, rows.head._1, 0.0))
    for (i <- 2 to 8) {
      val best = rows.indices.maxBy(ix => (dmin(ix), -rows(ix)._1))
      expected += ((i, rows(best)._1, dmin(best)))
      picks :+= rows(best)._1
      if (i < 8) {
        val cv = rows(best)._2
        dmin = rows.indices.map(ix => math.min(dmin(ix), d2(rows(ix)._2, cv))).toArray
      }
    }
    val got = Similarity.kcenterSelect(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(3)))
    assert(got.toSeq == expected.toSeq,
      s"pick sequence diverges:\n got=${got.toSeq}\n exp=${expected.toSeq}")
    // coverage radii must be non-increasing (the Gonzalez invariant)
    val radii = got.drop(1).map(_._3)
    assert(radii.zip(radii.drop(1)).forall { case (a, b) => b <= a },
      s"radius sequence not monotone: ${radii.toSeq}")
  }

  test("q195 deepwalk paths are valid graph walks reproducing the seeded picks (sf0.001)") {
    // independent recompute: adjacency + the modular-hash neighbor pick
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_suppkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val ord = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_custkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val pairs = li.flatMap { case (ok, sk) => ord.get(ok).map(c => (c * 2, sk * 2 + 1)) }.distinct
    val adj = (pairs ++ pairs.map(p => (p._2, p._1))).distinct
      .groupBy(_._1).map { case (src, es) => src -> es.map(_._2).sorted }
    val P = 1000003L; val A = 2654435761L % P
    def walk(start: Long, wk: Int): String = {
      var cur = start
      val sb = new StringBuilder(cur.toString)
      for (i <- 1 to 4) {
        val nb = adj(cur)
        val idx = (((cur % P) * A + wk * 131 + i * 97) % P % nb.length).toInt
        cur = nb(idx)
        sb.append('-').append(cur)
      }
      sb.toString
    }
    val expected = adj.keySet.flatMap(n => Seq((n, 0, walk(n, 0)), (n, 1, walk(n, 1))))
    val got = SparkEntry.queries("q195_deepwalk")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(got == expected, s"walks diverge: ${got.size} vs ${expected.size}")
  }

  test("q201 HITS scores match the plain-Scala power-iteration recompute (sf0.001)") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_suppkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val ord = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_custkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val w = li.flatMap { case (ok, sk) => ord.get(ok).map(c => ((c, sk), 1L)) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    var hub = w.keys.map(_._1).toSeq.distinct.map(_ -> 1.0).toMap
    var auth = Map.empty[Long, Double]
    for (_ <- 1 to 4) {
      val ar = w.toSeq.groupBy(_._1._2).map { case (s2, es) =>
        s2 -> es.map { case ((c, _), cw) => cw * hub(c) }.sum }
      val am = ar.values.max
      auth = ar.map { case (k, v) => k -> v / am }
      val hr = w.toSeq.groupBy(_._1._1).map { case (c, es) =>
        c -> es.map { case ((_, s2), cw) => cw * auth(s2) }.sum }
      val hm = hr.values.max
      hub = hr.map { case (k, v) => k -> v / hm }
    }
    val expH = hub.toSeq.map { case (n, v) => (n, r4(v)) }
      .sortBy { case (n, v) => (-v, n) }.take(10)
      .map { case (n, v) => ("hub", n, v) }
    val expA = auth.toSeq.map { case (n, v) => (n, r4(v)) }
      .sortBy { case (n, v) => (-v, n) }.take(10)
      .map { case (n, v) => ("authority", n, v) }
    val got = SparkEntry.queries("q201_hits")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    // float sums associate differently across engines/partitionings; the
    // ROUNDED scores and the pick sets must agree
    assert(got.filter(_._1 == "hub").toSet == expH.toSet, "hub top-10 diverges")
    assert(got.filter(_._1 == "authority").toSet == expA.toSet, "authority top-10 diverges")
  }

  test("q199 dedup kappa matches the closed-form recompute on sf0.001") {
    // independent plain-Scala recompute of both raters and Cohen's kappa
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("text").collect().map(_.getString(0))
    def key(t: String, n: Int, suffix: Boolean): String = {
      val w = t.split(" ", -1)
      (if (suffix) w.takeRight(n) else w.take(n)).mkString(" ")
    }
    val pc = docs.groupBy(key(_, 4, suffix = false)).map { case (k, v) => k -> v.length }
    val sc = docs.groupBy(key(_, 2, suffix = true)).map { case (k, v) => k -> v.length }
    val flags = docs.map(t => (
      if (pc(key(t, 4, suffix = false)) > 1) 1 else 0,
      if (sc(key(t, 2, suffix = true)) > 1) 1 else 0))
    val n = flags.length.toDouble
    val n11 = flags.count(f => f._1 == 1 && f._2 == 1)
    val n00 = flags.count(f => f._1 == 0 && f._2 == 0)
    val n10 = flags.count(f => f._1 == 1 && f._2 == 0)
    val n01 = flags.count(f => f._1 == 0 && f._2 == 1)
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val po = r4((n00 + n11) / n)
    val pe = r4(((n10 + n11).toDouble * (n01 + n11)
      + (n00 + n01).toDouble * (n00 + n10)) / (n * n))
    val row = Dedup.dedupKappa(spark, sf).collect()(0)
    assert((row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3)) ==
      ((n00.toLong, n01.toLong, n10.toLong, n11.toLong)), "contingency table diverges")
    assert(row.getDouble(5) == po && row.getDouble(6) == pe, "po/pe diverge")
    assert(row.getDouble(7) == r4((po - pe) / (1.0 - pe)), "kappa diverges")
  }
}
