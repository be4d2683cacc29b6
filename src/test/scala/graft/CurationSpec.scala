package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.llm.{Curation, Dedup}

/** Verifies the corpus-curation operators (q132–q135) beyond their SQL
  * oracles: permutation/partition-function invariants, determinism across
  * partition layouts, and the near-dup composition of the leakage-safe
  * split. */
class CurationSpec extends AnyFunSuite with LocalSpark {

  private val sf = "/root/testdata/sf0.001"

  test("q132: epoch shard emits a bijection — every doc once, pos dense per shard") {
    val out = Curation.epochShard(spark, sf).cache()
    try {
      val total = graft.core.Tables.documents(spark, sf).count()
      assert(out.count() == total, "epoch shuffle dropped or duplicated documents")
      assert(out.select("doc_id").distinct().count() == total)
      // pos is exactly 1..n within each shard (dense, no gaps/ties)
      val bad = out.groupBy("shard")
        .agg(count(lit(1)).as("n"), min("pos").as("mn"), max("pos").as("mx"),
          countDistinct("pos").as("nd"))
        .filter(col("mn") =!= 1 || col("mx") =!= col("n") || col("nd") =!= col("n"))
      assert(bad.isEmpty, s"non-dense shard positions: ${bad.collect().mkString}")
    } finally out.unpersist(false)
  }

  test("q132: assignment is partition-layout independent (determinism contract)") {
    val a = Curation.epochShard(spark, sf).collect().map(_.toSeq).toSet
    val b = Curation.epochShard(spark, sf)
      .repartition(3).collect().map(_.toSeq).toSet
    assert(a == b, "epoch shuffle depends on partition layout")
  }

  test("q133: bucket caps bound their contents and waste is in [0, 1)") {
    val rows = Curation.lengthBuckets(spark, sf).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (cap, nDocs, sumTok, padded, waste) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
      assert(padded == nDocs * cap)
      assert(sumTok <= padded, s"bucket $cap holds docs longer than its cap")
      assert(waste >= 0.0 && waste < 1.0, s"waste_frac $waste out of range")
    }
  }

  test("q134: logistic score matches a plain-Scala recompute of the frozen model") {
    val docs = graft.core.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = docs.map { case (id, text) =>
      val tf = text.toLowerCase.split(" ").filter(_.nonEmpty)
        .groupBy(identity).map { case (_, v) => v.length }
      val n = tf.sum.toDouble
      val z = -1.2 + 3.0 * (tf.size / n) + 0.8 * math.log(n) - 2.5 * (tf.max / n)
      val score = math.floor(1.0 / (1.0 + math.exp(-z)) * 10000 + 0.5) / 10000.0
      id -> score
    }
    val got = Curation.qualityLogit(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got == expected, "distributed logistic scores diverge from the model")
  }

  test("q135: no sha-group straddles the split and counts reconcile") {
    val docs = graft.core.Tables.documents(spark, sf)
      .select(col("doc_id"), sha2(col("text"), 256).as("g"))
    val assigned = Curation.groupSplit(docs, "doc_id", "g")
    val straddling = assigned.groupBy("g")
      .agg(countDistinct("split").as("k")).filter(col("k") > 1)
    assert(straddling.isEmpty, "a duplicate group leaked across the split")
    val profile = Curation.leakageSplit(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(profile.values.map(_._2).sum == docs.count(),
      "split profile does not cover the corpus")
    val perSplit = assigned.groupBy("split").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(profile.view.mapValues(_._2).toMap == perSplit,
      "q135 profile disagrees with per-document assignment")
  }

  test("q136: novelty matches a brute-force trigram df recompute") {
    val docs = graft.core.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val shingles = docs.map { case (id, text) =>
      val t = text.split(" ")
      id -> t.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    }.filter(_._2.nonEmpty).toMap
    val df = shingles.values.flatten.groupBy(identity).map { case (k, v) => k -> v.size }
    val expected = shingles.map { case (id, sh) =>
      val novel = sh.count(df(_) == 1).toLong
      (id, sh.size.toLong, novel,
        math.floor(novel.toDouble / sh.size * 10000 + 0.5) / 10000.0)
    }.toSet
    val got = Curation.ngramNovelty(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == expected, "distributed novelty diverges from brute force")
  }

  test("shingledN contract: per-doc distinct + <n-token docs dropped (q136 precondition)") {
    // q136's single-shuffle rewrite recovers a df==1 shingle's owner via
    // min(doc_id), which is only sound if a document can never contribute
    // the same shingle twice. Pin that here against a doc that repeats its
    // trigrams, plus a doc too short to shingle at all.
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c a b c a b c"), // every trigram occurs ≥2 times pre-dedup
      (2L, "x y"),               // < 3 tokens: must be dropped entirely
      (3L, "p q r s")
    ).toDF("doc_id", "text")
    val sh = Dedup.shingledN(docs, 3).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(!sh.contains(2L), "shingledN kept a doc shorter than n tokens")
    assert(sh.keySet == Set(1L, 3L))
    for ((id, arr) <- sh)
      assert(arr.distinct == arr, s"doc $id shingle array has duplicates: $arr")
    assert(sh(1L).toSet == Set("a b c", "b c a", "c a b"))
    assert(sh(3L).toSet == Set("p q r", "q r s"))
  }

  test("q149: curate() funnel conserves documents and tokens stage to stage") {
    val rows = Curation.curate(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val stages = Set("00_ingest", "01_quality", "02_dedup", "03_train",
      "03_heldout", "04_rebalanced", "05_packed")
    assert(rows.keySet == stages, s"funnel stages wrong: ${rows.keySet}")
    def docs(k: String) = rows(k)._1
    def toks(k: String) = rows(k)._2
    // monotone funnel: each gate may only drop
    assert(docs("01_quality") <= docs("00_ingest"))
    assert(docs("02_dedup") <= docs("01_quality"))
    // the split is a partition of the deduped corpus — exact on docs AND tokens
    assert(docs("03_train") + docs("03_heldout") == docs("02_dedup"),
      "split lost or duplicated documents")
    assert(toks("03_train") + toks("03_heldout") == toks("02_dedup"),
      "split lost or duplicated tokens")
    assert(docs("04_rebalanced") <= docs("03_train"))
    // packing may not lose a token, and every batch holds ≥1 doc
    assert(toks("05_packed") == toks("04_rebalanced"),
      "packing lost tokens")
    assert(docs("05_packed") <= docs("04_rebalanced") && docs("05_packed") >= 1,
      "batch count out of range")
    // the pipeline actually curates on this corpus (a funnel of no-ops
    // proves nothing); which individual gate fires is corpus-dependent —
    // at sf0.001 every doc clears the quality bar — so assert end-to-end
    assert(docs("04_rebalanced") < docs("00_ingest"),
      "no stage dropped anything — the funnel is a no-op on this corpus")
  }

  test("q149: minhash candidate strategy produces the identical funnel") {
    // the at-scale form (banded-LSH candidates + exact confirm) must agree
    // with the oracle-shaped exact inverted-index join on a bimodal
    // near-dup corpus — LSH recall ≈ 1 at J ≥ 0.4 with 16×2 banding, and
    // the confirm threshold is shared, so any divergence is a bug
    val exact = Curation.curate(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val mh = Curation.curate(spark, sf, candidates = "minhash").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(mh == exact, s"strategy divergence:\n exact=$exact\n minhash=$mh")
  }

  test("q137: rollup subtotals reconcile with the grand total") {
    val rows = Curation.dataCard(spark, sf).collect()
    def level(gs: Int, gl: Int) =
      rows.filter(r => r.getInt(7) == gs && r.getInt(8) == gl)
    val grand = level(1, 1)
    assert(grand.length == 1, "exactly one grand-total row expected")
    val total = grand.head.getLong(2)
    assert(level(0, 0).map(_.getLong(2)).sum == total,
      "leaf rows do not sum to the grand total")
    assert(level(0, 1).map(_.getLong(2)).sum == total,
      "per-source subtotals do not sum to the grand total")
    for (r <- rows) {
      val dup = r.getDouble(6)
      assert(dup >= 0.0 && dup < 1.0, s"dup_frac $dup out of range")
      assert(r.getLong(5) <= r.getLong(2), "n_distinct exceeds n_docs")
    }
  }

  test("q135 composes with q69 connected components for a near-dup-safe split") {
    // group key = near-dup cluster label: every member of a jaccard cluster
    // must land on the same side of the split
    val comps = Dedup.dedupGroups(spark, sf) // (doc_id, group_id)
    val assigned = Curation.groupSplit(comps, "doc_id", "group_id")
    val straddling = assigned.groupBy("group_id")
      .agg(countDistinct("split").as("k")).filter(col("k") > 1)
    assert(straddling.isEmpty, "a near-dup cluster straddles the split")
  }

  test("q142: span-corruption stats match a plain-Scala replay of the mask") {
    val md = java.security.MessageDigest.getInstance("MD5")
    def masked(id: Long, p: Int): Boolean = {
      val h = md.digest(s"sc|$id|$p".getBytes("UTF-8"))
        .take(2).map(b => f"$b%02x").mkString
      h < "2666"
    }
    val expected = graft.core.Tables.documents(spark, sf)
      .select("doc_id", "text").collect().map { r =>
        val id = r.getLong(0)
        val n = r.getString(1).split(" ", -1).length
        val flags = (0 until n).map(masked(id, _))
        val nMasked = flags.count(identity)
        val nSpans = flags.zipWithIndex.count { case (m, i) =>
          m && (i == 0 || !flags(i - 1))
        }
        (id, n, nMasked.toLong, nSpans.toLong,
          (n - nMasked + nSpans).toLong, (nMasked + nSpans + 1).toLong)
      }.toSet
    val got = Curation.spanCorruption(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(got == expected, "span-corruption stats diverge from the replay")
  }

  test("q147: per-source KL matches a plain-Scala recompute") {
    val docs = graft.core.Tables.documents(spark, sf)
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val sw = docs.flatMap { case (s, t) =>
      t.toLowerCase.split(" ").filter(_.nonEmpty).map(w => (s, w)) }
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val corpus = sw.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
    val totals = sw.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val nAll = corpus.values.sum.toDouble
    val expected = totals.map { case (src, nSrc) =>
      val kl = sw.collect { case ((s, w), c) if s == src =>
        val p = c.toDouble / nSrc
        p * math.log(p / (corpus(w) / nAll))
      }.sum
      (src, nSrc, sw.keys.count(_._1 == src).toLong,
        math.floor(kl * 10000 + 0.5) / 10000.0)
    }.toSet
    val got = Curation.corpusDrift(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == expected, "KL drift diverges from the plain-Scala recompute")
  }

  test("q181: DSIR selects candidates only, in score order, deterministically") {
    val out = Curation.dsirSelect(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.nonEmpty && out.length <= 200)
    // selection is FROM the candidate pool (below the target gate)
    val chars = graft.core.Tables.documents(spark, sf)
      .select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.forall { case (id, _, _) => chars(id) < 350 },
      "DSIR must never select a target-slice document")
    // emitted in (score desc, doc_id asc) order — the rounded-cut contract
    assert(out.sliding(2).forall { case Array((i1, _, s1), (i2, _, s2)) =>
      s1 > s2 || (s1 == s2 && i1 < i2) },
      "selection must be totally ordered by (rounded score, doc_id)")
    val again = Curation.dsirSelect(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.sameElements(again), "DSIR must be deterministic across runs")
  }

  test("q183: UniMax water-fill matches a plain-Scala reference and conserves budget") {
    val out = Curation.unimaxAlloc(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).sortBy(_._1)
    // reference: independent plain-Scala closed-form water-fill (exact
    // integers, ascending-capacity prefix scan)
    val pl = graft.core.Tables.documents(spark, sf)
      .groupBy("lang").agg(count(lit(1)).as("n"), sum("n_chars").as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val b = 3 * pl.map(_._3).sum / 2
    val asc = pl.map { case (l, n, c) => (l, n, c, 2 * c) }.sortBy(x => (x._4, x._1))
    val k = asc.length
    var prefix = 0L; var capped = true
    val expected = asc.zipWithIndex.map { case ((l, n, c, cap), i) =>
      capped = capped && cap * (k - i) <= b - prefix
      prefix += (if (capped) cap else 0L)
      (l, n, c, cap, capped)
    }
    val cCapped = expected.filter(_._5).map(_._4).sum
    val m = expected.count(_._5)
    val theta = (b - cCapped) / (k - m)
    val ref = expected.map { case (l, n, c, cap, isCapped) =>
      val a = if (isCapped) cap else theta
      (l, n, c, cap, a, a * 10000 / c)
    }.sortBy(_._1)
    assert(out.toSeq == ref.toSeq, "UniMax diverges from the reference water-fill")
    // budget conservation: within k of B (floor remainder), never over
    val total = out.map(_._5).sum
    assert(total <= b && b - total < k,
      "uncapped floor-division remainder is the only unallocated budget")
    // UniMax regime holds on this corpus: some language capped at full
    // epochs AND some down-sampled below cap (else the constants are
    // degenerate and the operator tests nothing)
    assert(out.exists(r => r._5 == r._4) && out.exists(r => r._5 < r._4))
    assert(out.filter(r => r._5 < r._4).map(_._5).distinct.length == 1,
      "all uncapped languages must share one water level")
  }

  test("q179: trained weights match a plain-Scala reference GD, loss improves") {
    // reference implementation: same features, same decimal(28,12)
    // per-row rounding (HALF_UP, the cast's mode), same BigDecimal sums —
    // the trainer's bit-stability argument replayed on the driver
    val feats = graft.core.Tables.documents(spark, sf)
      .select(col("doc_id"), col("n_chars"),
        explode(split(lower(col("text")), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("doc_id", "n_chars", "word").agg(count(lit(1)).as("tf"))
      .groupBy("doc_id", "n_chars")
      .agg(sum("tf").as("n_tok"), count(lit(1)).as("n_uniq"), max("tf").as("top_tf"))
      .collect()
      .map(r => (if (r.getLong(1) >= 250) 1.0 else 0.0,
        Array(1.0, r.getLong(3).toDouble / r.getLong(2),
          math.log(r.getLong(2).toDouble) / 10.0,
          r.getLong(4).toDouble / r.getLong(2))))
    val n = feats.length.toDouble
    def dec(x: Double): BigDecimal =
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    var w = Array(0.0, 0.0, 0.0, 0.0)
    val expected = (1 to 10).map { it =>
      var g = Array.fill(4)(BigDecimal(0)); var loss = BigDecimal(0); var acc = 0L
      for ((y, x) <- feats) {
        val z = (0 until 4).map(j => w(j) * x(j)).sum
        val p = 1.0 / (1.0 + math.exp(-z))
        for (j <- 0 until 4) g(j) += dec((p - y) * x(j))
        loss += dec(-(y * math.log(math.max(p, 1e-12)) +
          (1.0 - y) * math.log(math.max(1.0 - p, 1e-12))))
        if ((p >= 0.5) == (y == 1.0)) acc += 1
      }
      val l = loss.toDouble / n
      w = Array.tabulate(4)(j => w(j) - 5.0 * g(j).toDouble / n)
      (it, acc, math.floor(l * 1e6 + 0.5) / 1e6,
        math.floor(w(0) * 1e6 + 0.5) / 1e6, math.floor(w(1) * 1e6 + 0.5) / 1e6,
        math.floor(w(2) * 1e6 + 0.5) / 1e6, math.floor(w(3) * 1e6 + 0.5) / 1e6)
    }
    val got = Curation.qualityTrain(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6))).toSeq
    assert(got == expected, s"trainer diverges from reference:\n$got\nvs\n$expected")
    assert(got.last._3 < got.head._3, "loss must improve over training")
    assert(got.last._2 >= got.head._2, "accuracy must not degrade over training")
  }

  test("q228: snake packing conserves the corpus and balances token load") {
    val docs = graft.core.Tables.documents(spark, sf)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tok"))
      .cache()
    try {
      val out = Curation.shardPack(spark, sf).collect()
      // conservation: every doc in exactly one shard, token total preserved
      assert(out.map(_.getLong(1)).sum == docs.count(), "docs dropped/duplicated")
      assert(out.map(_.getLong(2)).sum ==
        docs.agg(sum("n_tok")).collect().head.getLong(0), "token total drifted")
      // all 32 shards populated, ids exactly 0..31
      assert(out.map(_.getInt(0)).sorted.toSeq == (0 until 32), "shard id set")
      // balance: snake dealing bounds the shard-load spread by the largest
      // document; assert the bound AND the practical reading (spread well
      // under one mean shard, i.e. packing beats one-doc granularity)
      val loads = out.map(_.getLong(2))
      val spread = loads.max - loads.min
      val maxDoc = docs.agg(max("n_tok")).collect().head.getLong(0)
      assert(spread <= maxDoc,
        s"spread $spread exceeds the snake bound (max doc $maxDoc)")
      // determinism: a second run (different partitioning) is identical
      val again = Curation.shardPack(
        spark.newSession(), sf).collect()
          .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
      assert(again == out.map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq, "shard assignment is not run-stable")
    } finally docs.unpersist()
  }
}
