package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.SaltedJoin
import graft.functions.GraftExtensions

class OperatorsSpec extends AnyFunSuite with LocalSpark {

  test("driver smoke contract: entry returns rows; every query has a runner") {
    assert(SparkEntry.entry(spark).count() > 0)
    assert(SparkEntry.queries.size == SparkEntry.registry.size, "duplicate query names")
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("salted join == plain inner join (orders x customer)") {
    val sf = "/root/testdata/sf0.001"
    val o = graft.core.Tables.orders(spark, sf)
    val c = graft.core.Tables.customer(spark, sf)
    val plain = o.join(c, col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = SaltedJoin.inner(o, c, "o_custkey", "c_custkey", factor = 4)
      .groupBy("c_mktsegment").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == plain)
  }

  test("bucketed join of co-located tables plans without a shuffle") {
    import graft.operators.Bucketing
    val sf = "/root/testdata/sf0.001"
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force non-broadcast
    try {
      Bucketing.writeBucketed(graft.core.Tables.orders(s2, sf), "orders_b", "o_orderkey")
      Bucketing.writeBucketed(graft.core.Tables.lineitem(s2, sf), "lineitem_b", "l_orderkey")
      val joined = Bucketing.bucketedJoin(s2, "orders_b", "lineitem_b",
        "o_orderkey", "l_orderkey")
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
      assert(joined.count() == graft.core.Tables.lineitem(s2, sf).count())
    } finally {
      s2.sql("DROP TABLE IF EXISTS orders_b")
      s2.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }

  test("stratified sample: fractions bounded, deterministic under a fixed seed") {
    val sf = "/root/testdata/sf0.01"
    val base = graft.core.Tables.documents(spark, sf)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val run = () => SparkEntry.queries("q60_stratified_sample")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val s1 = run()
    assert(s1 == run(), "seeded sampleBy must be deterministic within a session")
    val fractions = Map("en" -> 0.5, "es" -> 0.5, "fr" -> 1.0, "de" -> 1.0, "zh" -> 1.0)
    fractions.foreach { case (lang, f) =>
      val n = base.getOrElse(lang, 0L)
      if (n > 0) {
        val got = s1.getOrElse(lang, 0L).toDouble / n
        if (f == 1.0) assert(got == 1.0, s"$lang: whole stratum must be kept")
        else assert(math.abs(got - f) < 0.2, s"$lang: fraction $got far from $f")
      }
    }
  }

  test("lake compaction shrinks file count and preserves every row") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-compact").toString
    val events = graft.hl7.Pipeline.allEvents(spark)
    // fragment the write: many tasks -> one tiny file each, per partition
    events.repartition(40).write.mode("overwrite")
      .partitionBy("zone", "protocol").parquet(s"$tmp/messages")
    def parquetFiles(): Seq[java.io.File] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else Seq(f).filter(_.getName.endsWith(".parquet"))
      walk(new java.io.File(s"$tmp/messages"))
    }
    val before = parquetFiles().size
    val rowsBefore = spark.read.parquet(s"$tmp/messages")
      .select("message_id", "zone").collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    graft.hl7.Pipeline.compactLake(spark, s"$tmp/messages")
    val after = parquetFiles().size
    val rowsAfter = spark.read.parquet(s"$tmp/messages")
      .select("message_id", "zone").collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(after < before, s"compaction must reduce files: $before -> $after")
    assert(rowsAfter == rowsBefore, "compaction must preserve rows exactly")

    // crash recovery: simulate a death between the two promote renames
    // (table gone, __old holds the data) — the next run must restore first
    val dir = new java.io.File(s"$tmp/messages")
    assert(dir.renameTo(new java.io.File(s"$tmp/messages__old")))
    graft.hl7.Pipeline.compactLake(spark, s"$tmp/messages")
    val rowsRecovered = spark.read.parquet(s"$tmp/messages")
      .select("message_id", "zone").collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(rowsRecovered == rowsBefore, "recovery from __old must preserve rows")
    assert(!new java.io.File(s"$tmp/messages__old").exists(), "__old must be cleaned up")
  }

  test("append during compaction loses nothing (late files carried into the swap)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-compact-race").toString
    val events = graft.hl7.Pipeline.allEvents(spark)
    val (first, late) = {
      val ids = events.select("message_id").distinct()
        .collect().map(_.getString(0)).sorted.toSeq
      val cut = ids(ids.size / 2)
      (events.filter(col("message_id") <= cut), events.filter(col("message_id") > cut))
    }
    first.repartition(10).write.mode("overwrite")
      .partitionBy("zone", "protocol").parquet(s"$tmp/messages")
    // the racing micro-batch commits AFTER the rewrite materialized and
    // RIGHT BEFORE the directory swap — the exact window the old
    // implementation silently dropped
    graft.hl7.Pipeline.compactLake(spark, s"$tmp/messages", 128L << 20, () => {
      late.write.mode("append")
        .partitionBy("zone", "protocol").parquet(s"$tmp/messages")
    })
    val got = spark.read.parquet(s"$tmp/messages")
      .select("message_id").collect().map(_.getString(0)).sorted.toSeq
    val want = events.select("message_id").collect().map(_.getString(0)).sorted.toSeq
    assert(got == want, "rows appended during compaction were dropped by the swap")
  }

  test("range-clustered layout yields files with disjoint key ranges") {
    import graft.operators.Layout
    val sf = "/root/testdata/sf0.001"
    val li = graft.core.Tables.lineitem(spark, sf)
    val tmp = java.nio.file.Files.createTempDirectory("layout").toString
    Layout.sortedWrite(li, s"$tmp/li", 4, "l_shipdate")
    val back = spark.read.parquet(s"$tmp/li")
    assert(back.count() == li.count(), "layout rewrite must preserve rows")
    val ranges = back
      .groupBy(input_file_name().as("f"))
      .agg(min(col("l_shipdate").cast("timestamp").cast("long")).as("lo"),
           max(col("l_shipdate").cast("timestamp").cast("long")).as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(ranges.length > 1, "expected multiple files")
    ranges.sliding(2).foreach { case Array((_, hi), (lo2, _)) =>
      assert(hi <= lo2, s"file ranges overlap: $hi > $lo2")
    }
  }

  test("z-order layout bounds BOTH keys per file tighter than a linear sort") {
    import graft.operators.Layout
    val sf = "/root/testdata/sf0.001"
    val li = graft.core.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey", "l_quantity")
    val tmp = java.nio.file.Files.createTempDirectory("zorder").toString
    Layout.zorderWrite(li, s"$tmp/z", 16, "l_orderkey", "l_partkey")
    Layout.sortedWrite(li, s"$tmp/lin", 16, "l_orderkey")
    def spans(path: String): (Double, Double) = {
      val perFile = spark.read.parquet(path)
        .groupBy(input_file_name())
        .agg(min("l_orderkey").as("alo"), max("l_orderkey").as("ahi"),
          min("l_partkey").as("blo"), max("l_partkey").as("bhi"))
        .collect()
      (perFile.map(r => (r.getLong(2) - r.getLong(1)).toDouble).sum / perFile.length,
        perFile.map(r => (r.getLong(4) - r.getLong(3)).toDouble).sum / perFile.length)
    }
    assert(spark.read.parquet(s"$tmp/z").count() == li.count())
    val (zA, zB) = spans(s"$tmp/z")
    val (linA, linB) = spans(s"$tmp/lin")
    // the z-order contract is BALANCE, not total area: a linear sort pins
    // the first key (tiny span) but every file spans ~the full second-key
    // range; z-order bounds BOTH keys well below their full ranges
    // (measured here: lin ≈ (92, 198-of-199) vs z ≈ (441-of-1499, 76))
    val (fullA, fullB) = (1499.0, 199.0)
    assert(linB > fullB * 0.9, s"fixture no longer exhibits the linear-sort pathology: $linB")
    assert(zB < fullB * 0.5, s"z-order does not bound the second key: $zB vs $linB")
    assert(zA < fullA * 0.5, s"z-order lost the first key entirely: $zA")
  }

  test("dynamic partition overwrite rewrites only the touched partition") {
    import graft.operators.Layout
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("dyn-overwrite").toString
    val t = s"$tmp/lake"
    val v1 = Seq(("ingestion", "m1", 1), ("ingestion", "m2", 2),
                 ("staging", "m1", 10), ("staging", "m2", 20))
      .toDF("zone", "message_id", "rev")
    Layout.overwritePartitions(v1, t, "zone")
    // backfill ONLY the staging zone with reprocessed rows
    val v2 = Seq(("staging", "m1", 11), ("staging", "m3", 30))
      .toDF("zone", "message_id", "rev")
    Layout.overwritePartitions(v2, t, "zone")
    val back = spark.read.parquet(t)
      .select("zone", "message_id", "rev").as[(String, String, Int)]
      .collect().toSet
    assert(back == Set(
      ("ingestion", "m1", 1), ("ingestion", "m2", 2),   // untouched partition
      ("staging", "m1", 11), ("staging", "m3", 30)),    // fully replaced
      s"dynamic overwrite produced $back")
  }

  test("bounded write caps rows per file") {
    import graft.operators.Layout
    val df = spark.range(1000).toDF("id").coalesce(1)
    val tmp = java.nio.file.Files.createTempDirectory("bounded").toString
    Layout.boundedWrite(df, s"$tmp/t", 100)
    val back = spark.read.parquet(s"$tmp/t")
    assert(back.count() == 1000)
    val perFile = back.groupBy(input_file_name()).count()
      .collect().map(_.getLong(1))
    assert(perFile.length >= 10, s"expected >=10 files, got ${perFile.length}")
    assert(perFile.forall(_ <= 100), s"file exceeds cap: ${perFile.max}")
  }

  test("_metadata columns expose file provenance without a UDF") {
    // the hidden `_metadata` struct (file_path/name/size/modification_time)
    // is the supported way to carry storage provenance into the lake —
    // unlike input_file_name() it survives joins and is column-pruned like
    // any other field
    val sf = "/root/testdata/sf0.001"
    val df = spark.read.parquet(s"$sf/nation.parquet")
      .select(col("n_nationkey"), col("_metadata.file_name").as("f"),
        col("_metadata.file_size").as("sz"))
    val rows = df.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getString(1).endsWith(".parquet")))
    assert(rows.forall(_.getLong(2) > 0))
  }

  test("zstd-compressed parquet round-trips and is smaller than uncompressed") {
    val sf = "/root/testdata/sf0.001"
    val li = graft.core.Tables.lineitem(spark, sf)
    val tmp = java.nio.file.Files.createTempDirectory("codec").toString
    li.coalesce(1).write.option("compression", "none").parquet(s"$tmp/raw")
    li.coalesce(1).write.option("compression", "zstd").parquet(s"$tmp/zstd")
    def bytes(p: String): Long = {
      val d = new java.io.File(p)
      d.listFiles.filter(_.getName.endsWith(".parquet")).map(_.length).sum
    }
    assert(spark.read.parquet(s"$tmp/zstd").count() == li.count())
    assert(bytes(s"$tmp/zstd") < bytes(s"$tmp/raw"),
      s"zstd (${bytes(s"$tmp/zstd")}) not smaller than none (${bytes(s"$tmp/raw")})")
  }

  test("malformed-record modes: PERMISSIVE captures, DROPMALFORMED drops, FAILFAST throws") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    // the ingest-robustness contract for semi-structured sources — the
    // JSON twin of the ER7 parser's error-zone branching (A13): bad rows
    // must be quarantined with their raw text, not crash the pipeline
    val lines = Seq("""{"k": 1, "v": "a"}""", """not json at all""", """{"k": 3}""")
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", StringType),
      StructField("_corrupt_record", StringType)))
    val ds = lines.toDS()
    val permissive = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(ds).cache()
    assert(permissive.count() == 3)
    val corrupt = permissive.filter(col("_corrupt_record").isNotNull)
      .select("_corrupt_record").collect().map(_.getString(0))
    assert(corrupt.toSeq == Seq("not json at all"))
    permissive.unpersist()
    val dropped = spark.read.schema(StructType(schema.dropRight(1)))
      .option("mode", "DROPMALFORMED").json(ds)
    assert(dropped.count() == 2)
    val failfast = spark.read.schema(StructType(schema.dropRight(1)))
      .option("mode", "FAILFAST").json(ds)
    intercept[org.apache.spark.SparkException] { failfast.collect() }
  }

  test("parquet schema evolution: mergeSchema unions columns across file generations") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("evolve").toString
    Seq((1L, "a")).toDF("id", "old_col").write.parquet(s"$tmp/t/gen=1")
    Seq((2L, 3.5)).toDF("id", "new_col").write.parquet(s"$tmp/t/gen=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(s"$tmp/t")
    assert(merged.columns.toSet == Set("id", "old_col", "new_col", "gen"))
    val rows = merged.orderBy("id").collect()
    assert(rows(0).getString(merged.columns.indexOf("old_col")) == "a")
    assert(rows(0).isNullAt(merged.columns.indexOf("new_col")))
    assert(rows(1).getDouble(merged.columns.indexOf("new_col")) == 3.5)
    assert(rows(1).isNullAt(merged.columns.indexOf("old_col")))
  }

  test("stableRowIds: dense 0..n-1 ids in key order, no single-task funnel") {
    import graft.operators.Layout
    val sf = "/root/testdata/sf0.001"
    val o = graft.core.Tables.orders(spark, sf)
    val withIds = Layout.stableRowIds(o, 4, "o_orderkey") // unique key
    val rows = withIds.select("row_id", "o_orderkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val n = o.count()
    assert(rows.length == n)
    assert(rows.map(_._1).sorted.toSeq == (0L until n), "ids not dense 0..n-1")
    // id order == key order
    assert(rows.sortBy(_._1).map(_._2).toSeq == rows.map(_._2).sorted.toSeq,
      "row_id order does not follow the key order")
  }

  test("AQE splits a skewed join partition at runtime (skew=true in final plan)") {
    // the runtime half of the skew story (SaltedJoin is the manual half):
    // one key carrying most rows would pin a sort-merge join on one task;
    // AQE's OptimizeSkewedJoin splits that partition from runtime stats.
    // Thresholds lowered so the 100k-row fixture trips the same code path
    // a 100 TB skewed key would.
    import spark.implicits._
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "true")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.2")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
    s2.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    import org.apache.spark.sql.functions.{col, lit, when}
    val skewed = s2.range(100000)
      .withColumn("k", when(col("id") % 10 =!= 0, lit(7L)).otherwise(col("id")))
      .withColumn("pad", col("id").cast("string"))
    val dim = s2.range(100000).select(col("id").as("k"),
      col("id").cast("string").as("dv"))
    // execute THIS frame (count() would build its own QueryExecution and
    // leave this one unfinalized — AQE only materializes skew splits in the
    // executed plan)
    val joined = skewed.join(dim, "k")
    assert(joined.collect().length == 100000)
    val finalPlan = joined.queryExecution.executedPlan.toString
    assert(finalPlan.contains("skew=true"),
      s"AQE did not mark/split the skewed partition:\n$finalPlan")
  }

  test("ANALYZE TABLE feeds exact row/column stats to the optimizer (CBO-ready)") {
    // cbo.enabled is read thread-locally when stats are computed, so set it
    // on THIS session (restored below) rather than a newSession whose conf
    // the lazy stats visitor would never see
    val saved = spark.conf.get("spark.sql.cbo.enabled")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      graft.core.Tables.orders(spark, "/root/testdata/sf0.001")
        .write.mode("overwrite").saveAsTable("orders_cbo")
      spark.sql("ANALYZE TABLE orders_cbo COMPUTE STATISTICS FOR ALL COLUMNS")
      val stats = spark.table("orders_cbo").queryExecution.optimizedPlan.stats
      val n = spark.table("orders_cbo").count()
      assert(stats.rowCount.contains(BigInt(n)),
        s"optimizer does not see the analyzed row count: ${stats.rowCount}")
      assert(stats.attributeStats.nonEmpty, "no column-level stats reached the plan")
      val custStats = stats.attributeStats.find(_._1.name == "o_custkey").map(_._2)
      assert(custStats.exists(_.distinctCount.isDefined),
        "o_custkey NDV missing — join cardinality estimation would be blind")
    } finally {
      spark.sql("DROP TABLE IF EXISTS orders_cbo")
      spark.conf.set("spark.sql.cbo.enabled", saved)
    }
  }

  test("cached temp view scans from InMemoryRelation and stays correct") {
    val li = graft.core.Tables.lineitem(spark, "/root/testdata/sf0.001")
    val expected = li.groupBy("l_returnflag").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    li.createOrReplaceTempView("li_cached")
    spark.catalog.cacheTable("li_cached")
    try {
      val agg = spark.table("li_cached").groupBy("l_returnflag").count()
      val got = agg.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == expected)
      assert(agg.queryExecution.executedPlan.toString.contains("InMemoryRelation"),
        "cached view not served from the in-memory columnar relation")
    } finally spark.catalog.uncacheTable("li_cached")
  }

  test("observe computes named metrics in the same pass as the action") {
    import graft.operators.Metrics
    val sf = "/root/testdata/sf0.001"
    val li = graft.core.Tables.lineitem(spark, sf)
    val (df, obs) = Metrics.observed(li.filter(col("l_quantity") > 0), "scan_metrics",
      Seq(count(lit(1)).as("rows"), sum("l_quantity").as("total_qty"),
          count_if(col("l_discount") > lit(0.05)).as("discounted")))
    val n = df.count()
    val m = obs.get
    assert(m("rows") == n)
    val expectQty = li.agg(sum("l_quantity")).collect()(0).get(0)
    assert(m("total_qty") == expectQty)
    assert(m("discounted").asInstanceOf[Long] > 0)
  }

  test("bloom pre-filter admits every true key and the composed semi join is exact") {
    val sf = "/root/testdata/sf0.001"
    val o = graft.core.Tables.orders(spark, sf).filter(col("o_totalprice") > 150000)
    val c = graft.core.Tables.customer(spark, sf)
    val bf = o.stat.bloomFilter(col("o_custkey").cast("long"), 10000L, 0.03)
    // no false negatives: every build-side key must pass the filter
    val keys = o.select(col("o_custkey").cast("long")).distinct()
      .collect().map(_.getLong(0))
    assert(keys.forall(bf.mightContainLong), "bloom filter dropped a true key")
    // the full operator (pre-filter + exact confirm) equals the plain semi join
    val exact = c.join(o.select(col("o_custkey").as("c_custkey")), Seq("c_custkey"), "left_semi")
      .select("c_custkey").collect().map(_.getLong(0)).toSet
    val composed = SparkEntry.registry.find(_.name == "q71_bloom_semi_join").get
      .run(spark, sf).select("c_custkey").collect().map(_.getLong(0)).toSet
    assert(composed == exact)
  }

  test("HLL sketch estimates are within 5% of exact and union merges losslessly") {
    val sf = "/root/testdata/sf0.001"
    val rows = SparkEntry.registry.find(_.name == "q72_hll_sketch").get
      .run(spark, sf).collect()
    assert(rows.length == 4)
    rows.foreach { r =>
      val approx = r.getAs[Long]("approx_customers").toDouble
      val exact = r.getAs[Long]("exact_customers").toDouble
      assert(math.abs(approx - exact) / exact < 0.05,
        s"${r.getString(0)}: approx $approx vs exact $exact")
    }
  }

  test("stat sketches: CMS never undercounts, freqItems is a superset, approxQuantile holds its rank bound") {
    val sf = "/root/testdata/sf0.001"
    val o = graft.core.Tables.orders(spark, sf)
    // count-min sketch: one-sided error — estimate >= exact, over by <= eps*n
    // (fixed seed makes the check deterministic)
    val cms = o.stat.countMinSketch(col("o_custkey").cast("long"),
      eps = 0.01, confidence = 0.95, seed = 42)
    val exact = o.groupBy("o_custkey").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    exact.foreach { case (k, c) =>
      val est = cms.estimateCount(k)
      assert(est >= c, s"CMS undercounted key $k: $est < $c")
      assert(est <= c + math.ceil(0.02 * n).toLong, s"CMS error blown for $k: $est vs $c")
    }
    // freqItems: every item with frequency > support must be present
    // (statuses are ~33% each in this corpus, so support=0.3 covers all 3)
    val fi = o.stat.freqItems(Array("o_orderstatus"), 0.3)
      .collect()(0).getSeq[String](0).toSet
    assert(Set("O", "F", "P").subsetOf(fi), s"freqItems missed a >30% item: $fi")
    // approxQuantile: returned value's true rank within relativeError
    val Array(est25, est50) = o.stat.approxQuantile("o_totalprice", Array(0.25, 0.5), 0.01)
    val total = o.count().toDouble
    Seq(est25 -> 0.25, est50 -> 0.5).foreach { case (est, q) =>
      val rank = o.filter(col("o_totalprice") <= est).count() / total
      assert(math.abs(rank - q) <= 0.02, s"approxQuantile($q)=$est has rank $rank")
    }
  }

  test("Misra-Gries candidates contain every key above the n/(k+1) guarantee") {
    import spark.implicits._
    // skewed stream: keys 0..9 appear 200x each, a 4000-key uniform tail
    // appears twice each — with k=64 the buffer compresses constantly, and
    // the guarantee still requires the 10 heavy keys (200 > 10000/65) out
    val heavy = (0L until 10L).flatMap(k => Seq.fill(200)(k))
    val tail = (100L until 4100L).flatMap(k => Seq(k, k))
    val xs = scala.util.Random.shuffle(heavy ++ tail)
    val k = 64
    val cands = xs.toDF("x").repartition(8)
      .agg(graft.functions.MisraGries.candidates(col("x"), k).as("c"))
      .head.getSeq[Long](0).toSet
    val n = xs.size
    val counts = xs.groupBy(identity).map { case (key, v) => key -> v.size }
    val mustKeep = counts.collect { case (key, c) if c > n / (k + 1) => key }.toSet
    assert(cands.size <= 2 * k, s"buffer bound violated: ${cands.size}")
    assert(mustKeep.subsetOf(cands),
      s"guarantee violated, missing: ${mustKeep.diff(cands)}")
  }

  test("Misra-Gries sketch MERGE across micro-batches keeps the guarantee with O(k) state (q65c)") {
    import spark.implicits._
    // same skewed stream as above, but sliced into 5 "micro-batches" and
    // folded through the q65c foreachBatch shape: sketch each slice with
    // the map-valued aggregator, merge driver-side. Mergeable-summaries:
    // the merged sketch must still contain every key above n/(k+1) over
    // the WHOLE stream, while every intermediate state stays <= 2k.
    val heavy = (0L until 10L).flatMap(k => Seq.fill(200)(k))
    val tail = (100L until 4100L).flatMap(k => Seq(k, k))
    val xs = scala.util.Random.shuffle(heavy ++ tail)
    val k = 64
    var merged = Map.empty[Long, Long]
    var maxEntries = 0
    xs.grouped(math.ceil(xs.size / 5.0).toInt).foreach { b =>
      val m = b.toDF("x").repartition(4)
        .agg(graft.functions.MisraGries.sketch(col("x"), k).as("m"))
        .head.getMap[Long, Long](0).toMap
      maxEntries = math.max(maxEntries, m.size)
      merged = graft.functions.MisraGries.mergeSketches(merged, m, k)
    }
    val n = xs.size
    val counts = xs.groupBy(identity).map { case (key, v) => key -> v.size }
    val mustKeep = counts.collect { case (key, c) if c > n / (k + 1) => key }.toSet
    assert(merged.size <= 2 * k && maxEntries <= 2 * k,
      s"state bound violated: merged=${merged.size} maxBatch=$maxEntries")
    assert(mustKeep.subsetOf(merged.keySet),
      s"merged-sketch guarantee violated, missing: ${mustKeep.diff(merged.keySet)}")
  }

  test("crc32 matches the java.util.zip reference (no DuckDB oracle exists)") {
    import spark.implicits._
    val samples = Seq("", "hello", "MSH|^~\\&|A|B", "café ☕")
    val got = samples.toDF("s")
      .select(col("s"), crc32(col("s").cast("binary")).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    samples.foreach { s =>
      val ref = new java.util.zip.CRC32()
      ref.update(s.getBytes("UTF-8"))
      assert(got(s) == ref.getValue, s"crc32 mismatch for '$s'")
    }
  }

  test("q182: bipartite LPA matches a plain-Scala reference schedule") {
    val sf = "/root/testdata/sf0.001"
    // reference: the same alternating plurality update, exact integer
    // weights, (wsum desc, label asc) argmax, replayed with plain maps
    val om = graft.core.Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val w = scala.collection.mutable.Map[(Long, Long), Long]().withDefaultValue(0L)
    graft.core.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_suppkey").collect()
      .foreach { r =>
        val k = (om(r.getLong(0)) * 2, r.getLong(1) * 2 + 1)
        w(k) += 1
      }
    val edges = w.toSeq.flatMap { case ((c, s), wt) => Seq((c, s, wt), (s, c, wt)) }
    var lbl = edges.map(_._1).distinct.map(n => n -> n).toMap
    for (_ <- 1 to 5; side <- Seq(1, 0)) {
      val upd = edges.filter(_._2 % 2 == side)
        .groupBy(_._2)
        .map { case (dst, es) =>
          val byLbl = es.groupBy(e => lbl(e._1)).view.mapValues(_.map(_._3).sum)
          dst -> byLbl.toSeq.minBy { case (l, ws) => (-ws, l) }._1
        }
      lbl = lbl.map { case (n, old) => n -> upd.getOrElse(n, old) }
    }
    val sizes = lbl.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val expected = lbl.map { case (n, l) => (n, l, sizes(l)) }.toSet
    val got = SparkEntry.queries("q182_label_prop")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected, s"LPA diverges from reference (got ${got.size} rows)")
    // communities partition the node set
    assert(got.groupBy(_._2).map(_._2.size).sum == lbl.size)
  }

  test("triangle counting == brute-force closure on the collected graph (q185)") {
    val sf = "/root/testdata/sf0.001"
    // rebuild the edge set exactly as the query defines it, then count
    // triangles the O(n³) way on the driver — correct by inspection, the
    // oracle the orientation trick must reproduce
    val li = graft.core.Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    // NB: .filter(...).keys, NOT .collect { case (e, _) => e } — a Map
    // collect yielding a tuple rebuilds a MAP and silently collapses the
    // edge set by its first component
    val edges = li.groupBy(_._1).values.flatMap { items =>
      val ps = items.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j))
    }.groupBy(identity).filter(_._2.size >= 2).keys.toSet
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      .withDefaultValue(Set.empty[Long])
    def linked(a: Long, b: Long) = edges.contains((math.min(a, b), math.max(a, b)))
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    val triPerNode = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    for (u <- nodes; v <- adj(u); w <- adj(u) if v < w && linked(v, w)) {
      triPerNode(u) += 1; triPerNode(v) += 1; triPerNode(w) += 1
    }
    val got = SparkEntry.queries("q185_triangle_count")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val deg = edges.toSeq.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(got.keySet == triPerNode.filter(_._2 > 0).keySet)
    got.foreach { case (n, (dg, tri)) =>
      assert(dg == deg(n) && tri == triPerNode(n), s"node $n: got ($dg,$tri)")
    }
    // every triangle contributes to exactly 3 nodes
    assert(got.values.map(_._2).sum % 3 == 0)
  }

  test("basket rules: plain-Scala replay + lift symmetry (q186)") {
    val sf = "/root/testdata/sf0.001"
    val li = graft.core.Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val nOrders = graft.core.Tables.orders(spark, sf).count()
    val itemC = li.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val pairC = li.groupBy(_._1).values.flatMap { items =>
      val ps = items.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j))
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    // HALF_UP, matching Spark/DuckDB round() — math.rint is half-even and
    // flips exact quarters like 5/32 = 0.15625
    def r4(x: Double) = math.floor(x * 10000 + 0.5) / 10000
    val expected = pairC.toSeq.filter(_._2 >= 3).flatMap { case ((a, b), cab) =>
      Seq((a, b, cab), (b, a, cab))
    }.map { case (a, b, cab) =>
      (a, b, cab, r4(cab.toDouble / itemC(a)),
        r4(nOrders.toDouble * cab / (itemC(a) * itemC(b))))
    }.filter(_._4 >= 0.10).toSet
    val got = SparkEntry.queries("q186_basket_rules")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4))).toSet
    assert(got == expected, s"rules diverge: got ${got.size}, want ${expected.size}")
    // lift is direction-symmetric; confidence is a probability
    val lifts = got.groupBy(t => (math.min(t._1, t._2), math.max(t._1, t._2)))
    lifts.values.foreach { rs => assert(rs.map(_._5).size <= 2 && rs.map(_._5).toSeq.distinct.size == 1) }
    got.foreach(t => assert(t._4 > 0 && t._4 <= 1.0))
  }

  test("custom expressions register at the SQL surface") {
    GraftExtensions.install(spark)
    val h = spark.sql("SELECT rolling_hash('hello world') AS h").collect().head.getLong(0)
    assert(h == graft.functions.RollingHash.reference("hello world"))
    val d = spark.sql("SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .collect().head.getDouble(0)
    assert(d == 11.0)
  }

  test("bloom_might_contain: interpreted == codegen == sketch; zero false negatives") {
    import spark.implicits._
    import graft.functions.{BloomFilters, BloomMightContain}
    import org.apache.spark.sql.catalyst.expressions.Literal
    val keys = (0L until 5000L).filter(_ % 7 == 0)
    val dim = keys.toDF("k")
    val bits = BloomFilters.buildLongBloom(dim, "k", keys.size, 0.01)
    val bloom = org.apache.spark.util.sketch.BloomFilter
      .readFrom(new java.io.ByteArrayInputStream(bits))
    // interpreted eval matches the sketch's own answer on members and
    // non-members alike (fp allowed, fn never)
    (0L until 5000L).foreach { k =>
      val interp = BloomMightContain(Literal(k), bits).eval(null)
      assert(interp == bloom.mightContainLong(k), s"interp != sketch at $k")
      if (k % 7 == 0) assert(interp == true, s"false negative at member $k")
    }
    // codegen path through a real plan: every member survives the filter
    val probe = (0L until 5000L).toDF("k")
      .filter(BloomFilters.bloom_might_contain(bits, col("k")))
    val kept = probe.collect().map(_.getLong(0)).toSet
    assert(keys.forall(kept), "codegen path dropped a member (false negative)")
    // fpp sanity at the built 1%: non-members passing stay well under 5%
    val fps = kept.count(_ % 7 != 0)
    assert(fps <= (5000 - keys.size) * 0.05, s"fp count $fps exceeds 5% bound")
  }

  test("q227: bloom prefilter preserves the exact join result and prunes the fact side") {
    val sf = "/root/testdata/sf0.01"
    val plain = SparkEntry.queries("q227b_plain_semijoin")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val bloomed = SparkEntry.queries("q227_bloom_semijoin")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(plain == bloomed, "bloom prefilter changed join results")
    // the lever's reason to exist: the prefilter passes ~selectivity+fpp
    // of the fact side, not all of it
    import graft.functions.BloomFilters
    val dim = graft.core.Tables.orders(spark, sf)
      .filter(col("o_orderdate") >= lit("1997-03-01").cast("timestamp") &&
              col("o_orderdate") <  lit("1997-03-08").cast("timestamp"))
      .select("o_orderkey")
    val bits = BloomFilters.buildLongBloom(dim, "o_orderkey", dim.count(), 0.01)
    val fact = graft.core.Tables.lineitem(spark, sf)
    val total = fact.count()
    val survived = fact
      .filter(BloomFilters.bloom_might_contain(bits, col("l_orderkey"))).count()
    assert(survived < total / 20,
      s"prefilter kept $survived of $total — no shuffle reduction")
  }
}
