package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode

/** Plan-quality gate: the physical plans that make these queries viable at
  * 100 TB, asserted so a refactor can't silently regress them (builder
  * brief: ".explain the plan and iterate until it's the plan you'd want").
  */
class PlanQualitySpec extends AnyFunSuite with LocalSpark {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    planOf(SparkEntry.queries(name)(spark, sf))

  private def planOf(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  /** The near-dup/ANN entries are eager (cache-leak fix) — their registered
    * form returns a materialized local relation, so plan assertions go
    * through the lazy `…Plan` builders; unpersist what they cached. */
  private def lazyPlan(build: (SparkSession, String) => (DataFrame, Seq[DataFrame])): String = {
    val (df, cached) = build(spark, sf)
    try planOf(df) finally cached.foreach(_.unpersist(false))
  }

  test("q182b and the Explain consumer of its phase plan leave no table behind") {
    def tables = spark.catalog.listTables().collect().map(_.name).toSet
    val before = tables
    SparkEntry.queries("q182b_label_prop_copart")(spark, sf).collect()
    val q = SparkEntry.registry.find(_.name == "q182b_label_prop_copart").get
    Explain.planOf(q, spark, sf)(PlanStats.stats(spark, _))
    assert(tables == before, s"tables left behind: ${tables -- before}")
  }

  test("q01: filter and projection reach the parquet scan") {
    val p = plan("q01_scan_filter")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate"),
      s"filter not pushed:\n$p")
    // projection pruned to exactly the 5 output columns (timestamp may
    // surface as ntz depending on parquet metadata)
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint," +
      "l_quantity:double,l_extendedprice:double,l_shipdate:timestamp"),
      s"scan reads more than the projection:\n$p")
  }

  test("q05: every dimension join is a broadcast join, fact side never shuffles for a join") {
    val p = plan("q05_broadcast_star")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, s"expected 3+ broadcast joins:\n$p")
    assert(!p.contains("SortMergeJoin"), s"sort-merge join crept into the hinted star:\n$p")
  }

  test("q14: global top-k plans as TakeOrderedAndProject (no global sort)") {
    val p = plan("q14_topk")
    assert(p.contains("TakeOrderedAndProject"), s"top-k fell back to a global sort:\n$p")
  }

  test("q02: aggregation is two-phase (map-side partial before the exchange)") {
    val p = plan("q02_agg_pricing")
    assert(p.contains("partial_sum") || p.contains("Functions [7]: [partial_"),
      s"no partial aggregation before shuffle:\n$p")
  }

  test("near-dup joins are equi-joins — no cartesian/nested-loop anywhere") {
    val plans = Seq(
      "q36_minhash_neardup" -> lazyPlan(graft.llm.Dedup.minhashNearDupPlan),
      "q37_simhash_neardup" -> lazyPlan(graft.llm.Dedup.simhashNearDupPlan),
      "q38_cosine_neardup" -> plan("q38_cosine_neardup"),
      "q125_semdedup" -> plan("q125_semdedup"),
      "q128_incremental_neardup" -> lazyPlan(graft.llm.Dedup.incrementalNearDupPlan))
    for ((q, p) <- plans) {
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q has a nested-loop join:\n$p")
    }
  }

  test("q07/q08: planned as semi/anti joins, not row-multiplying inner joins") {
    assert(plan("q07_semi_join").contains("LeftSemi"))
    assert(plan("q08_anti_join").contains("LeftAnti"))
  }

  test("q55: exact jaccard is ONE inverted-index equi-join — sizes ride the explode") {
    val p = plan("q55_ngram_jaccard")
    assert(!p.contains("CartesianProduct"), s"q55 has a cartesian product:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"q55 has a nested-loop join:\n$p")
    // the union term must come from carried columns, not per-doc side-table
    // joins (a per-document broadcast is O(corpus) — the round-2 shape);
    // count join nodes in the simple tree (one line per operator)
    val simple = SparkEntry.queries("q55_ngram_jaccard")(spark, sf)
      .queryExecution.explainString(ExplainMode.fromString("simple"))
    val joins = simple.linesIterator.count(_.contains("Join"))
    assert(joins == 1, s"expected exactly one join (the shingle self-join), got $joins:\n$simple")
  }

  test("q124: single span-stream pass — no join, window rides the sk partitioning") {
    val p = plan("q124_dup_spans")
    assert(!p.contains("Join"), s"q124 reintroduced a join (double span scan):\n$p")
    // one Generate: the span explode is evaluated once, not per consumer
    // (count the formatted-plan DETAIL headers "(n) Generate" — tree lines
    // carry "+-" prefixes, the q137 lesson)
    val generates = p.linesIterator.count(_.matches("""\(\d+\) Generate\s*"""))
    assert(generates == 1, s"expected exactly one Generate, got $generates:\n$p")
    assert(p.contains("Window"), s"q124 lost the per-sk occurrence window:\n$p")
    assert(p.contains("partial_"), s"no partial aggregation before shuffle:\n$p")
    // the window must NOT add its own exchange: exactly the sk repartition
    // and the final doc_id aggregation shuffle
    val exchanges = p.linesIterator.count(_.matches("""\(\d+\) Exchange\s*"""))
    assert(exchanges == 2, s"expected 2 exchanges (sk, doc_id), got $exchanges:\n$p")
  }

  test("q138: one bigram explode behind reused exchanges; corpus never broadcast") {
    // Exchange reuse is an AQE *runtime* decision (stage cache keyed on the
    // canonicalized exchange): the initial plan legitimately shows the
    // bigram subtree once per consumer, and only the final executed plan
    // proves the dedup. Execute, then assert on the final-plan section.
    val df = SparkEntry.queries("q138_ppl_buckets")(spark, sf)
    df.collect()
    val whole = df.queryExecution.executedPlan.toString
    val cut = whole.indexOf("== Initial Plan ==")
    val p = if (cut >= 0) whole.substring(0, cut) else whole
    val generates = p.linesIterator.count(_.contains("Generate wordngrams"))
    assert(generates == 1,
      s"expected exactly one Generate in the final plan (all other consumers " +
        s"must hit ReusedExchange), got $generates:\n$p")
    assert(p.contains("ReusedExchange"),
      s"q138 lost exchange reuse — the bigram stream is scanned per consumer:\n$p")
    // the model join must not broadcast the corpus-derived perDoc side
    // (Generate's size lie picks it statically); shuffle_hash pins the
    // vocabulary-sized model as the build side
    assert(p.contains("ShuffledHashJoin"),
      s"q138 model join lost its shuffled hash shape:\n$p")
  }

  test("q56: LSH candidate generation is a broadcast equi-join + TakeOrdered top-k") {
    val p = lazyPlan((s, d) => graft.llm.Similarity.knnLshPlan(s, d))
    assert(!p.contains("CartesianProduct"), s"q56 has a cartesian product:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"q56 top-k fell back to a global sort:\n$p")
  }

  test("q139b: probe-fed hard negatives never scan-join the corpus — broadcast bucket probe only") {
    val p = lazyPlan((s, d) => graft.llm.Similarity.hardNegativesLshPlan(s, d))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q139b fell back to an all-pairs corpus join:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"probe set is not broadcast:\n$p")
  }

  test("q57: array scalar family runs map-side — zero exchanges") {
    val p = plan("q57_array_extra")
    assert(!p.contains("Exchange"), s"pure per-row projection must not shuffle:\n$p")
  }

  test("q126: weighted acceptance sampling is pure map-side — zero exchanges") {
    val p = plan("q126_importance_sample")
    assert(!p.contains("Exchange"), s"per-row hash acceptance must not shuffle:\n$p")
  }

  test("q127: keep-first window is partitioned by the segment — never global") {
    val p = plan("q127_segment_dedup")
    // the row_number window must carry a partition spec (the segment value);
    // an unpartitioned window is the single-task funnel q115 was cured of
    assert(p.contains("row_number"), s"q127 lost its keep-first window:\n$p")
    assert("windowspecdefinition\\(seg#\\d+".r.findFirstIn(p).isDefined,
      s"keep-first window is not partitioned by seg:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q127 grew a pair join — it must stay window + groupBy:\n$p")
  }

  test("q129: rate aggregates broadcast back onto the scan — no sort-merge join") {
    val p = plan("q129_mixture_rebalance")
    // per-language counts and corpus totals are tiny aggregates; joining
    // them to the fact scan must broadcast, never shuffle the fact side
    assert(p.contains("BroadcastHashJoin"), s"q129 lost its broadcast rate join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"q129 shuffles the fact side for a join:\n$p")
  }

  test("q131: per-source cap windows by source and prunes with WindowGroupLimit") {
    val p = plan("q131_source_cap")
    assert("windowspecdefinition\\(source#\\d+".r.findFirstIn(p).isDefined,
      s"cap window is not partitioned by source:\n$p")
    // rk <= 10 must prune map-side before the shuffle (rank-limit pushdown),
    // not materialize every row through the window
    assert(p.contains("WindowGroupLimit"), s"rank filter not pushed down:\n$p")
  }

  test("q59: hash split aggregates partially before the exchange") {
    val p = plan("q59_hash_split")
    assert(p.contains("partial_"), s"no partial aggregation before shuffle:\n$p")
  }

  test("q73: LATERAL decorrelates to group-limited window join — no per-row subquery") {
    val p = plan("q73_lateral_topk")
    // WindowGroupLimit prunes each group to k rows BEFORE the final rank
    // filter (and a partial one runs pre-shuffle) — the shape that holds
    // when the fact side is 100 TB
    assert(p.contains("WindowGroupLimit"), s"no group-limit pushdown:\n$p")
    assert(!p.contains("CartesianProduct"), s"lateral fell back to cartesian:\n$p")
  }

  test("q76: custom generator plans as Generate with partial agg before the shuffle") {
    val p = plan("q76_ngram_tvf")
    assert(p.contains("Generate") && p.contains("wordngrams"),
      s"word_ngrams did not plan as a Generate:\n$p")
    assert(p.contains("partial_count"), s"no map-side combine under the generate:\n$p")
    assert(p.contains("ReadSchema: struct<text:string>"),
      s"scan not pruned to the text column:\n$p")
  }

  test("q71: probe side keeps its pushed filter; confirm join is broadcast semi") {
    val p = plan("q71_bloom_semi_join")
    assert(p.contains("LeftSemi"), s"confirm join is not a semi join:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice"),
      s"build-side predicate not pushed to the orders scan:\n$p")
  }

  test("q77: variant extraction is map-side only — zero exchanges") {
    val p = plan("q77_variant")
    assert(!p.contains("Exchange"), s"pure per-row variant projection must not shuffle:\n$p")
  }

  test("q88: chunking is map-only — zero exchanges") {
    val p = plan("q88_chunk")
    assert(!p.contains("Exchange"), s"chunker shuffles:\n$p")
  }

  test("q38: pair join is tiled — 3-key equi-join on (label, t1, t2), not label alone") {
    // label-only blocking funnels a hot label's whole n² pair space through
    // one task; the triangle tiling adds (t1, t2) to the join key so the
    // block spreads over G(G+1)/2 shuffle-independent tiles
    val p = plan("q38_cosine_neardup")
    assert(p.contains("keys [3]"), s"pair join is not the 3-key tiled equi-join:\n$p")
  }

  test("q100: vocabulary top-k cuts via TakeOrdered before any window") {
    // the rank/coverage windows must run over the 20-row top-k, never the
    // full (unbounded at scale) vocabulary — the cut is a per-partition
    // heap merge, not a global sort or an unpartitioned full-table window
    val p = plan("q100_vocab")
    assert(p.contains("TakeOrderedAndProject"), s"top-k fell back to a global sort:\n$p")
  }

  test("q141: eval set broadcast, corpus argmax pre-reduced before the exchange") {
    val p = plan("q141_semantic_decontam")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"q141 lost the broadcast cross against the bounded eval set:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"q141 shuffles or cartesians the corpus:\n$p")
    assert(!p.contains("Window"), s"q141 grew a window — argmax must be a partial max:\n$p")
    assert(p.contains("partial_max"),
      s"per-vector argmax is not map-side-reduced before the exchange:\n$p")
  }

  test("q142: span corruption is map-side — no join, no window, one exchange") {
    val p = plan("q142_span_corruption")
    assert(!p.contains("Join"), s"q142 grew a join — mask(p-1) must be recomputed:\n$p")
    assert(!p.contains("Window"), s"q142 grew a window — the mask is hash-derived:\n$p")
    val exchanges = p.linesIterator.count(_.matches("""\(\d+\) Exchange\s*"""))
    assert(exchanges == 1, s"expected exactly 1 exchange (the doc_id agg), got $exchanges:\n$p")
  }

  test("q143: both rank directions are partitioned windows over one scored block") {
    val p = plan("q143_bitext_mine")
    assert(p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"q143 scoring block is not a broadcast cross:\n$p")
    assert("windowspecdefinition\\(x_id#\\d+".r.findFirstIn(p).isDefined,
      s"x-direction window is not partitioned by x_id:\n$p")
    assert("windowspecdefinition\\(y_id#\\d+".r.findFirstIn(p).isDefined,
      s"y-direction window is not partitioned by y_id:\n$p")
  }

  test("q144: packed assembly is window-free like q115 (shared prefix assignment)") {
    val p = plan("q144_pack_assembly")
    assert(!p.contains("Window"), s"pack assembly regressed to a window:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"q144 glued text back with a join — payload must ride the prefix shuffle:\n$p")
  }

  test("q115: token packing is window-free (two-pass shard prefix sum)") {
    // the naive cumsum spelling is an UNPARTITIONED window — a single-task
    // funnel over every document; the shipped plan must contain no
    // WindowExec at all (prefix sums run per shard + broadcast offsets)
    val p = plan("q115_token_packing")
    assert(!p.contains("Window"), s"token packing regressed to a window:\n$p")
  }

  test("q87: BM25 term filter lands before the tf aggregation") {
    val p = plan("q87_bm25")
    // the posting-list restriction must precede the first shuffle: the IN
    // filter shows up as a Filter over the exploded tokens, and the tf
    // HashAggregate above it is partial
    assert("""word#\d+ IN \(spark,vector,merge\)""".r.findFirstIn(p).isDefined,
      s"term filter missing from plan:\n$p")
    assert(p.contains("partial_count"), s"tf aggregation not two-phase:\n$p")
  }

  test("q94: histogram aggregates partially before the exchange") {
    val p = plan("q94_width_bucket")
    assert(p.contains("partial_count"), s"no partial aggregation:\n$p")
  }

  test("q97: SQL EXISTS/NOT EXISTS decorrelate to semi/anti joins") {
    val p = plan("q97_exists_subquery")
    assert(p.contains("LeftSemi"), s"EXISTS not decorrelated to semi join:\n$p")
    assert(p.contains("LeftAnti"), s"NOT EXISTS not decorrelated to anti join:\n$p")
  }

  test("q104: last-change-wins plans as WindowGroupLimit (top-1 pruned before the shuffle)") {
    val p = plan("q104_cdc_merge")
    // rk = 1 over a row_number window lowers to WindowGroupLimit: each map
    // task keeps only its per-key best row, so the shuffle carries ~1 row
    // per (partition, key) instead of the whole changelog
    assert(p.contains("WindowGroupLimit"), s"CDC merge shuffles the full changelog:\n$p")
  }

  test("q121: referential-integrity check plans as an anti join") {
    val p = plan("q121_dq_audit")
    assert(p.contains("LeftAnti"), s"orphan check not an anti join:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in the audit:\n$p")
  }

  test("q110: cohort retention aggregates partially before both shuffles") {
    val p = plan("q110_cohort_retention")
    assert(p.contains("partial_min"),
      s"cohort assignment not partially aggregated:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q132: epoch-shuffle window is partitioned by shard — never global") {
    val p = plan("q132_epoch_shard")
    assert("windowspecdefinition\\(shard#\\d+".r.findFirstIn(p).isDefined,
      s"epoch window is not partitioned by shard:\n$p")
  }

  test("q133/q135: curation profiles are join-free partial-agg pipelines") {
    for (q <- Seq("q133_length_buckets", "q135_leakage_split")) {
      val p = plan(q)
      assert(p.contains("partial_"), s"$q: no map-side combine:\n$p")
      assert(!p.contains("Join"), s"$q grew a join — must stay scan + agg:\n$p")
      assert(!p.contains("Window"), s"$q grew a window:\n$p")
    }
  }

  test("q134: logistic inference is groupBy + map — no window, no join, partial agg") {
    val p = plan("q134_quality_logit")
    assert(p.contains("partial_"), s"no map-side combine under the explode:\n$p")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"inference must not join or window:\n$p")
  }

  test("q136: novelty is ONE wide shuffle — exploded stream exchanged on shingle exactly once") {
    val p = plan("q136_ngram_novelty")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q136 grew a pair join:\n$p")
    assert(p.contains("partial_"), s"df aggregation has no map-side combine:\n$p")
    // df==1 shingles carry their unique owner via min(doc_id): novelty counts
    // come off the shingle aggregation directly — the corpus-token-sized
    // stream must cross the wire exactly once
    assert("hashpartitioning\\(shingle#\\d+".r.findAllIn(p).size == 1,
      s"q136 shuffles the exploded shingle stream more than once:\n$p")
  }

  test("kmeans/PQ centroid update shuffles whole vectors — typed-agg partial, no posexplode") {
    import spark.implicits._
    val assigned = Seq((0L, Seq(1.0, 2.0)), (1L, Seq(3.0, 4.0)), (0L, Seq(5.0, 6.0)))
      .toDF("cent_id", "v")
    val p = planOf(graft.llm.Similarity.centroidUpdate(assigned))
    // the update must aggregate whole arrays (one buffer row per partition
    // per centroid), never explode to per-element rows: rows ∝ partitions·k,
    // not n·dim
    assert(!p.contains("Generate"), s"centroid update explodes per element:\n$p")
    assert(p.contains("ObjectHashAggregate"), s"typed aggregator not planned:\n$p")
    assert(p.toLowerCase.contains("partial"), s"no map-side partial sum:\n$p")
  }

  test("q137: data card is one scan through Expand — no self-join for subtotals") {
    val p = plan("q137_data_card")
    assert(p.contains("Expand"), s"rollup did not expand in the aggregation:\n$p")
    assert(!p.contains("Join"), s"data card must not join:\n$p")
    // one Location: line per scan node in the formatted detail section
    assert(p.linesIterator.count(_.trim.startsWith("Location:")) == 1,
      s"data card scans the corpus more than once:\n$p")
  }

  test("q147: drift folds out of ONE (source,word) aggregation — reused exchange, broadcast side tables") {
    // exchange reuse is an AQE runtime decision: execute, assert final plan
    val df = SparkEntry.queries("q147_corpus_drift")(spark, sf)
    df.collect()
    val whole = df.queryExecution.executedPlan.toString
    val cut = whole.indexOf("== Initial Plan ==")
    val p = if (cut >= 0) whole.substring(0, cut) else whole
    assert(p.contains("ReusedExchange"),
      s"q147 lost exchange reuse — the corpus is tokenized per consumer:\n$p")
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1,
      s"q147 must scan documents exactly once in the final plan:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"q147 side tables must broadcast, not sort-merge:\n$p")
  }

  test("q148: centroid drift shuffles the exploded vectors once — reused exchange, one Generate") {
    val df = SparkEntry.queries("q148_embedding_drift")(spark, sf)
    df.collect()
    val whole = df.queryExecution.executedPlan.toString
    val cut = whole.indexOf("== Initial Plan ==")
    val p = if (cut >= 0) whole.substring(0, cut) else whole
    assert(p.contains("ReusedExchange"),
      s"q148 lost exchange reuse — the vectors are re-exploded per consumer:\n$p")
    assert(p.linesIterator.count(_.contains("Generate")) == 1,
      s"q148 must posexplode exactly once in the final plan:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"q148 centroid join must broadcast, not sort-merge:\n$p")
  }

  /** Blanket sweep: the targeted gates above pin ~40 named plans; this
    * loop closes the induction gap for the REST of the registry (and for
    * every future registration) — no plan anywhere may contain an
    * unpartitioned WindowExec (moves the whole input to one task) or a
    * CartesianProduct / BroadcastNestedLoopJoin (quadratic pair work)
    * unless the site is whitelisted below with a boundedness argument.
    *
    * Eager queries (localCheckpoint/eagerTopK entries) are swept on their
    * lazy `…Plan` builders via Explain.lazyPlans where one exists — the
    * registered form's plan is a bare scan of the materialized result.
    * Compositions (q114, q149*) replay constituent plans that the sweep
    * already covers standalone; subtrees hidden behind cache/checkpoint
    * boundaries (InMemoryRelation) are covered the same way. The walk is
    * the pre-AQE physical plan including expression subqueries. */
  test("blanket sweep: no unpartitioned window / cartesian / nested-loop in any registered plan") {
    import org.apache.spark.sql.catalyst.expressions.PlanExpression
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    // Whitelisted (query, operator) sites — each bounded by construction
    // (audited at the named source line; a NEW query hitting these
    // operators fails the sweep until its own bounded-ness is argued here):
    val allow: Set[(String, String)] = Set(
      // ANN family (Similarity.scala): the nested-loop is
      // crossJoin(broadcast(q)) — a single query-vector row — or the
      // centroid assignment crossJoin(broadcast(cents)) with k ≈ √n
      // centroids (the documented IVF n^1.5 balance; q98 k-means uses the
      // same shape with constant k). The global windows rank the bounded
      // post-shortlist candidate set (≤ tables·2^bits buckets / top-N
      // limit upstream), never the corpus.
      ("q39_knn_brute", "global-window"), ("q39_knn_brute", "nested-loop"),
      ("q40_knn_ivf", "global-window"), ("q40_knn_ivf", "nested-loop"),
      ("q56_knn_lsh", "global-window"),
      ("q70_knn_quantized", "global-window"), ("q70_knn_quantized", "nested-loop"),
      ("q130_knn_pq", "global-window"), ("q130_knn_pq", "nested-loop"),
      ("q98_ivf_train", "nested-loop"),
      ("q170_incremental_ivf", "nested-loop"), // same k-centroid broadcast as q98

      ("q139_hard_negatives", "nested-loop"),
      // Bitext/decontam (Similarity.scala:726,775): query/heldout side is
      // a label-bounded tiny frame, broadcast by hint.
      ("q141_semantic_decontam", "nested-loop"), ("q143_bitext_mine", "nested-loop"),
      // Single-row grand-total / corpus-stats broadcasts:
      // TextAnalysis.scala:218 (vocab total), Retrieval.scala:54,101
      // (tfidf/bm25 N+avgdl), Retrieval.scala:613 (ppl cuts),
      // Curation.scala:400,504 (mixture totals), Relational6 q65 /
      // Relational7 q72 (sketch-vs-exact compare row).
      ("q100_vocab", "nested-loop"), ("q86_tfidf", "nested-loop"),
      ("q87_bm25", "nested-loop"), ("q138_ppl_buckets", "nested-loop"),
      ("q129_mixture_rebalance", "nested-loop"), ("q65_heavy_hitters", "nested-loop"),
      ("q72_hll_sketch", "nested-loop"), ("q147_corpus_drift", "nested-loop"),
      // Post-limit / sketch-output rank windows — input is ≤ 20 rows by
      // construction: TextAnalysis.scala:217 (top-20 via
      // TakeOrderedAndProject FIRST), Relational11 q116 (≤ 5 sketch rows),
      // Retrieval.scala:346 (q122 fuses two bounded top-k lists).
      ("q100_vocab", "global-window"), ("q116_approx_top_k", "global-window"),
      ("q122_hybrid_rrf", "global-window"), ("q122_hybrid_rrf", "nested-loop"),
      // KMV overlap matrix (Relational7 q162): the theta pair join runs
      // over the per-source SKETCH frames — S rows of ≤ k longs each
      // (S = source cardinality, 5 here), never the corpus.
      ("q162_kmv_overlap", "nested-loop"),
      // Campaign interval-overlap join (Relational4 q171): the broadcast
      // side is the 4-row campaign dimension; at scale the q09 banding
      // replaces the theta join (documented at the site).
      ("q171_campaign_overlap", "nested-loop"),
      // Neyman allocation (Curation q172): the largest-remainder rank
      // window runs over the STRATUM table (source cardinality, 20 rows);
      // the nested-loops are single-row grand-total broadcasts.
      ("q172_neyman_sample", "global-window"),
      ("q172_neyman_sample", "nested-loop"),
      // Vocab coverage (TextAnalysis q173): rank/cumulative windows run
      // post-TakeOrderedAndProject (<= 80 rows); grand total is a
      // single-row broadcast — the q100 pattern.
      ("q173_vocab_coverage", "global-window"),
      ("q173_vocab_coverage", "nested-loop"),
      // PMI / Kneser-Ney (Retrieval q178/q180): the nested-loop is the
      // single-row grand-total broadcast (Σc12 / distinct-bigram-type
      // count) — the q100/q86 pattern; the top-k is TakeOrderedAndProject,
      // and every window is keyed.
      ("q178_pmi_collocations", "nested-loop"),
      ("q180_kn_bigram_lm", "nested-loop"),
      // DSIR (q181): the nested-loops are the two SINGLE-ROW grand-total
      // broadcasts (target/raw token totals) crossed into the 256-row
      // model table — the q178/q100 pattern; the candidate-side join is
      // a broadcast equi-join on bucket and the top-k is
      // TakeOrderedAndProject.
      ("q181_dsir_select", "nested-loop"),
      // UniMax (Curation q183): everything after the ONE per-language
      // aggregate is a k-row model table (k = language cardinality, 5
      // here, O(100) in any real corpus) — the water-filling windows rank
      // and prefix-sum that k-row frame, and the nested-loops are the
      // single-row totals/capped-stats broadcasts (the q172 pattern).
      ("q183_unimax_alloc", "global-window"),
      ("q183_unimax_alloc", "nested-loop"),
      // Zipf slope (TextAnalysis q189): rank window runs
      // post-TakeOrderedAndProject (≤ 500 rows, a constant) — the
      // q100/q173 pattern; the OLS is one regr_* aggregate over them.
      ("q189_zipf_slope", "global-window"),
      // Heaps law (TextAnalysis q190): cumulative windows run over the
      // ≤ HeapsBuckets+1 checkpoint rows (a constant); the nested-loops
      // are the single-row width/fit scalar broadcasts (q100 pattern).
      ("q190_heaps_law", "global-window"),
      ("q190_heaps_law", "nested-loop"),
      // Naive Bayes (TextAnalysis q192): the nested-loops are the
      // language-cardinality model-side crossJoin (constant ~O(100) rows,
      // 5 here) and the single-row vocab/doc-count broadcasts — the
      // q172/q183 side-table pattern; the argmax window is keyed by doc.
      ("q192_naive_bayes", "nested-loop"),
      // χ² keywords (TextAnalysis q198): single-row doc-count broadcast
      // (the q100 pattern); every other join is keyed.
      ("q198_chi2_keywords", "nested-loop"),
      // KS distance (Curation q200): the nested-loops are the single-row
      // min/max bounds broadcast and the constant KsBins-row bin grid
      // (source × 100 rows) — the q172 side-table pattern; the CDF
      // window is keyed by source with ≤ KsBins rows per partition.
      ("q200_ks_distance", "nested-loop"),
      // HITS (q201): the nested-loop is the final half-step's SINGLE-ROW
      // max-normalizer broadcast (the q100 pattern). r12 moved the
      // per-half-step checkpoint from the normalized frame to the RAW
      // score frame (the normalization under broadcast(max) was executing
      // each half-step's join+agg twice), so the last normalization is
      // now visible in the registered plan instead of hiding behind a
      // checkpoint — same bounded single-row broadcast either way.
      ("q201_hits", "nested-loop"),
      // Benford audit (Relational11 q202): single-row total and MAD
      // broadcasts over a 9-row digit frame.
      ("q202_benford", "nested-loop"),
      // Binned AUC (Curation q204): single-row bounds broadcast; the
      // cumulative-negative window runs over ≤ KsBins (100) rows — the
      // q190 bounded-grid argument.
      ("q204_binned_auc", "nested-loop"),
      ("q204_binned_auc", "global-window"),
      // Hill tail index (TextAnalysis q208): single-row cut-value
      // broadcast over the post-TakeOrdered 200-row frame (q100 pattern).
      ("q208_hill_tail", "nested-loop"),
      // Seasonality (Relational11 q209): single-row mean broadcast over
      // the 168-row (dow × hour) cell frame.
      ("q209_seasonality", "nested-loop"),
      // Streaming heavy hitters (q65b): the post-drain threshold's
      // single-row grand-total broadcast over the drained key-count sink
      // (the q65/q100 pattern).
      ("q65b_stream_heavy_hitters", "nested-loop"),
      // Bounded-state streaming heavy hitters (q65c): same post-drain
      // threshold shape as q65b — the single-row grand-total broadcast
      // over the ≤2k-candidate exact recount (the q65/q100 pattern).
      ("q65c_stream_heavy_hitters_mg", "nested-loop"),
      // NB eval (TextAnalysis q212): same bounded side tables as q192 —
      // the language-cardinality model crossJoin and single-row
      // vocab/doc-count broadcasts; argmax window keyed by doc.
      ("q212_nb_eval", "nested-loop"),
      // NDCG (Similarity q214): per-query single-row vector broadcasts
      // (a bounded constant of them, the q39 class), the k-row rank
      // series crossJoin, and the post-TakeOrdered ≤10-row rank window.
      ("q214_ndcg", "nested-loop"),
      ("q214_ndcg", "global-window"),
      // PSI drift (Relational11 q216): the constant PsiBuckets-row bin
      // grid and single-row baseline-week broadcasts over the
      // weeks×buckets frame (the q200 pattern).
      ("q216_psi", "nested-loop"),
      // Calibration/ECE (Relational12 q218): the nested-loop is the
      // single-row (N, Σ|gap|) totals broadcast crossed onto the ≤10-row
      // bin frame — the q216/q100 bounded-grid pattern.
      ("q218_calibration_ece", "nested-loop"),
      // CUPED (Relational12 q223): the nested-loop is the single-row
      // pooled (θ, mean_X) broadcast crossed onto the 2-row arm frame —
      // the q100 grand-total pattern.
      ("q223_cuped", "nested-loop"))
    def offenders(df: DataFrame): Seq[String] = {
      // manual subquery recursion: collectWithSubqueries casts every
      // PlanExpression plan to SparkPlan, but at the sparkPlan stage
      // scalar subqueries may still hold LOGICAL plans (they are planned
      // in prepareForExecution) — plan those standalone and keep walking
      def walk(p: SparkPlan): Seq[String] = {
        val here = p.collect {
          case w: WindowExec if w.partitionSpec.isEmpty => "global-window"
          case _: CartesianProductExec                  => "cartesian"
          case _: BroadcastNestedLoopJoinExec           => "nested-loop"
        }
        val subPlans = p.collect { case n =>
          n.expressions.flatMap(_.collect { case pe: PlanExpression[_] => pe.plan })
        }.flatten
        here ++ subPlans.flatMap {
          case sp: SparkPlan   => walk(sp)
          case lp: LogicalPlan => walk(spark.sessionState.executePlan(lp).sparkPlan)
          case _               => Nil
        }
      }
      walk(df.queryExecution.sparkPlan).distinct
    }
    val found: Seq[(String, String)] = SparkEntry.registry.sortBy(_.name).flatMap { q =>
      val ops =
        try Explain.planOf(q, spark, sf)(offenders)
        catch { case e: Throwable => Seq(s"BUILD FAILED: ${e.getMessage}") }
      ops.map(q.name -> _)
    }
    val bad = found.filterNot(allow).map { case (q, op) => s"$q: $op" }
    assert(bad.isEmpty, s"unwhitelisted scale-hostile operators:\n${bad.mkString("\n")}")
    // a whitelist entry that no plan exercises is a latent hole: it would
    // silently admit a FUTURE regression at that (query, operator) — prune
    val stale = allow.diff(found.toSet)
    assert(stale.isEmpty, s"stale whitelist entries (prune them): ${stale.mkString(", ")}")
  }

  test("whole-stage codegen covers the scan-to-aggregate pipeline of q02") {
    // AQE finalizes the plan lazily — execute, then inspect the final plan
    val df = SparkEntry.queries("q02_agg_pricing")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), s"codegen absent (no starred operators):\n$p")
  }

  test("q203b: co-partitioned moments — zero Sort, edge join is SHJ with no Exchange below") {
    // Pin the plan claims that clear q203's sf10 weak: on the bucketed
    // edge table, (a) NOTHING sorts (the sf10 sort/spill bound is gone
    // structurally, not by tuning), and (b) the one edge-scale join runs
    // co-partitioned — a ShuffledHashJoin whose child subtrees contain no
    // exchange at all. Broadcast is disabled to reproduce the sf10 regime
    // where the degree table outgrows the threshold.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.{SortExec, SparkPlan, FileSourceScanExec}
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.shuffle.partitions", "32") // match the bucket count
    val tbl = "q203b_spec_edges"
    try {
      val li = graft.core.Tables.lineitem(s2, sf).select("l_orderkey", "l_suppkey")
      val o = graft.core.Tables.orders(s2, sf).select("o_orderkey", "o_custkey")
      val pairs = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("cust"),
          (col("l_suppkey") * 2 + 1).as("supp")).distinct()
      graft.operators.Bucketing.writeBucketed(
        pairs.select(explode(array(
            struct(col("cust").as("src"), col("supp").as("dst")),
            struct(col("supp").as("src"), col("cust").as("dst")))).as("e"))
          .select(col("e.src").as("src"), col("e.dst").as("dst")),
        tbl, "src", buckets = 32)
      val moments = graft.queries.Relational11.q203bMoments(s2, tbl)
      moments.collect() // finalize the adaptive plan
      def walk(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => p +: walk(a.executedPlan)
        case q: QueryStageExec        => p +: walk(q.plan)
        case other                    => other +: other.children.flatMap(walk)
      }
      val nodes = walk(moments.queryExecution.executedPlan)
      assert(!nodes.exists(_.isInstanceOf[SortExec]),
        "the moments plan sorts — the structural no-sort claim regressed")
      assert(!nodes.exists(_.isInstanceOf[SortMergeJoinExec]),
        "SMJ in the moments plan — the co-partitioned SHJ claim regressed")
      val shjs = nodes.collect { case j: ShuffledHashJoinExec => j }
      def scansTbl(sub: Seq[SparkPlan]): Boolean = sub.exists {
        case f: FileSourceScanExec => f.toString.contains(tbl)
        case _ => false
      }
      // the edge-scale join: an SHJ scanning the bucketed table on BOTH
      // sides with NO exchange anywhere beneath it (the p-join also sees
      // tbl scans through sNbr but legitimately holds the node-sized
      // groupBy(dst) exchange — it is excluded by the no-exchange filter)
      val copart = shjs.filter(j =>
        scansTbl(walk(j.left)) && scansTbl(walk(j.right)) &&
        !walk(j).tail.exists(_.isInstanceOf[ShuffleExchangeLike]))
      assert(copart.nonEmpty,
        s"no exchange-free co-partitioned edge join among ${shjs.size} SHJs")
      // everything that DOES shuffle is node-sized by construction:
      // groupBy(dst) partials + the two single-row global aggregates
      val nExchanges = nodes.count(_.isInstanceOf[ShuffleExchangeLike])
      assert(nExchanges <= 3, s"moments plan has $nExchanges exchanges (expected ≤3)")
    } finally s2.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  /** The REAL plan sweep (r13, VERDICT-r12 #1/#5): r12's checklist claimed
    * a bulk plan scan ("zero SortMergeJoins, max 7 Exchanges in any plan")
    * that was contradicted by the committed dumps. This test IS that scan,
    * generated (PLANS_SWEEP.md via graft.PlanStats) and enforced: for
    * every registered query that builds, the committed table must hold a
    * row, and the live distinct-canonicalized shuffle and SortMergeJoin
    * counts must not exceed that row (regenerate the table after a
    * deliberate plan change — a silent regression fails here), and every
    * SortMergeJoin carrier must hold a whitelist entry arguing why SMJ is
    * the right strategy AT SCALE for that specific site. */
  test("plan sweep: shuffle counts match committed PLANS_SWEEP.md; SMJ carriers whitelisted") {
    val committed: Map[String, (Int, Int)] =
      scala.io.Source.fromFile("PLANS_SWEEP.md", "UTF-8").getLines()
        .filter(_.startsWith("| q")).flatMap { l =>
          val c = l.split("\\|").map(_.trim)
          // c(1)=query c(2)=shuffles c(3)=smj; skip BUILD FAILED rows
          c(2).toIntOption.map(sh => c(1) -> (sh, c(3).toIntOption.getOrElse(0)))
        }.toMap
    assert(committed.size > 250, s"PLANS_SWEEP.md parsed only ${committed.size} rows")
    // SMJ whitelist — every entry is a deliberate at-scale choice:
    val smjAllowed: Map[String, String] = Map(
      "q49_full_outer" -> "corpus⟗corpus full outer — both sides corpus-cardinality, sort-merge spills gracefully",
      "q122_hybrid_rrf" -> "full-outer fuse of two bounded top-k lists (≤2k rows; strategy immaterial, AQE broadcasts at runtime)",
      "q125_semdedup" -> "cluster-key joins with both sides corpus-cardinality (every doc carries a cluster id)",
      "q159_ppjoin_neardup" -> "prefix-filter LeftSemi joins over posting-scale frames on both sides",
      "q168_snapshot_diff" -> "snapshot⟗snapshot full outer — both sides corpus-cardinality",
      "q170_incremental_ivf" -> "assignment join of two corpus-cardinality frames (old + delta assignments)",
      "q182c_label_prop_auto" -> "final labels⋈community-sizes join: both sides node-cardinality (singleton communities), corpus/R-key hash build is the SHJ OOM regime",
      "q184_sorted_neighborhood" -> "sorted-neighborhood is sort-BY-DESIGN — the window needs the sort SMJ shares",
      "q185_triangle_count" -> "edge⋈edge wedge joins — both sides edge-scale by construction (O(m^1.5) plan), hash build of an edge-scale side cannot fit",
      "q187_soft_dedup" -> "labeled⋈sizes: both sides corpus-cardinality (singletons are their own group) — see softDedup scaladoc; the dup-bounded join is SHJ-pinned",
      "q190_heaps_law" -> "prefix⋈checkpoint join over token-position frames — both sides corpus-scale",
      "q195_deepwalk" -> "walk⋈adjacency per round — walk frame is walks×length (corpus-scale), adjacency node-scale but above broadcast at 10⁹ nodes",
      "q200_ks_distance" -> "per-source CDF⋈global-grid join — both sides bin×source-scale at 100 TB source counts",
      "q203_assortativity" -> "the REGISTERED anti-baseline naive shape whose SMJs q203b exists to remove (measured pair)",
      "q203c_assort_auto" -> "dispatcher replays q203's naive shape below the flip threshold (same measured-pair rationale)",
      "q227_bloom_semijoin" -> "big-side LeftSemi — strategy parity with q227b keeps the bloom-vs-plain pair measurement clean",
      "q227b_plain_semijoin" -> "the measured pair's plain member: big-side LeftSemi sort-merge, the honest baseline")
    // own session at 32 shuffle partitions: PLANS_SWEEP.md is generated by
    // PlanStats at 32 shuffle partitions, and a mismatched partition count
    // changes how EnsureRequirements aligns with the 32-bucket tables
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "32")
    val results: Seq[(String, Int, Int)] = SparkEntry.registry.sortBy(_.name).map { q =>
      val (sh, smj) =
        try Explain.planOf(q, s2, sf)(PlanStats.stats(s2, _))
        catch { case _: Throwable => (-1, -1) } // build failures caught by blanket sweep
      (q.name, sh, smj)
    }
    val missing = results.collect {
      case (n, sh, _) if sh >= 0 && !committed.contains(n) =>
        s"$n: builds but has no PLANS_SWEEP.md row (regenerate PLANS_SWEEP.md)"
    }
    assert(missing.isEmpty, missing.mkString("\n"))
    val overCeiling = results.collect {
      case (n, sh, _) if sh >= 0 && sh > committed(n)._1 =>
        s"$n: $sh shuffles > committed ${committed(n)._1} (regenerate PLANS_SWEEP.md if deliberate)"
      case (n, sh, smj) if sh >= 0 && smj > committed(n)._2 =>
        s"$n: $smj SortMergeJoin(s) > committed ${committed(n)._2} (regenerate PLANS_SWEEP.md if deliberate)"
    }
    assert(overCeiling.isEmpty, overCeiling.mkString("\n"))
    val unlisted = results.collect {
      case (n, _, smj) if smj > 0 && !smjAllowed.contains(n) =>
        s"$n: $smj SortMergeJoin(s) with no whitelist rationale"
    }
    assert(unlisted.isEmpty, unlisted.mkString("\n"))
    val stale = smjAllowed.keySet.diff(
      results.collect { case (n, _, smj) if smj != 0 => n }.toSet)
    assert(stale.isEmpty, s"stale SMJ whitelist entries (prune): ${stale.mkString(", ")}")
  }
}
