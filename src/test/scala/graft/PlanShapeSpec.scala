package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression tests: the scale properties argued in the
  * scaladocs — pushdown, pruning, broadcast-only dim joins — asserted
  * against the actual optimized plans so a refactor can't silently
  * regress them.
  */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val sf = "/root/testdata/sf0.001"

  private def executedPlan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q1: shipdate filter and column pruning reach the parquet scan") {
    val plan = executedPlan("q1_pricing_summary")
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    // pruned read schema: no orderkey/partkey/suppkey columns scanned
    assert(!plan.contains("l_partkey"))
  }

  test("click aggregation: event_type filter pushed through the ns-timestamp conversion") {
    val plan = executedPlan("p11_click_agg")
    assert(plan.contains("EqualTo(event_type,click)"))
  }

  test("q5: joins on grow-with-data sides become broadcast via AQE/stats, not hints") {
    // bench sf: the broadcast decision must come from size stats (AQE or
    // the static planner's parquet stats), never a hardcoded hint that
    // would OOM at 100× scale
    val benchSf = "/root/testdata/sf0.1"
    val df = SparkEntry.queries("q5_local_supplier")(spark, benchSf)
    df.collect() // finalize the adaptive plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"))
  }

  test("mm_decode_meta: payload bytes never cross an exchange") {
    // scan → decode with no shuffle at all; any Exchange in this plan
    // would be carrying the binary payload column
    val plan = executedPlan("mm_decode_meta")
    assert(!plan.contains("Exchange"))
  }

  test("split_train_test is a pure projection: zero exchanges, zero aggregates") {
    val plan = executedPlan("split_train_test")
    assert(!plan.contains("Exchange"))
    assert(!plan.contains("Aggregate"))
  }

  test("retrieval_bm25: no doc-grain exchange — stats broadcast, scoring in-row, TakeOrdered cut") {
    val plan = executedPlan("retrieval_bm25")
    // the only partitioned exchanges allowed are the round-robin table
    // reads; scoring must not shuffle at doc grain (no hashpartitioning)
    assert(!plan.contains("hashpartitioning"))
    assert(plan.contains("TakeOrderedAndProject"))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"))
    // no corpus-grain explode survives the rewrite
    assert(!plan.contains("Generate explode"))
  }

  test("emb_quantize is a pure projection: the corpus never exchanges") {
    val plan = executedPlan("emb_quantize")
    assert(!plan.contains("Exchange"))
    assert(!plan.contains("Aggregate"))
  }

  test("shingle/winnow df attach: partial-agg census over the persisted frame — no per-key window buffer, no doubled kernel pass") {
    // guide §2.2/§2.5: a stopword-grade hot shingle must never buffer
    // in a single task's window group. The df census must be a
    // partial-aggregating groupBy (constant per-key state, map-side
    // partials) over the PERSISTED exploded frame, so the shingle /
    // winnow kernel runs exactly once — both the census and the join
    // probe read the cache, never a second corpus pass.
    val dir = TestSpark.tmpDir("dfplan")
    import spark.implicits._
    (0 until 30).map(i =>
        (i.toLong, s"the quick brown fox jumps over the lazy dog unique$i"))
      .toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    Seq(ext.Dedup.explodedShingleHashes(spark, dir),
        ext.Dedup.winnowFingerprints(spark, dir)).foreach { df =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"), s"\n$plan")
      // census aggregates map-side before any exchange
      assert(plan.contains("partial_count"), s"\n$plan")
      // both the census and the join probe read the persisted frame
      // (InMemoryTableScan), never a second run of the shingle/winnow
      // kernel: the outer memo cache plus the two cache readers
      assert("InMemoryTableScan".r.findAllIn(plan).size >= 3, s"\n$plan")
    }
  }

  test("no declared query plans a cartesian product or a scalar UDF") {
    // global anti-pattern sweep: every 1-row/crossJoin in the library
    // must plan as a broadcast join (BNLJ/BHJ), and every custom
    // scalar op as a codegen Catalyst expression — a CartesianProduct
    // or ScalaUDF anywhere is a scale regression regardless of query
    SparkEntry.queries.keys.foreach { name =>
      val plan = executedPlan(name)
      withClue(name)(assert(!plan.contains("CartesianProduct")))
      withClue(name)(assert(!plan.contains("ScalaUDF")))
    }
  }

  test("text_scrub is a pure projection: zero exchanges, zero aggregates") {
    val plan = executedPlan("text_scrub")
    assert(!plan.contains("Exchange"))
    assert(!plan.contains("Aggregate"))
  }

  test("pack_sequences: one shard exchange feeds one partitioned window") {
    // prefix-sum packing must cost exactly one hash exchange on the
    // shard key (+ the documents spread repartition at this tiny sf);
    // a second data exchange would mean the window lost its
    // partitioning and the packing went global/sequential
    val plan = executedPlan("pack_sequences")
    assert(plan.contains("Window"))
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges === 1, plan)
  }

  test("emb_kmeans_step: assignment is a broadcast projection, no corpus sort-aggregate") {
    // the Lloyd step's assign phase must stay a CellTopK projection
    // against the broadcast 1-row quantizer (zero shuffle of scored
    // pairs) and the update phase ONE typed aggregation — a
    // SortAggregate or a corpus-grained hash exchange would mean the
    // argmax degenerated to the exploded-pairs plan the IVF scaladoc
    // rules out
    val plan = executedPlan("emb_kmeans_step")
    assert(!plan.contains("SortAggregate"), s"\n$plan")
    assert(plan.contains("cell_top_k") || plan.contains("CellTopK"), s"\n$plan")
    assert(plan.contains("ObjectHashAggregate"), s"\n$plan")
  }

  test("shard_assign: one hash exchange on shard feeds one partitioned window") {
    // the training-shard layout must never global-sort: one exchange
    // on the shard key (+ the tiny-sf documents spread), then each
    // shard orders independently inside its partition
    val plan = executedPlan("shard_assign")
    assert(plan.contains("Window"), s"\n$plan")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges === 1, s"\n$plan")
    // a rangepartitioning exchange would mean a global sort snuck in
    assert(!plan.contains("rangepartitioning"), s"\n$plan")
  }

  test("events_props_agg: JSON extraction stays below the exchange, never shuffles props") {
    // the props string must be consumed at scan side — the exchange
    // carries only (event_type, k) partial aggregates
    val plan = executedPlan("events_props_agg")
    assert(plan.contains("get_json_object"), s"\n$plan")
    // plan text above the Exchange = the post-shuffle operators
    val aboveExchange = plan.substring(0, plan.indexOf("Exchange"))
    assert(!aboveExchange.contains("props"), s"\n$plan")
  }

  test("sample_cap_source: bounded-heap partial aggregation, never a window over source") {
    // a row_number window over partitionBy(source) funnels a dominant
    // source's every document through one reducer; the bounded-heap
    // aggregator must instead trim map-side to the cap BEFORE the
    // exchange (partial ObjectHashAggregate), shuffling O(parts × cap)
    val plan = executedPlan("sample_cap_source")
    assert(!plan.contains("Window"), s"\n$plan")
    assert(plan.contains("ObjectHashAggregate"), s"\n$plan")
    assert(plan.contains("partial_bottomkagg"), s"\n$plan")
  }

  test("tfidf_doc_terms: bounded-heap per-doc top-K, no rank window, no global sort") {
    // same discipline as sample_cap_source, applied per document: the
    // heap trims to K map-side (partial ObjectHashAggregate) instead
    // of a rank window's partition-wide sort; token strings never ride
    // a corpus-sized exchange (the only string aggregation is the
    // vocabulary fold)
    val plan = executedPlan("tfidf_doc_terms")
    assert(!plan.contains("Window"), s"\n$plan")
    assert(plan.contains("ObjectHashAggregate"), s"\n$plan")
    assert(plan.contains("partial_bottomkagg"), s"\n$plan")
  }

  test("sessionize: both windows and the session aggregate share ONE exchange") {
    // lag-window, cumsum-window, and the final groupBy all cluster by
    // user_id: a correct plan partitions once and sorts once; a second
    // Exchange would mean the windows disagree on partitioning
    val plan = executedPlan("sessionize")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges === 1, s"\n$plan")
  }

  test("unigram scoring: (doc_id, token) counts pre-aggregate BELOW the model join") {
    // the model join must consume per-(doc, token) COUNTS, not token
    // instances: when a real vocabulary outgrows broadcast and the
    // join shuffles, the exchange then carries the distinct (doc,
    // token) footprint instead of the re-tokenized corpus
    val plan = executedPlan("text_unigram_logprob")
    val preAgg = "HashAggregate\\(keys=\\[doc_id#\\d+L, th#\\d+L\\]".r
      .findFirstMatchIn(plan)
    assert(preAgg.isDefined, s"\n$plan")
    val join = "Join".r.findFirstMatchIn(plan)
    assert(join.isDefined && join.get.start < preAgg.get.start,
      s"pre-aggregate must sit below (print after) the join\n$plan")
  }

  test("tfidf vocabulary build: ONE corpus scan, ONE grouped exchange, tf+df pre-shuffle") {
    // the shape is pinned on the BUILD plan (the queries consume the
    // memoized/persisted vocabulary index, whose cached segments hide
    // the build lineage): a single groupBy(token) computes tf and df
    // together from the first-occurrence-tagged explode — exactly one
    // grouped exchange (the n_docs branch is a zero-column count +
    // 1-row broadcast). Pinned at sf0.01, NOT the suite's sf0.001:
    // Spark's cache manager substitutes by plan equality, so once any
    // other suite persists the sf0.001 vocabulary index the identical
    // build plan here resolves to an InMemoryTableScan and the pin
    // would race with test order; no test persists a vocabulary for
    // sf0.01, keeping this plan cache-free deterministically.
    val plan = functions.TextAnalysis.vocabularyBuild(spark, "/root/testdata/sf0.01")
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges === 1, s"\n$plan")
    assert(plan.contains("partial_count"), "map-side combine must run before the exchange")
    // the corpus text column is scanned exactly once
    val textScans = "ReadSchema: struct<text:string>".r.findAllIn(plan).length
    assert(textScans === 1, s"\n$plan")
  }

  test("similarity: query side broadcast, corpus side streamed — never shuffled or sorted") {
    // brute force: non-equi join ⇒ BroadcastNestedLoopJoin, query set built
    val bf = executedPlan("sim_topk_bruteforce")
    assert(bf.contains("BroadcastNestedLoopJoin BuildRight"), s"\n$bf")
    // LSH: bucket equi-join ⇒ BroadcastHashJoin, probe side built; the
    // corpus side streams straight from the cached bucket projection
    val ann = executedPlan("sim_ann_lsh")
    assert(ann.contains("BroadcastHashJoin"), s"\n$ann")
    assert(ann.contains("BuildRight"), s"\n$ann")
    // IVF: cell equi-join ⇒ BroadcastHashJoin with the probes built;
    // assignment is a per-row argmax projection — no SortAggregate
    // over the |corpus|×|cells| scored pairs. Grouped exchanges carry
    // only |cells|-row index-build partials (×2 branches pre-reuse)
    // and the final O(queries) top-K; the corpus itself NEVER
    // hash-exchanges — no exchange partitions on vec_id
    val ivf = executedPlan("sim_ivf_topk")
    assert(ivf.contains("BroadcastHashJoin"), s"\n$ivf")
    assert(!ivf.contains("SortAggregate"), s"\n$ivf")
    val ivfExchanges = "Exchange hashpartitioning".r.findAllIn(ivf).length
    assert(ivfExchanges <= 3, s"\n$ivf")
    assert(!ivf.contains("Exchange hashpartitioning(vec_id"), s"\n$ivf")
    // incremental maintenance keeps the same discipline: the tranche
    // assignment is a broadcast-quantizer projection and the union
    // introduces no exchange — the corpus never hash-exchanges here
    // either, and the probe join stays broadcast
    val inc = executedPlan("sim_ivf_incremental")
    assert(inc.contains("BroadcastHashJoin"), s"\n$inc")
    assert(!inc.contains("SortAggregate"), s"\n$inc")
    assert(!inc.contains("Exchange hashpartitioning(vec_id"), s"\n$inc")
  }

  test("rolling time-window: one exchange on the partition key, RANGE frame") {
    val plan = executedPlan("window_rolling_count")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges === 1, s"\n$plan")
    assert(plan.contains("RangeFrame"), s"\n$plan")
    // both window functions cluster on the same key: ONE sort serves both
    assert("\\+- Sort ".r.findAllIn(plan).length === 1, s"\n$plan")
  }

  test("decontaminate: benchmark shingle set broadcasts, corpus side streams") {
    // the corpus explode must stream into a BroadcastHashJoin against
    // the (tiny, distinct'd) benchmark set — never be shuffled for the
    // membership probe. AQE decides from runtime stats, so finalize.
    val df = SparkEntry.queries("decontaminate")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"\n$plan")
  }

  test("interval join rides the user equi-key: never a nested-loop or cartesian plan") {
    val plan = executedPlan("join_interval")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"\n$plan")
    assert(!plan.contains("CartesianProduct"), s"\n$plan")
    // time bounds are a residual condition on the equi join, not the key
    assert(plan.contains("Join") || plan.contains("HashJoin") ||
      plan.contains("SortMergeJoin"), s"\n$plan")
  }

  test("top-k plans as TakeOrderedAndProject, not a global sort") {
    val plan = executedPlan("bonus_topk")
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("dedup_spans: packed-long min hash-aggregates — no SortAggregate, no span strings shuffled") {
    val plan = executedPlan("dedup_spans")
    assert(!plan.contains("SortAggregate"), s"\n$plan")
    // exchanges carry the 64-bit span hash, never the span text
    assert(!plan.contains("Exchange hashpartitioning(col"), s"\n$plan")
    assert(plan.contains("HashAggregate"), s"\n$plan")
  }

  test("text_heavy_hitters: sketch pass has no per-key exchange; no window, no global sort") {
    val plan = executedPlan("text_heavy_hitters")
    assert(!plan.contains("Window"), s"\n$plan")
    assert(!plan.contains("SortAggregate"), s"\n$plan")
    // the sketch folds through a SinglePartition exchange (one buffer
    // per task); the confirm groupBy is the only hash exchange
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashExchanges <= 1, s"\n$plan")
  }

  test("events_attribution: timeline equi-join, never an interval-explosion or nested loop") {
    val plan = executedPlan("events_attribution")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"\n$plan")
    assert(!plan.contains("CartesianProduct"), s"\n$plan")
    assert(plan.contains("asof_last"), s"\n$plan") // the codegen probe is in the plan
  }

  test("emb_covariance: one global typed fold — the corpus never hash-exchanges") {
    val plan = executedPlan("emb_covariance")
    assert(!plan.contains("Exchange hashpartitioning"), s"\n$plan")
    assert(plan.contains("ObjectHashAggregate"), s"\n$plan")
  }

  test("decontaminate_bloom: bitmap rides a 1-row broadcast; confirm join is broadcast too") {
    val df = SparkEntry.queries("decontaminate_bloom")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"\n$plan")
    // the corpus side streams into the broadcast join — the only hash
    // exchanges are the benchmark-sized distinct, the doc-grain agg,
    // and the bitmap build's word fold (inlined in the cached-index
    // plan text); none partitions on the corpus grain
    assert(!plan.contains("SortMergeJoin"), s"\n$plan")
    val finalPlan = plan.split("== Initial Plan ==").head
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(finalPlan).length
    assert(hashExchanges <= 3, s"\n$plan")
  }

  test("q10/q18 reporting: top-K plans as TakeOrderedAndProject, dims broadcast") {
    for (q <- Seq("q10_returned_items", "q18_large_orders")) {
      val plan = executedPlan(q)
      assert(plan.contains("TakeOrderedAndProject"), s"$q\n$plan")
      assert(plan.contains("BroadcastHashJoin"), s"$q\n$plan")
    }
  }

  test("sample_dsir: one corpus-grain exchange pair, model joins broadcast") {
    val df = SparkEntry.queries("sample_dsir")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // scoring side: the (doc,bucket) partial→final aggregate and the
    // final doc-grain aggregate — nothing else at corpus grain; the
    // 64-row model rides a broadcast join (never SMJ). The memoized
    // model's own build plan is inlined under its InMemoryRelation in
    // the text — cut there: its exchanges are train-once, not serving
    assert(plan.contains("BroadcastHashJoin"), s"\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"\n$plan")
    val servingPlan = plan
      .split("== Initial Plan ==").head
      .split("InMemoryRelation").head
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(servingPlan).length
    assert(hashExchanges <= 2, s"\n$plan")
  }

  test("q10/q14: grow-with-data joins carry no broadcast hint — stats/AQE decide") {
    // customer (q10) and part (q14) grow linearly with SF; a hardcoded
    // hint would override AQE's size check and OOM at 100× scale. The
    // small-SF plans above still broadcast — but by SIZE STATS, which
    // is visible as the absence of any hint node in the logical plan.
    for (q <- Seq("q10_returned_items", "q14_promo_revenue")) {
      val logical = SparkEntry.queries(q)(spark, sf)
        .queryExecution.analyzed.toString
      assert(!logical.contains("ResolvedHint"), s"$q\n$logical")
    }
  }

  test("basket_pairs: pair join rides the order equi-key — never a nested loop") {
    val plan = executedPlan("basket_pairs")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"\n$plan")
    assert(!plan.contains("CartesianProduct"), s"\n$plan")
  }

  test("q6: all three predicates and the 2-measure pruning reach the parquet scan") {
    val plan = executedPlan("q6_revenue_change")
    // plan text truncates the full PushedFilters list — assert the
    // pushdown set starts with all three filter columns' IsNotNulls
    assert(plan.contains(
      "PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount), IsNotNull(l_quantity), GreaterThanOrEqual"),
      s"\n$plan")
    // no join keys scanned: the read schema carries only the measures + filters
    assert(plan.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double,l_shipdate"),
      s"\n$plan")
    assert(!plan.contains("l_orderkey"), s"\n$plan")
  }

  test("q4: EXISTS plans as a left-semi join, never a cartesian") {
    val plan = executedPlan("q4_order_priority")
    assert(plan.contains("LeftSemi"), s"\n$plan")
    assert(!plan.contains("CartesianProduct"), s"\n$plan")
  }

  test("q13: left-outer preserved-row count plus two-level re-aggregation") {
    val plan = executedPlan("q13_customer_distribution")
    assert(plan.contains("LeftOuter"), s"\n$plan")
    // priority filter applies to the orders side BEFORE the join (it
    // must not drop preserved customer rows): pushed into the scan
    assert(plan.contains("Not(EqualTo(o_orderpriority,4-NOT SPECIFIED))"), s"\n$plan")
  }

  test("q17/q19/q22: correlated forms plan as equi-joins — no nested loop on a fact side") {
    for (q <- Seq("q17_small_quantity", "q19_disjunctive_revenue")) {
      val plan = executedPlan(q)
      assert(!plan.contains("CartesianProduct"), s"$q\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$q\n$plan")
    }
    // q22's scalar subquery IS a 1-row nested-loop broadcast (correct);
    // the NOT EXISTS must still be a left-anti hash join
    val q22 = executedPlan("q22_sales_opportunity")
    assert(q22.contains("LeftAnti"), s"\n$q22")
    assert(!q22.contains("CartesianProduct"), s"\n$q22")
  }

  test("q7/q8: six-way joins stay equi-joins; share is one aggregation pass") {
    for (q <- Seq("q7_volume_shipping", "q8_market_share")) {
      val plan = executedPlan(q)
      assert(!plan.contains("CartesianProduct"), s"$q\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$q\n$plan")
    }
    // q8's conditional share must NOT plan a second scan/self-join:
    // exactly one partial+final aggregate pair over the join tree
    val q8 = executedPlan("q8_market_share")
    assert("HashAggregate".r.findAllIn(q8).length === 2, s"\n$q8")
  }

  test("q21: correlated pair collapses to one fact scan + order-grain counts") {
    val plan = executedPlan("q21_late_supplier")
    // the algebraic form scans lineitem ONCE (the semi+anti literal
    // form re-derives the joined fact three times)
    assert("lineitem".r.findAllIn(plan).length === 1, s"\n$plan")
    assert(!plan.contains("CartesianProduct"), s"\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), s"\n$plan")
  }

  test("q11/q15: scalar-subquery cuts ride 1-row broadcasts, not re-scans") {
    for (q <- Seq("q11_value_concentration", "q15_top_supplier")) {
      val plan = executedPlan(q)
      assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
        s"$q\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$q\n$plan")
    }
  }

  test("bootstrap: the 32-replica multiplier is a broadcast, and the corpus collapses map-side") {
    val plan = executedPlan("stats_bootstrap")
    // the replica frame joins in via broadcast (either NLJ over the
    // 32-row side or BHJ) — never a sort-merge shuffle of the corpus
    assert(!plan.contains("SortMergeJoin"), s"\n$plan")
    // partial aggregation runs before the (type, b) exchange
    assert(plan.contains("partial_sum") || plan.contains("Partial"), s"\n$plan")
  }

  test("pq serving: code scan has no corpus-grain shuffle before the bounded heap") {
    val plan = executedPlan("sim_topk_pq")
    assert(!plan.contains("SortMergeJoin"), s"\n$plan")
    assert(!plan.contains("CartesianProduct"), s"\n$plan")
    // the only hash exchange is the |queries|-keyed heap merge
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashExchanges <= 1, s"\n$plan")
  }

  test("text_gopher_rules: a pure projection — zero exchanges, zero aggregates") {
    val plan = executedPlan("text_gopher_rules")
    assert(!plan.contains("Exchange"), s"\n$plan")
    assert(!plan.contains("Aggregate"), s"\n$plan")
  }

  test("sample_mix_tokens: corpus-grain work is ONE reused source aggregate; solver runs post-aggregation") {
    // the scalar-totals branch re-derives the per-source subtree in the
    // static plan; AQE's exchange reuse must collapse it back to one
    // physical corpus aggregation — finalize the plan and assert that
    val df = SparkEntry.queries("sample_mix_tokens")(spark, sf)
    df.collect()
    // the adaptive plan's toString echoes the pre-AQE plan below an
    // "== Initial Plan ==" marker — assert on the FINAL section only
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    val corpusScans = "FileScan parquet".r.findAllIn(plan).length
    assert(corpusScans === 1, s"\n$plan")
    assert(plan.contains("partial_count") || plan.contains("Partial"), s"\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"\n$plan")
  }

  test("emb_drift: the dim-keyed aggregate collapses map-side — one hash exchange, no joins") {
    val plan = executedPlan("emb_drift")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashExchanges === 1, s"\n$plan")
    assert(plan.contains("partial_count") || plan.contains("Partial"), s"\n$plan")
    assert(!plan.contains("Join"), s"\n$plan")
  }

  test("pack_efficiency: literal-array explode then one 4-group aggregate — no window, no join") {
    val plan = executedPlan("pack_efficiency")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashExchanges === 1, s"\n$plan")
    assert(!plan.contains("Window"), s"\n$plan")
    assert(!plan.contains("Join"), s"\n$plan")
  }

  test("sim_range_search: bucket-equality broadcast join only — no corpus shuffle, no cartesian") {
    val plan = executedPlan("sim_range_search")
    assert(!plan.contains("SortMergeJoin"), s"\n$plan")
    assert(!plan.contains("CartesianProduct"), s"\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"\n$plan")
  }

  test("native expressions stay inside whole-stage codegen") {
    import org.apache.spark.sql.functions._
    val df = Tables.embeddings(spark, sf)
      .select(graft.functions.expressions.GraftFunctions
        .cosineSim(col("embedding"), col("embedding")).as("c"))
      .filter(abs(col("c") - 1.0) < 1e-9)
    // self-cosine of every non-zero vector is 1 (evaluated via codegen)
    assert(df.collect().length === Tables.embeddings(spark, sf).count())
    // the action above finalizes THIS DataFrame's adaptive plan; the
    // expression must sit inside a WholeStageCodegen span, not a
    // fallback project
    val plan = df.queryExecution.executedPlan.toString
    // "*(n) Project [cosine_similarity(...)": the star marks a
    // WholeStageCodegen span containing the expression
    assert(plan.contains("*(2) Project [cosine_similarity") ||
      plan.contains("*(1) Project [cosine_similarity"))
  }

  test("join_time_banded: the keyless range join becomes a bucket equi-join — no cartesian, no nested loop") {
    val df = SparkEntry.queries("join_time_banded")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"\n$plan")
    // the band bucket is the join key; the |δ|≤B bound is a residual
    // condition on the equi-join, not a theta join
    assert(plan.contains("_bucket"), s"\n$plan")
  }

  test("stats_hll_ngrams: register shuffle is partial-max combined, never n-gram strings") {
    val df = SparkEntry.queries("stats_hll_ngrams")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the register aggregate hash-combines map-side (partial_max),
    // so the exchange carries ≤ sources×256 rows
    assert(plan.contains("partial_max"), s"\n$plan")
    assert(plan.contains("HashAggregate"), s"\n$plan")
    assert(!plan.contains("SortAggregate"), s"\n$plan")
  }

  test("text_pmi_collocations: ranking is a distributed TakeOrdered over the thresholded pair relation, never a global sort") {
    val df = SparkEntry.queries("text_pmi_collocations")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"\n$plan")
    assert(!plan.contains("CartesianProduct"), s"\n$plan")
    // pair counts hash-combine map-side before any exchange
    assert(plan.contains("partial_count") || plan.contains("partial count"),
      s"\n$plan")
  }

  test("sim_triangle_census: wedge closure is a semi join on the oriented edge set — no cartesian, no nested loop") {
    val df = SparkEntry.queries("sim_triangle_census")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"\n$plan")
    // the only nested-loop joins are the 1-row scalar-census assembly
    // (BuildRight, Cross) — never a conditioned inner loop over edges
    assert(!plan.replace("BroadcastNestedLoopJoin BuildRight, Cross", "")
      .contains("BroadcastNestedLoopJoin"), s"\n$plan")
    assert(plan.contains("LeftSemi"), s"\n$plan")
  }

  test("retrieval_bm25: both corpus scans are column-pruned to what they fold") {
    val df = SparkEntry.queries("retrieval_bm25")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the stats scan folds only the text column; the scoring scan
    // carries (doc_id, text) — neither ever reads lang/source/n_chars
    assert(plan.contains("ReadSchema: struct<text:string>"), s"\n$plan")
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"), s"\n$plan")
    assert(!plan.contains("n_chars"), s"\n$plan")
    assert(!plan.contains("source:string"), s"\n$plan")
    assert(!plan.contains("lang"), s"\n$plan")
  }

  test("retrieval_bm25_multi: heap-trimmed per-query cut, broadcast attach joins, no rank window") {
    val df = SparkEntry.queries("retrieval_bm25_multi")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // per-query top-K runs through the bounded-heap aggregator (map-
    // side partial trim), never a Window.partitionBy(query_id) that
    // would funnel every matched (query, doc) score through a reducer
    assert(!plan.contains("Window"), s"\n$plan")
    assert(plan.contains("partial_topkagg"), s"\n$plan")
    // vocabulary trim, idf, and the query table attach as broadcasts;
    // nothing big ever sort-merges
    assert(plan.contains("BroadcastHashJoin"), s"\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"\n$plan")
    // the postings frame materializes ONCE for its two consumers
    // (df/idf and scoring) — both branches read the cache
    assert(plan.contains("InMemoryTableScan"), s"\n$plan")
  }

  test("text_bpe_encode: merge folds stack as projections; documents scan pruned to (source, text)") {
    val df = SparkEntry.queries("text_bpe_encode")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the encode is aggregation + join work only — no window, no
    // cartesian, and the 10 merge folds never introduce an exchange
    // between themselves (they ride inside projections)
    assert(!plan.contains("Window"), s"\n$plan")
    assert(!plan.contains("CartesianProduct"), s"\n$plan")
    // the corpus scan reads only what the query folds
    assert(plan.contains("ReadSchema: struct<source:string,text:string>")
      || plan.contains("ReadSchema: struct<text:string"), s"\n$plan")
    assert(!plan.contains("n_chars"), s"\n$plan")
    assert(!plan.contains("lang"), s"\n$plan")
  }

  test("sim_lexsem_calibration: ONE full-outer pair join serves the whole threshold sweep") {
    val df = SparkEntry.queries("sim_lexsem_calibration")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the sweep explodes inline on the joined pair frame (Generate),
    // never re-joins per threshold: exactly one FullOuter in the FINAL
    // plan (AQE's toString echoes the initial plan below the final
    // one — counting the whole string would double every operator)
    val finalPlan = plan.split("== Initial Plan ==")(0)
    val fullOuters = "FullOuter".r.findAllIn(finalPlan).size
    assert(fullOuters === 1, s"expected 1 FullOuter, got $fullOuters\n$plan")
    assert(plan.contains("Generate explode"), s"\n$plan")
    assert(!plan.contains("CartesianProduct"), s"\n$plan")
  }

  test("text_classifier_calibration: exact binning never funnels doc-grain rows into one partition") {
    // every SinglePartition exchange in a plan must be a SCALAR
    // reduction (global count / label mean — 1-row partial→final
    // combines), never a doc-grain sort or window funnel: its parent
    // within the tree print is a keyless HashAggregate (possibly
    // through an AQE ShuffleQueryStage wrapper)
    def assertOnlyScalarFunnels(plan: String): Unit = {
      val lines = plan.split("\n")
      lines.zipWithIndex.filter(_._1.contains("Exchange SinglePartition"))
        .foreach { case (_, i) =>
          val above = lines.slice(math.max(0, i - 3), i).mkString("\n")
          assert(above.contains("HashAggregate(keys=[]"),
            s"SinglePartition exchange at line $i is not a scalar reduction:\n$plan")
        }
    }
    // the rank pass behind the census: range-partition + local sort by
    // the ranking key — the only doc-grain exchange is the range
    // repartition, and nothing windows or globally sorts
    val sorted = functions.TextAnalysis.calibrationSorted(spark, sf)
    sorted.collect()
    val sortedPlan = sorted.queryExecution.executedPlan.toString
    assert(sortedPlan.contains("rangepartitioning(dot"), s"\n$sortedPlan")
    assert(!sortedPlan.contains("Window"), s"\n$sortedPlan")
    assertOnlyScalarFunnels(sortedPlan)
    // the census itself: a 10-row aggregate over the stamped frame —
    // no global window, no ntile (the global rank is local rank + a
    // broadcast per-partition offset)
    val df = SparkEntry.queries("text_classifier_calibration")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"\n$plan")
    assert(!plan.contains("ntile"), s"\n$plan")
    assertOnlyScalarFunnels(plan)
  }

  test("retrieval_rrf_multi: both rank lists heap-trim before fusion; window input is bounded") {
    val df = SparkEntry.queries("retrieval_rrf_multi")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // BM25 and dense sides both cut to RrfDepth per query via the
    // heap aggregator BEFORE the fusion join
    assert(plan.contains("partial_topkagg"), s"\n$plan")
    // dense scoring joins the broadcast query-vector set (non-equi
    // exclusion ⇒ BNLJ with the 4-row build side)
    assert(plan.contains("BroadcastNestedLoopJoin BuildRight"), s"\n$plan")
    // the final per-query rank window sits above the bounded fused
    // frame AND rank-limit pushdown trims it before its exchange
    assert(plan.contains("WindowGroupLimit"), s"\n$plan")
    assert(!plan.contains("CartesianProduct"), s"\n$plan")
  }

  test("retrieval_rank_eval: rank lists are TakeOrdered trims; no corpus-grain window") {
    val df = SparkEntry.queries("retrieval_rank_eval")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"\n$plan")
    // the only windows run over the 10-row trimmed lists: every Window
    // node sits above a TakeOrdered, so no window input is corpus-grain
    // — visible as the absence of any Exchange feeding a Window (the
    // trimmed lists arrive as single-partition local relations)
    assert(!plan.contains("CartesianProduct"), s"\n$plan")
  }

  test("sim_lexsem_agreement: both pair generators stay bucketed equi-joins") {
    val df = SparkEntry.queries("sim_lexsem_agreement")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"\n$plan")
    // 1-row scalar broadcasts (cell cap, corpus count) are the only
    // nested loops; the cell self-join and the agreement join are
    // hash/merge equi-joins
    assert(!plan.replace("BroadcastNestedLoopJoin BuildRight, Cross", "")
      .contains("BroadcastNestedLoopJoin"), s"\n$plan")
  }

  test("split_assignment_churn: the churn census is one doc-grain pass — no per-tranche re-join fan-out") {
    val df = SparkEntry.queries("split_assignment_churn")(spark, sf)
    df.collect() // materializes the churn forests so the plan is the steady one
    val plan = df.queryExecution.executedPlan.toString
    // the tagged-forest attach and the t-1 comparison ride ONE window
    // over doc_id (lag), never a self-join of assignments per tranche
    assert(plan.contains("Window"), s"\n$plan")
    assert(!plan.contains("CartesianProduct"), s"\n$plan")
    // exactly one SortMergeJoin/ShuffledHashJoin key is possible: the
    // (t, doc_id) label attach; everything else broadcasts (forests
    // are cluster-sized, n_docs is scalar)
    val shuffleJoins = "SortMergeJoin|ShuffledHashJoin".r
      .findAllIn(plan).size
    assert(shuffleJoins <= 1, s"expected <=1 shuffle join, got $shuffleJoins\n$plan")
  }

  test("text_classifier_train: model broadcasts; the corpus never sorts globally") {
    val df = SparkEntry.queries("text_classifier_train")(spark, sf)
    df.collect() // materializes the train-once model artifact
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"\n$plan")
    assert(!plan.contains("CartesianProduct"), s"\n$plan")
  }

  test("corpus_prep_gated: the serving gate is a broadcast model join — no cartesian, no global sort") {
    val df = SparkEntry.queries("corpus_prep_gated")(spark, sf)
    df.collect() // materializes model/feats/components/bloom artifacts
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"\n$plan")
    // the anti-joins against the tiny loser/contaminated sets may plan
    // SMJ in the stateless spec env (same shape corpus_prep_full has
    // carried since r9, AQE converts them given runtime stats); the
    // pin here is the serving gate itself: broadcast model, never a
    // cartesian over the corpus
    assert(!plan.contains("CartesianProduct"), s"\n$plan")
  }

  test("corpus_gate_disagreement: doc-grain join of two persisted artifacts + a 4-row census") {
    val df = SparkEntry.queries("corpus_gate_disagreement")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"\n$plan")
    assert(!plan.contains("CartesianProduct"), s"\n$plan")
  }
}
