package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.TopK.topK
import graft.functions.expressions.GraftFunctions

/** Per-operator unit tests (SURVEY.md §5.1/§5.4) on sf0.001 data and
  * tiny in-memory frames.
  */
class OperatorSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("rank eval: DCG never exceeds the ideal, ratios are valid ppm") {
    val r = graft.functions.Retrieval.rankEval(spark, sf).collect().head
    val (mrr, dcg, idcg, ndcg) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(idcg > 0)
    assert(dcg <= idcg, "the ideal ordering is optimal for its own gains")
    assert(ndcg === dcg * 1000000L / idcg)
    assert(ndcg >= 0 && ndcg <= 1000000L)
    // MRR@10 is 0 (no fully-relevant doc in top-10) or 1e6/rank,
    // rank in 1..10
    assert(mrr == 0L || (1 to 10).map(1000000L / _).contains(mrr))
  }

  test("lexsem agreement: categories partition the union of both pair sets") {
    val cats = graft.ext.Similarity.lexSemAgreement(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cats.keySet.subsetOf(Set("both", "semantic_only", "lexical_only")))
    val nSem = cats.getOrElse("both", 0L) + cats.getOrElse("semantic_only", 0L)
    val nLex = cats.getOrElse("both", 0L) + cats.getOrElse("lexical_only", 0L)
    // each side reproduces its own detector's pair count exactly
    val semDirect = graft.ext.Similarity.semDedup(spark, sf)
      .agg(sum(col("n_nearer_dups"))).head().getLong(0)
    val lexDirect = graft.ext.Dedup.minhashLsh(spark, sf)
      .filter(col("est_jaccard") >= 0.8).count()
    assert(nSem === semDirect)
    assert(nLex === lexDirect)
  }

  test("every declared query executes at sf0.001 and every oracle key exists") {
    val qs = SparkEntry.queries
    assert(SparkEntry.oracleSql.keySet.subsetOf(qs.keySet))
    qs.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      withClue(name)(assert(n >= 0))
    }
  }

  test("sample_balance_sources: exact hash-rank replica, smallest source kept whole") {
    def hashMod(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8")).map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16) % 1000
    }
    val docs = Tables.documents(spark, sf).select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val perSource = docs.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val m = perSource.values.min
    val keepPm = perSource.map { case (s, n) => s -> (1000L * m / n) }
    val expected = docs.filter { case (id, s) => hashMod(id) < keepPm(s) }.map(_._1).toSet
    val out = operators.Advanced.sampleBalanceSources(spark, sf).collect()
    assert(out.map(_.getLong(0)).toSet === expected)
    // the smallest source's rate is exactly 1000 per mille: kept whole
    val bySource = out.map(r => (r.getString(1), r.getLong(3))).toMap
    val smallest = perSource.minBy(_._2)._1
    assert(bySource.get(smallest).forall(_ == 1000L))
  }

  test("pack_sequences shard count is a conf knob (per-shard prefix sums hold at 8)") {
    val s = spark.newSession()
    s.conf.set(operators.Advanced.PackShardsKey, "8")
    val rows = operators.Advanced.packSequences(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    assert(rows.forall { case (id, shard, _, _) => shard == id % 8 })
    // tokens_before is the within-shard prefix sum in doc_id order
    rows.groupBy(_._2).foreach { case (_, rs) =>
      var acc = 0L
      rs.sortBy(_._1).foreach { case (id, _, nTok, before) =>
        withClue(s"doc $id")(assert(before === acc))
        acc += nTok
      }
    }
  }

  test("merge-upsert (incremental) equals full recompute — the MERGE monoid law") {
    val full = operators.EventPatterns.clickAgg(spark, sf).collect().toSet
    val merged = operators.EventPatterns.mergeUpsert(spark, sf).collect().toSet
    assert(merged === full)
  }

  test("native cosine expression equals the built-in zip_with/aggregate fold") {
    val emb = Tables.embeddings(spark, sf).limit(200)
    val pairs = emb.toDF("id_a", "emb_a", "l_a")
      .crossJoin(emb.toDF("id_b", "emb_b", "l_b").limit(20))
    val builtin = aggregate(
      zip_with(col("emb_a"), col("emb_b"), (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v) /
      (sqrt(aggregate(zip_with(col("emb_a"), col("emb_a"), (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v)) *
        sqrt(aggregate(zip_with(col("emb_b"), col("emb_b"), (x, y) => x.cast("double") * y.cast("double")),
          lit(0.0), (acc, v) => acc + v)))
    val diff = pairs.select(
      abs(GraftFunctions.cosineSim(col("emb_a"), col("emb_b")) - builtin).as("d"))
      .agg(max("d")).first().getDouble(0)
    assert(diff === 0.0) // identical accumulation order ⇒ bit-for-bit equal
  }

  test("native cosine returns null for zero vectors") {
    val df = Seq((Array(0f, 0f, 0f), Array(1f, 2f, 3f))).toDF("a", "b")
    assert(df.select(GraftFunctions.cosineSim(col("a"), col("b"))).first().isNullAt(0))
  }

  test("top-K aggregator equals window row_number formulation") {
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val scored = emb.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        GraftFunctions.cosineSim(col("embedding"), col("qe")).as("score"))
      .cache()
    try {
      val viaAgg = scored.groupBy("qid")
        .agg(topK(7)(col("vec_id"), col("score")).as("hits"))
        .select(col("qid"), posexplode(col("hits")))
        .select(col("qid"), (col("pos") + 1).as("rank"), col("col._1").as("id"), col("col._2").as("score"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
      val w = Window.partitionBy("qid").orderBy(col("score").desc, col("vec_id").asc)
      val viaWindow = scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 7)
        .select(col("qid"), col("rank"), col("vec_id"), col("score"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
      assert(viaAgg === viaWindow)
    } finally { scored.unpersist(); () }
  }

  test("dedup: minhash-LSH candidates cover all high-jaccard pairs at sf0.001") {
    val exact = ext.Dedup.ngramJaccard(spark, sf)
      .filter(col("jaccard") >= 0.8)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = ext.Dedup.minhashLsh(spark, sf)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.subsetOf(lsh))
  }

  test("ngram-jaccard df-cap bounds boilerplate shingles, keeps genuine dups") {
    // 20 docs sharing a 9-word boilerplate prefix (5 pure-boilerplate
    // shingles, df=20) + 2 genuinely identical docs (all shingles df=2)
    val dir = TestSpark.tmpDir("dfcap")
    val boiler = "the quick brown fox jumps over the lazy dog"
    val docs = (0 until 20).map(i => (i.toLong, s"$boiler unique$i")) ++
      Seq((100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
          (101L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    // capped: the df=20 boilerplate shingles are dropped before the
    // self-join, so the 190 boilerplate pairs never become candidates
    val capped = ext.Dedup.ngramJaccard(spark, dir, maxShingleDf = 10)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped === Set((100L, 101L)))
    // uncapped: boilerplate pairs have jaccard 5/7 >= 0.5 and flood out
    assert(ext.Dedup.ngramJaccard(spark, dir, maxShingleDf = 1000).count() === 191L)
  }

  test("allpairs-exact: prefix-filtered join equals brute force at sf0.001") {
    val ex = ext.Dedup.explodedShingleHashes(spark, sf)
    val l = ex.select(col("doc_id").as("doc_a"), col("sz").as("sz_a"), col("h"))
    val r = ex.select(col("doc_id").as("doc_b"), col("sz").as("sz_b"),
      col("h").as("h_r"))
    val brute = l.join(r, col("h") === col("h_r") && col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b", "sz_a", "sz_b")
      .agg(count(lit(1)).as("inter"))
      .select(col("doc_a"), col("doc_b"), col("inter").cast("long").as("inter"),
        (col("sz_a").cast("long") + col("sz_b") - col("inter")).as("uni"))
      .filter(col("inter") * 5 >= col("uni") * 4)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
      .toSet
    val pp = ext.Dedup.allPairsExact(spark, sf)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
      .toSet
    assert(pp.nonEmpty)
    assert(pp === brute)
  }

  test("allpairs-incremental equals the full join restricted to tranche pairs") {
    val cutoff = {
      val r = Tables.documents(spark, sf)
        .agg((max(col("doc_id")) + 1 - expr("count(1) div 10")).as("c")).head()
      r.getLong(0)
    }
    val full = ext.Dedup.allPairsExact(spark, sf)
      .filter(col("doc_b") >= cutoff)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
      .toSet
    val inc = ext.Dedup.allPairsIncremental(spark, sf)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
      .toSet
    assert(inc === full)
  }

  test("allpairs prefix index holds ~a fifth of the full inverted index") {
    // the scale claim behind prefix filtering at t = 4/5: the join
    // input is s − ⌈4s/5⌉ + 1 ≈ s/5 + 1 rows per doc, never the full
    // set; 0.35 bounds it with slack for the +1 on small docs
    val ex = ext.Dedup.explodedShingleHashes(spark, sf)
    val full = ex.count()
    val nDocs = ex.select("doc_id").distinct().count()
    val (prefixes, _) = ext.Dedup.allPairsIndex(spark, sf)
    val pre = prefixes.count()
    assert(pre < (full * 0.35).toLong + nDocs, s"prefix rows $pre vs full $full")
    assert(pre >= nDocs) // every non-empty doc contributes >= 1 prefix row
  }

  test("bot score: metronome bot flagged, bursty human not; CV2 matches a BigInt replica") {
    val dir = TestSpark.tmpDir("botscore")
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(1700000000000L + s)
    // user 1: metronome — 12 events exactly 1 s apart, one type
    val bot = (0 until 12).map(i => (ts(i * 1000L), i.toLong, 1L, "click", 1.0, "{}"))
    // user 2: bursty human — growing gaps, alternating types
    val gaps = Seq(0L, 100L, 5000L, 200L, 30000L, 900L, 120000L, 1500L, 600000L,
      2500L, 1800000L)
    val humanTs = gaps.scanLeft(0L)(_ + _).tail
    val human = humanTs.zipWithIndex.map { case (t, i) =>
      (ts(t), 100L + i, 2L, if (i % 2 == 0) "click" else "view", 1.0, "{}")
    }
    (bot ++ human).toDF("ts", "event_id", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = operators.EventAnalytics.botScore(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(rows(1L) === ((11L, 1000000L, 0L, true)))
    val (hGaps, hSelf, hCv2, hFlag) = rows(2L)
    assert(hGaps === 10L && hSelf === 0L && !hFlag)
    // replica: cv2_ppm = (k*sum(g^2) - sum(g)^2) * 1e6 / sum(g)^2 in BigInt
    val g = humanTs.sliding(2).map { case Seq(a, b) => BigInt((b - a) * 1000L) }.toSeq
    val (m1, m2) = (g.sum, g.map(x => x * x).sum)
    assert(BigInt(hCv2) === (BigInt(g.size) * m2 - m1 * m1) * 1000000 / (m1 * m1))
    assert(hCv2 > 250000L)
  }

  test("BH step-up: a failing middle rank is rejected when a larger rank passes") {
    import spark.implicits._
    // alpha = 1/4, m = 5: condition is p*20 <= rank. Rank 2 (p=0.12 ->
    // 2.4 > 2) FAILS its own threshold but rank 3 (p=0.14 -> 2.8 <= 3)
    // passes, so k = 3 and ranks 1..3 are ALL rejected — the step-up
    // behavior a step-down/per-test rule would get wrong.
    val scored = Seq(
      ("a", 5.0, 0.04), ("b", 2.9, 0.12), ("c", 2.7, 0.14),
      ("d", 1.1, 0.90), ("e", 1.0, 0.95)
    ).toDF("event_type", "t_welch", "p_cheb")
    val got = operators.Relational.bhStepUp(scored)
      .collect().map(r => r.getString(0) -> ((r.getLong(3), r.getBoolean(4)))).toMap
    assert(got === Map(
      "a" -> ((1L, true)), "b" -> ((2L, true)), "c" -> ((3L, true)),
      "d" -> ((4L, false)), "e" -> ((5L, false))))
    // and with nothing passing, nothing is rejected (k = 0 guard)
    val none = Seq(("a", 1.0, 0.9), ("b", 1.0, 0.95))
      .toDF("event_type", "t_welch", "p_cheb")
    assert(operators.Relational.bhStepUp(none)
      .collect().forall(!_.getBoolean(4)))
  }

  test("hll cube: rollup registers equal direct derivation; estimates track exact counts") {
    val h = conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
      .cast("long")
    val w = shiftright(h, 8)
    // mergeability on the real data: per-type registers re-maxed from
    // the (type, day) cells must equal a direct per-type derivation
    val base = Tables.events(spark, sf)
      .select(col("event_type"), date_trunc("day", col("ts")).as("day"),
        pmod(h, lit(256)).as("j"),
        when(w === 0L, lit(53)).otherwise(lit(53) - length(bin(w))).as("rho"))
    val viaCells = base.groupBy("event_type", "day", "j").agg(max("rho").as("m"))
      .groupBy("event_type", "j").agg(max("m").as("m"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2)).toMap
    val direct = base.groupBy("event_type", "j").agg(max("rho").as("m"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(viaCells === direct)
    val rows = operators.EventAnalytics.hllCube(spark, sf).collect()
      .map(r => (Option(r.getString(0)), Option(r.getTimestamp(1)),
        r.getLong(2), r.getLong(3)))
    // all four granularities present, and the grand-total row is there
    assert(rows.exists { case (t, d, _, _) => t.contains("__all__") && d.isEmpty })
    assert(rows.count { case (t, d, _, _) => t.exists(_ != "__all__") && d.isEmpty } >= 2)
    // estimates track exact counts (sigma ~ 6.5% at 256 registers;
    // 40% is a generous determinism-safe bound for cells over 100)
    rows.filter(_._4 > 100).foreach { case (t, d, est, exact) =>
      assert(math.abs(est - exact) <= exact * 2 / 5, s"($t,$d): est=$est exact=$exact")
    }
  }

  test("k-center coreset: cover scores are monotone; second center is the true farthest point") {
    val rows = ext.Similarity.kcenterCoreset(spark, sf)
      .orderBy("center_rank").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(rows.length === 8)
    assert(rows.map(_._2).distinct.length === 8)
    assert(rows.head._3.isEmpty) // the seed has no cover score
    // classic k-center monotonicity: every remaining vector's best-cos
    // only grows as centers are added, so the picked minima ascend
    val scores = rows.tail.map(_._3.get)
    assert(scores.zip(scores.tail).forall { case (a, b) => a <= b }, scores.toSeq)
    // center 2 recomputed directly: the vector least similar to the seed
    import graft.functions.expressions.GraftFunctions
    val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val seedEmb = emb.filter(col("vec_id") === rows.head._2)
      .select(col("embedding").as("s_emb"))
    val expect2 = emb.filter(col("vec_id") =!= rows.head._2)
      .crossJoin(broadcast(seedEmb))
      .select(col("vec_id"),
        round(GraftFunctions.cosineSim(col("embedding"), col("s_emb")), 9).as("mc"))
      .orderBy(col("mc").asc, col("vec_id").asc).limit(1).head()
    assert(rows(1)._2 === expect2.getLong(0))
  }

  test("warm-start components: equals cold labels in no more rounds; tranche edge merges prior clusters") {
    import spark.implicits._
    // two prior clusters {1,2,3} and {10,11}; tranche doc 100 bridges
    // them — the warm contraction over (forest ∪ new) must merge to
    // one min-id component
    val oldPairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val newPairs = Seq((3L, 100L), (11L, 100L)).toDF("doc_a", "doc_b")
    val forest = ext.Dedup.starComponents(oldPairs)._1
      .filter(col("v") =!= col("comp"))
      .select(col("v").as("doc_a"), col("comp").as("doc_b"))
    val warm = ext.Dedup.starComponents(forest.unionByName(newPairs))._1
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(warm === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 1L, 11L -> 1L,
      100L -> 1L))
    // real data: warm labels equal cold labels, in no more rounds
    val pairs = ext.Dedup.minhashLsh(spark, sf)
      .filter(col("est_jaccard") >= 0.8).select("doc_a", "doc_b")
    val (coldLabels, coldRounds) = ext.Dedup.starComponents(pairs)
    val warmQ = ext.Dedup.componentsWarmStart(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cold = coldLabels.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(warmQ === cold)
    val cut = Tables.documents(spark, sf)
      .agg((max(col("doc_id")) + 1 - expr("count(1) div 10")).as("c"))
      .head().getLong(0)
    val f2 = ext.Dedup.starComponents(
      pairs.filter(col("doc_b") < cut))._1
      .filter(col("v") =!= col("comp"))
      .select(col("v").as("doc_a"), col("comp").as("doc_b"))
    val (_, warmRounds) = ext.Dedup.starComponents(
      f2.unionByName(pairs.filter(col("doc_b") >= cut)))
    assert(warmRounds <= coldRounds)
  }

  test("warm quotient: delta-grain contraction == direct forest ∪ delta contraction") {
    import spark.implicits._
    // prior world: clusters {1,2,3}, {10,11}, singleton {20}, and
    // vertex 30 absent from the prior graph entirely
    val oldPairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 20L))
      .filter(p => p._1 != p._2).toDF("doc_a", "doc_b")
    val prior = ext.Dedup.starComponents(oldPairs)._1
      // add prior singleton self labels (a real prior index has them):
      // 20 is touched by the delta below, 21 is not
      .unionByName(Seq((20L, 20L), (21L, 21L)).toDF("v", "comp"))
    // delta: bridges the two clusters via new doc 100, touches the old
    // singleton 20 via new doc 101, pairs prior-absent old doc 30 with
    // new doc 102, and a new-new only pair (103, 104)
    val newPairs = Seq((3L, 100L), (11L, 100L), (20L, 101L), (30L, 102L),
      (103L, 104L)).toDF("doc_a", "doc_b")
    val direct = ext.Dedup.starComponents(
      prior.filter(col("v") =!= col("comp"))
        .select(col("v").as("doc_a"), col("comp").as("doc_b"))
        .unionByName(newPairs))._1
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val quotient = ext.Dedup.warmQuotient(prior, newPairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(quotient === direct)
    // and the merged bridge resolves to the global min id
    assert(quotient.contains((100L, 1L)) && quotient.contains((11L, 1L)))
    // the touched prior singleton joins its delta component; the
    // untouched one stays OUT of the warm graph (the vertex-set
    // contract of the direct contraction)
    assert(quotient.contains((20L, 20L)) && quotient.contains((101L, 20L)))
    assert(!quotient.exists(_._1 == 21L) && !direct.exists(_._1 == 21L))
  }

  test("allpairs-exact core: hot keys stay complete, threshold boundary is >=") {
    // 10 docs sharing one corpus-hot element (everything else unique):
    // pairwise J = 1/9, no output rows — and rarest-first ordering puts
    // the hot key LAST in every prefix-eligible position
    val hot = 1L
    val star = (0 until 10).flatMap(i =>
      (Seq(hot) ++ (1 to 4).map(k => 100L * (i + 1) + k)).map(h => (i.toLong, 5, h)))
    // an identical pair whose overlap INCLUDES the hot key — the case a
    // df-cap blocker drops and the prefix filter must keep (J = 1)
    val twins = Seq(300L, 301L).flatMap(d =>
      (Seq(hot) ++ (1 to 4).map(k => 9000L + k)).map(h => (d, 5, h)))
    // the exact threshold boundary: inter 4, union 5 -> J = 4/5 kept
    val edge = (1 to 4).map(k => (400L, 4, 5000L + k)) ++
      (Seq(5005L) ++ (1 to 4).map(k => 5000L + k)).map(h => (401L, 5, h))
    // just under: inter 4, union 6 -> J = 2/3 dropped
    val under = (1 to 5).map(k => (500L, 5, 6000L + k)) ++
      (Seq(6009L) ++ (1 to 4).map(k => 6000L + k)).map(h => (501L, 5, h))
    import spark.implicits._
    val ex = (star ++ twins ++ edge ++ under).toDF("doc_id", "sz", "h")
    val got = ext.Dedup.allPairsExactOn(ex)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3),
        x.getLong(4))).toSet
    assert(got === Set(
      (300L, 301L, 5L, 5L, 1000000L),
      (400L, 401L, 4L, 5L, 800000L)))
  }

  test("weighted reservoir: plain-Scala ES replica matches; weights shift the sample") {
    def md5_60(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val scored = docs.map { case (id, src, text) =>
      val w = text.split(" ", -1).length.toLong
      val u = (md5_60(id.toString) + 1).toDouble / 1152921504606846976L.toDouble
      val key = BigDecimal(math.log(u))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble / w.toDouble
      (src, id, w, key)
    }
    val expected = scored.groupBy(_._1).toSeq.flatMap { case (src, rows) =>
      rows.sortBy(t => (-t._4, t._2)).take(25).zipWithIndex
        .map { case ((_, id, _, key), i) => (id, src, key, (i + 1).toLong) }
    }.toSet
    val got = operators.Advanced.sampleWeightedReservoir(spark, sf)
      .select("doc_id", "source", "es_key", "sample_rank")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getLong(3))).toSet
    assert(got === expected)
    // the weighting is doing real work — on a fixture where the
    // reservoir genuinely subsamples (200 docs, K=25): heavy docs
    // (100 tokens) must be overrepresented vs light docs (1 token)
    val dir = TestSpark.tmpDir("wres")
    import spark.implicits._
    (0 until 200).map { i =>
      val text = if (i % 2 == 0) Seq.fill(100)("tok").mkString(" ") else "tok"
      (i.toLong, "s0", text)
    }.toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val kept = operators.Advanced.sampleWeightedReservoir(spark, dir)
      .select("doc_id").collect().map(_.getLong(0))
    assert(kept.length === 25)
    val heavy = kept.count(_ % 2 == 0)
    assert(heavy > 18, s"heavy docs kept: $heavy of 25")
  }

  test("changepoint: windowed prefix-min rewrite equals the direct CUSUM recursion") {
    val daily = Tables.events(spark, sf)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getTimestamp(0), r.getLong(1))).sortBy(_._1.getTime)
    val nd = daily.length.toLong
    val total = daily.map(_._2).sum
    val dev = daily.map { case (_, n) => n * nd - total }
    val k = dev.map(math.abs).sum / nd
    var (su, sd) = (0L, 0L)
    val expected = daily.zip(dev).map { case ((day, n), d) =>
      su = math.max(0L, su + d - k)
      sd = math.max(0L, sd - d - k)
      (day, n, su, sd, su > 4 * k || sd > 4 * k)
    }.toSeq
    val got = operators.EventAnalytics.changepoint(spark, sf)
      .orderBy("day").collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4))).toSeq
    assert(got === expected)
  }

  test("registerViews exposes events with the converted TIMESTAMP ts") {
    // the raw parquet layout varies by data generation (µs TIMESTAMP /
    // ns longs); the SQL view must always carry the converted column
    Tables.registerViews(spark, "/root/testdata/sf0.001")
    val dt = spark.sql("SELECT ts FROM events").schema("ts").dataType
    assert(dt === org.apache.spark.sql.types.TimestampType)
    assert(spark.sql("SELECT count(*) FROM events").head().getLong(0) > 0)
  }

  test("distinct_approx stays within 5% of exact at sf0.01") {
    val sf001 = "/root/testdata/sf0.01"
    val exact = operators.Relational.distinctExact(spark, sf001)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = operators.Relational.distinctApproxRaw(spark, sf001)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet === exact.keySet)
    exact.foreach { case (k, ex) =>
      val ap = approx(k)
      withClue(s"$k: approx=$ap exact=$ex")(
        assert(math.abs(ap - ex).toDouble / ex <= 0.05))
    }
    // the hash-verified contract form: every group's estimate lands in
    // the pinned band, so the boolean column the oracle pins is true
    val contract = operators.Relational.distinctApprox(spark, sf001).collect()
    assert(contract.forall(_.getBoolean(2)))
  }

  test("stats_quantile_sketch stays within 2% of exact percentiles at sf0.01") {
    val sf001 = "/root/testdata/sf0.01"
    val exact = operators.Relational.statsSummary(spark, sf001)
      .collect().map(r => r.getString(0) -> (r.getDouble(3), r.getDouble(4))).toMap
    val sketch = operators.Relational.quantileSketchRaw(spark, sf001)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(sketch.keySet === exact.keySet)
    exact.foreach { case (k, (p50, p90)) =>
      val (a50, a90) = sketch(k)
      withClue(s"$k: sketch=($a50,$a90) exact=($p50,$p90)") {
        // guard the denominator: a zero exact percentile would turn the
        // relative-error check into an opaque NaN assertion
        assert(p50 > 0 && p90 > 0, "exact percentile is zero — relative error undefined")
        assert(math.abs(a50 - p50) / p50 <= 0.02)
        assert(math.abs(a90 - p90) / p90 <= 0.02)
      }
    }
    // the hash-verified contract form: both in-band booleans true
    val contract = operators.Relational.quantileSketch(spark, sf001).collect()
    assert(contract.forall(r => r.getBoolean(2) && r.getBoolean(3)))
  }

  test("ANN-LSH top-3 recall vs brute-force ground truth (planted near-dups)") {
    // The sf corpus is near-uniform random — true top-3 cosine there is
    // ~0.3, where single-probe LSH recall is ~(1-θ/π)^8 ≈ a few percent
    // by construction, so pinning it tests nothing. Plant the regime
    // ANN is FOR: each query gets 3 near-duplicates (cosine ≈ 0.995,
    // per-pair collision ≈ 0.97^8 ≈ 0.77) in a sea of random vectors;
    // a bucketing regression (broken plane hash, wrong sign fold)
    // scatters the planted neighbors and recall collapses to ~0.
    val dir = TestSpark.tmpDir("annrecall")
    val rnd = new scala.util.Random(42)
    def unit(): Array[Float] = {
      val v = Array.fill(64)(rnd.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }
    val queries = (0 until 5).map(i => i.toLong -> unit())
    val planted = queries.flatMap { case (qid, q) =>
      (0 until 3).map { j =>
        val noisy = q.zip(unit()).map { case (a, e) => a + 0.07f * e }
        val n = math.sqrt(noisy.map(x => x.toDouble * x).sum).toFloat
        (100 + qid * 10 + j, noisy.map(_ / n))
      }
    }
    val filler = (0 until 400).map(i => (1000L + i, unit()))
    val rows = (queries ++ planted ++ filler).map { case (id, v) => (id, v, 0) }
    rows.toDF("vec_id", "embedding", "label").write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    val truth = ext.Similarity.bruteforceTopK(spark, dir)
      .filter(col("rank") <= 3)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // sanity: ground truth must be the planted near-dups
    assert(truth.forall { case (q, n) => n / 10 - 10 === q })
    val ann = ext.Similarity.annLshTopK(spark, dir)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (truth & ann).size.toDouble / truth.size
    withClue(s"recall=$recall")(assert(recall >= 0.4))
    // multi-probe (own bucket + 8 Hamming-1 neighbors) recovers the
    // planted neighbors that straddled a single hyperplane: per-pair
    // capture ≈ 0.77 + 8·0.095·0.77⁷ ≈ 0.92 vs 0.77 single-probe —
    // the recall lift the probe fan-out buys at (9/256)·corpus cost
    val multi = ext.Similarity.annLshMultiProbe(spark, dir)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val multiRecall = (truth & multi).size.toDouble / truth.size
    withClue(s"single=$recall multi=$multiRecall") {
      assert(multiRecall >= 0.8)
      assert(multiRecall >= recall)
    }
  }

  test("embNearDup hot-bucket cap bounds adversarial degenerate clusters") {
    // Adversarial fixture: 200 IDENTICAL vectors — all land in ONE LSH
    // bucket, which uncapped would generate 200·199/2 = 19900 candidate
    // pairs (the O(n²) blow-up the cap exists to prevent). Cap for
    // n=202 is max(64, 8·202/256) = 64 < 200, so the hot bucket is
    // excluded wholesale; a genuine near-dup pair in a cold bucket
    // (the NEGATED vector — complementary signs ⇒ guaranteed different
    // bucket) must survive.
    val dir = TestSpark.tmpDir("hotbucket")
    val rnd = new scala.util.Random(11)
    val v = {
      val x = Array.fill(64)(rnd.nextGaussian().toFloat)
      val n = math.sqrt(x.map(a => a.toDouble * a).sum).toFloat
      x.map(_ / n)
    }
    val hot = (0 until 200).map(i => (i.toLong, v))
    val cold = Seq((500L, v.map(-_)), (501L, v.map(-_)))
    (hot ++ cold).map { case (id, e) => (id, e, 0) }
      .toDF("vec_id", "embedding", "label").write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    val pairs = ext.Similarity.embNearDup(spark, dir)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((500L, 501L)))
    // the integer plane/cap formulas at the scales that matter
    assert(ext.Similarity.planesFor(2000L) === 8)
    assert(ext.Similarity.planesFor(16384L) === 8)
    assert(ext.Similarity.planesFor(16385L) === 9)
    assert(ext.Similarity.planesFor(1000000000L) === 24)
    assert(ext.Similarity.hotBucketCap(2000L, 8) === 64L)
    assert(ext.Similarity.hotBucketCap(1000000000L, 24) === 476L)
  }

  test("IVF top-3 recall vs brute-force ground truth (clustered corpus)") {
    // IVF's accuracy contract: when the corpus HAS cluster structure
    // (the regime a coarse quantizer is for), probing the query's
    // nearest cells recovers the true neighbors. 8 near-orthogonal
    // cluster directions in 64-dim; every vector = its direction +
    // noise, labeled by cluster (labels feed the centroid build);
    // queries sit in clusters 0-4 with 3 planted near-duplicates each.
    // A broken argmax/probe (wrong sign, wrong tiebreak, wrong cell
    // join) sends the re-rank to the wrong inverted list and recall
    // collapses; correct IVF recovers essentially all of it.
    val dir = TestSpark.tmpDir("ivfrecall")
    val rnd = new scala.util.Random(7)
    def unit(): Array[Float] = {
      val v = Array.fill(64)(rnd.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }
    def near(base: Array[Float], eps: Float): Array[Float] = {
      val noisy = base.zip(unit()).map { case (a, e) => a + eps * e }
      val n = math.sqrt(noisy.map(x => x.toDouble * x).sum).toFloat
      noisy.map(_ / n)
    }
    val dirs = (0 until 8).map(_ => unit())
    val queries = (0 until 5).map(i => (i.toLong, near(dirs(i), 0.3f), i))
    val planted = queries.flatMap { case (qid, q, lbl) =>
      (0 until 3).map(j => (100 + qid * 10 + j, near(q, 0.07f), lbl))
    }
    val filler = (0 until 400).map { i =>
      val k = i % 8; (1000L + i, near(dirs(k), 0.3f), k)
    }
    (queries ++ planted ++ filler).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val truth = ext.Similarity.bruteforceTopK(spark, dir)
      .filter(col("rank") <= 3)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.forall { case (q, n) => n / 10 - 10 === q })
    val ivf = ext.Similarity.ivfTopK(spark, dir)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (truth & ivf).size.toDouble / truth.size
    withClue(s"recall=$recall")(assert(recall >= 0.8))
  }

  test("multi-probe LSH at nProbe=1 degenerates exactly to the single-probe path") {
    val single = ext.Similarity.annLshTopK(spark, sf)
      .select("query_id", "rank", "neighbor_id", "score")
      .collect().map(_.toString).toSet
    val degenerate = ext.Similarity.annLshMultiProbe(spark, sf, nProbeOpt = Some(1))
      .collect().map(_.toString).toSet
    assert(degenerate === single)
  }

  test("IVF executes with a 300-cell quantizer (cell count is data, not generated code)") {
    // the round-2 design shipped the quantizer as |cells|×64 expression
    // literals — at production cell counts (1k-64k k-means cells) that
    // blows Janino's constant pool before arithmetic matters. The
    // broadcast-join + max_by form keeps cell count out of codegen:
    // this pins that a quantizer 30× the sf label count executes.
    val dir = TestSpark.tmpDir("ivfcells")
    val rnd = new scala.util.Random(11)
    def unit(): Array[Float] = {
      val v = Array.fill(64)(rnd.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }
    val rows = (0 until 1200).map(i => (i.toLong, unit(), i % 300))
    rows.toDF("vec_id", "embedding", "label").write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    val out = ext.Similarity.ivfTopK(spark, dir).collect()
    // 5 queries × top-3 within their nProbe=2 probed cells (≥7
    // non-self candidates per query at 4 vectors/cell)
    assert(out.length === 15)
    assert(out.map(_.getLong(0)).distinct.sorted.toSeq === Seq(0L, 1L, 2L, 3L, 4L))
  }

  test("sim_ivf_incremental: frozen-quantizer delta union equals a scratch full-corpus assignment") {
    // the maintenance law: assignment under a FIXED quantizer is
    // row-wise, so the served index (landed inverted file ∪ the
    // tranche assigned under the frozen cells) must equal assigning
    // the WHOLE corpus in one scratch pass under the same cells —
    // i.e. folding arrivals in is lossless, not an approximation.
    val (quant, base) = ext.Similarity.ivfBaseIndex(spark, sf)
    def assignAll = Tables.embeddings(spark, sf).crossJoin(broadcast(quant))
      .select(col("vec_id"),
        get(GraftFunctions.cellTopK(col("embedding"), col("qcells"), 1), lit(0))
          .as("cell"))
    val scratch = assignAll.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val delta = assignAll.filter(pmod(col("vec_id"), lit(2)) === 1)
    val union = (base.select(col("vec_id"), col("cell")).collect() ++
        delta.collect()).map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(union === scratch)
    // served shape: per query at most 3 hits, ranks contiguous from 1
    val out = SparkEntry.queries("sim_ivf_incremental")(spark, sf)
      .collect().groupBy(_.getLong(0))
    assert(out.nonEmpty)
    out.foreach { case (_, rows) =>
      assert(rows.length <= 3)
      assert(rows.map(_.getLong(1)).sorted.toSeq === (1 to rows.length).map(_.toLong))
    }
  }

  test("decontaminate counts benchmark 5-gram overlap; clean and short docs score zero") {
    val dir = TestSpark.tmpDir("decon")
    Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta"),  // benchmark doc: 3 shingles
      (30L, "alpha beta gamma delta epsilon nu xi"),    // leaks exactly 1 bench shingle
      (31L, "one two three four five six seven"),       // clean
      (32L, "tiny doc"))                                // < 5 words, no shingles
      .toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val got = ext.Dedup.decontaminate(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(got === Set(
      (1L, 3, 3),   // the benchmark overlaps itself fully
      (30L, 3, 1),
      (31L, 3, 0),
      (32L, 0, 0)))
  }

  test("decontaminate_bloom equals the exact path on fixture and sf0.001") {
    // fixture: same crafted docs as the exact test — bloom must agree
    val dir = TestSpark.tmpDir("deconbloom")
    Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta"),
      (30L, "alpha beta gamma delta epsilon nu xi"),
      (31L, "one two three four five six seven"),
      (32L, "tiny doc"))
      .toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val exact = ext.Dedup.decontaminate(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    val bloom = ext.Dedup.decontaminateBloom(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(bloom === exact)
    // corpus-scale agreement (no false negatives + exact confirm ⇒ identical)
    val sf = "/root/testdata/sf0.001"
    val e = ext.Dedup.decontaminate(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    val b = ext.Dedup.decontaminateBloom(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(b === e)
    assert(e.exists(_._3 > 0)) // the comparison is not vacuous
  }

  test("weighted_sq_dist kernel equals the declarative zip_with/aggregate fold") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(11)
    val rows = (1 to 40).map { i =>
      (i.toLong, Seq.fill(64)(rnd.nextFloat() * 4 - 2))
    }
    val mu = Seq.fill(64)(rnd.nextDouble() * 2 - 1)
    val w = Seq.fill(64)(rnd.nextDouble() * 3)
    val mw = mu.zip(w)
    val df = rows.toDF("id", "x")
    val got = df.select(col("id"),
      graft.functions.expressions.GraftFunctions
        .weightedSqDist(col("x"), typedLit(mu), typedLit(w)).as("k"),
      aggregate(
        zip_with(col("x"), typedLit(mw), (x, m) => {
          val e = x.cast("double") - m.getField("_1")
          e * e * m.getField("_2")
        }),
        lit(0.0), _ + _).as("ref"))
      .collect()
    got.foreach(r => assert(r.getDouble(1) === r.getDouble(2))) // bit-for-bit
  }

  test("vector_dot_int kernel equals the declarative zip_with/aggregate fold") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(7)
    val rows = (1 to 50).map { i =>
      (i.toLong, Seq.fill(64)(rnd.nextInt(255) - 127), Seq.fill(64)(rnd.nextInt(255) - 127))
    }
    val df = rows.toDF("id", "a", "b")
    val got = df.select(col("id"),
      graft.functions.expressions.GraftFunctions.vectorDotInt(col("a"), col("b")).as("k"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => (x.cast("long") * y)),
        lit(0L), _ + _).as("ref"))
      .collect()
    got.foreach(r => assert(r.getLong(1) === r.getLong(2)))
  }

  test("sim_topk_sq8: quantized shortlist recovers the exact top-3 at sf0.001") {
    val sf = "/root/testdata/sf0.001"
    val exact = ext.Similarity.bruteforceTopK(spark, sf).collect()
      .filter(_.getLong(1) <= 3).map(r => (r.getLong(0), r.getLong(2))).toSet
    val sq8 = ext.Similarity.sq8TopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    // int8 cosine error ~1e-4: the 10-deep integer shortlist must
    // recover the true top-3 except where exact scores are within the
    // quantization noise — demand ≥ 80% agreement overall
    val agree = (exact intersect sq8).size.toDouble / exact.size
    assert(agree >= 0.8, s"sq8 top-3 agreement $agree")
  }

  test("dedup_containment: a quote pasted whole pairs at C=1.0 where jaccard stays blind") {
    val dir = TestSpark.tmpDir("containment")
    val big = (1 to 60).map(i => s"w$i").mkString(" ")        // 56 shingles
    val quote = (20 to 31).map(i => s"w$i").mkString(" ")     // 8 shingles ⊂ big
    val other = (100 to 140).map(i => s"x$i").mkString(" ")
    Seq((1L, big), (2L, quote), (3L, other))
      .toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val cont = ext.Dedup.containmentPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(cont.toSeq === Seq((1L, 2L, 1.0))) // only the inclusion pair
    // the same pair is invisible to the symmetric jaccard detector
    val jac = ext.Dedup.ngramJaccard(spark, dir).collect()
    assert(!jac.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L))
  }

  test("pca: orthonormal components satisfying the eigen equation; projections carry the variance") {
    val sf = "/root/testdata/sf0.001"
    val k = 4
    val comps = ext.Similarity.pcaComponents(spark, sf, k)
    // eigenvalues descending and non-negative (covariance is PSD)
    assert(comps.map(_._1).sliding(2).forall(p => p.head >= p.last - 1e-9))
    assert(comps.forall(_._1 >= -1e-9))
    // orthonormality
    for (a <- 0 until k; b <- 0 until k) {
      val dot = comps(a)._2.zip(comps(b)._2).map { case (x, y) => x * y }.sum
      assert(math.abs(dot - (if (a == b) 1.0 else 0.0)) < 1e-8, s"v${a}.v$b = $dot")
    }
    // eigen equation against the independently computed covariance matrix
    val cov = Array.ofDim[Double](64, 64)
    ext.Similarity.covariance(spark, sf).collect().foreach { r =>
      cov(r.getInt(0))(r.getInt(1)) = r.getDouble(2)
      cov(r.getInt(1))(r.getInt(0)) = r.getDouble(2)
    }
    comps.foreach { case (lam, v) =>
      val av = (0 until 64).map(i => (0 until 64).map(j => cov(i)(j) * v(j)).sum)
      val resid = av.zip(v).map { case (x, y) => math.abs(x - lam * y) }.max
      assert(resid < 1e-5, s"eigen residual $resid for lambda=$lam") // cov rounded at 1e-6
    }
    // per-component projected population variance equals the eigenvalue
    val proj = ext.Similarity.pcaProject(spark, sf, 2).collect()
    (0 until 2).foreach { c =>
      val xs = proj.map(_.getDouble(c + 1))
      val mean = xs.sum / xs.length
      val varp = xs.map(x => (x - mean) * (x - mean)).sum / xs.length
      assert(math.abs(varp - comps(c)._1) < 1e-4 * math.max(1.0, comps(c)._1),
        s"pc$c variance $varp vs eigenvalue ${comps(c)._1}")
    }
  }

  test("dedup_spans_clean: reconstruction agrees with the flag relation; all-dup docs vanish") {
    val sf = "/root/testdata/sf0.001"
    val flags = ext.Dedup.spanDedup(spark, sf).collect()
      .groupBy(_.getLong(0))
      .view.mapValues(rs => rs.count(_.getBoolean(2))).toMap
    val clean = ext.Dedup.spanDedupClean(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // kept-span counts agree doc by doc; zero-kept docs are absent
    flags.foreach { case (doc, kept) =>
      if (kept == 0) assert(!clean.contains(doc), s"doc $doc should vanish")
      else assert(clean(doc) === kept.toLong, s"doc $doc")
    }
    assert(clean.keySet === flags.filter(_._2 > 0).keySet)
  }

  test("stats_ks_test: planted distribution shift scores KS=1, identical arms score 0") {
    import spark.implicits._
    val dir = TestSpark.tmpDir("ksfix")
    // type "shift": arm0 all 10.0, arm1 all 20.0 → KS = 1.0
    // type "same":  both arms identical values     → KS = 0.0
    val rows =
      (1 to 10).map(i => (i.toLong, i * 1000L, 1L, "shift", 10.0, s"""{"k": ${2 * i}}""")) ++
        (11 to 20).map(i => (i.toLong, i * 1000L, 1L, "shift", 20.0, s"""{"k": ${2 * i + 1}}""")) ++
        (21 to 30).map(i => (i.toLong, i * 1000L, 2L, "same", (i % 5) * 1.0, s"""{"k": ${i}}"""))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = operators.Relational.ksTest(spark, dir).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(got("shift") === 1.0)
    assert(got("same") < 0.35) // small arms of the same 5-value cycle
  }

  test("events_markov: transitions follow each user's (ts, id) order, no cross-user pairs") {
    import spark.implicits._
    val dir = TestSpark.tmpDir("markovfix")
    val rows = Seq(
      (1L, 1000L, 1L, "view", 1.0, "{}"),
      (2L, 2000L, 1L, "click", 1.0, "{}"),
      (3L, 3000L, 1L, "purchase", 1.0, "{}"),
      (4L, 1000L, 2L, "view", 1.0, "{}"),   // user 2's lone event: no transition
      (5L, 2000L, 3L, "click", 1.0, "{}"),
      (6L, 2000L, 3L, "view", 1.0, "{}"))   // same ts → event_id breaks the tie: click→view
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = operators.EventAnalytics.markov(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got === Set(("view", "click", 1L), ("click", "purchase", 1L),
      ("click", "view", 1L)))
  }

  test("text_bpe_step: pair counts weight by word frequency; dominant pair ranks first") {
    import spark.implicits._
    val dir = TestSpark.tmpDir("bpefix")
    // "abab" contributes ab×2, ba×1 per word instance; 3 instances →
    // ab=6, ba=3; "xy" once → xy=1; single-char "z" contributes nothing
    Seq((1L, "abab z"), (2L, "abab z"), (3L, "abab xy z"))
      .toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val got = graft.functions.TextAnalysis.bpeStep(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq === Seq(("ab", 6L), ("ba", 3L), ("xy", 1L)))
  }

  test("bpeMergeFold: left-to-right non-overlap on runs, multi-symbol symbols stay atomic") {
    import spark.implicits._
    val sep = graft.functions.TextAnalysis.BpeSep
    def fold(packed: String, s1: String, s2: String): String =
      Seq(packed).toDF("syms")
        .select(graft.functions.TextAnalysis.bpeMergeFold(col("syms"), s1, s2))
        .collect().head.getString(0)
    // run of three: merge (a,a) left-to-right → [aa, a], NOT [a, aa]
    assert(fold(Seq("a", "a", "a").mkString(sep), "a", "a") ===
      Seq("aa", "a").mkString(sep))
    // the merged symbol cannot re-match s1 within the same pass
    assert(fold(Seq("a", "a", "a", "a").mkString(sep), "a", "a") ===
      Seq("aa", "aa").mkString(sep))
    // a multi-char symbol is atomic: (a,a) must not fire inside "ba"
    assert(fold(Seq("ba", "a").mkString(sep), "a", "a") ===
      Seq("ba", "a").mkString(sep))
    // multi-symbol merge partner: (m, er) → mer
    assert(fold(Seq("m", "er", "g", "er").mkString(sep), "m", "er") ===
      Seq("mer", "g", "er").mkString(sep))
    // asymmetric (a, aa): merging consumes BOTH symbols, and the
    // result "aaa" no longer matches s1="a" for the next element
    assert(fold(Seq("a", "aa", "aa").mkString(sep), "a", "aa") ===
      Seq("aaa", "aa").mkString(sep))
  }

  test("text_bpe_vocab: the merge LOOP learns hand-computed merges and stops when exhausted") {
    import spark.implicits._
    val dir = TestSpark.tmpDir("bpevocabfix")
    // n_w: aaab=2, ccd=1. Hand-run of the loop (count desc, s1 asc,
    // s2 asc tie-break):
    //  1 (a,a)→aa    4    [a a a b]×2 has TWO (a,a) instances each
    //  2 (a,b)→ab    2    ties (aa,a) at 2; s1 "a" < "aa"
    //  3 (aa,ab)→aaab 2   multi-symbol pair — struct identity, not concat
    //  4 (c,c)→cc    1
    //  5 (cc,d)→ccd  1    then NO pairs remain → loop exhausts at 5/10
    Seq((1L, "aaab ccd"), (2L, "aaab"))
      .toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val got = graft.functions.TextAnalysis.bpeVocab(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).sortBy(_._1)
    assert(got.toSeq === Seq(
      (1L, "a", "a", "aa", 4L),
      (2L, "a", "b", "ab", 2L),
      (3L, "aa", "ab", "aaab", 2L),
      (4L, "c", "c", "cc", 1L),
      (5L, "cc", "d", "ccd", 1L)))
  }

  test("text_bpe_encode: learned merges compress the corpus; per-source integer ppm") {
    import spark.implicits._
    val dir = TestSpark.tmpDir("bpeencodefix")
    // training trace: (a,b) counts 2 (both words), every other pair 1,
    // and ties break s1-asc — so the greedy walks the long word's
    // PREFIX: (a,b), (ab,c), (abc,d), … (abcdefghij,k). That spends
    // all 10 merges with (k,l) still unlearned: the 12-char word
    // encodes to 2 symbols, "ab" to 1
    Seq((1L, "abcdefghijkl", "web"), (2L, "ab", "books"))
      .toDF("doc_id", "text", "source").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val got = graft.functions.TextAnalysis.bpeEncode(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(got === Seq(
      ("books", 1L, 1L, 1000000L),
      ("web", 1L, 2L, 2000000L)))
  }

  test("topKPacked: an 8-term query round-trips doc_id/n_terms (the base-8 packing would corrupt)") {
    import spark.implicits._
    // n_terms = 8 needs base 16: under the old fixed base 8 the packed
    // id would bleed into doc_id and flip the tie-break
    val scores = Seq(
      (1L, 10L, 500L, 8L), (1L, 11L, 500L, 3L), (1L, 12L, 900L, 8L),
      (2L, 7L, 100L, 1L))
      .toDF("query_id", "doc_id", "score_e6", "n_terms")
    val got = graft.functions.Retrieval.topKPacked(scores, 3, 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).sortBy(t => (t._1, t._2))
    assert(got.toSeq === Seq(
      (1L, 1L, 12L, 900L, 8L),  // top score
      (1L, 2L, 10L, 500L, 8L),  // tie: smaller doc_id ranks first
      (1L, 3L, 11L, 500L, 3L),
      (2L, 1L, 7L, 100L, 1L)))
    // out-of-range maxTerms fails loudly instead of corrupting output
    intercept[IllegalArgumentException] {
      graft.functions.Retrieval.topKPacked(scores, 3, 0)
    }
  }

  test("checkpointRelease refuses a frame with no LogicalRDD leaf (plan-shape drift guard)") {
    import spark.implicits._
    val plain = Seq(1, 2, 3).toDF("x") // never localCheckpointed
    intercept[IllegalArgumentException] {
      graft.Lineage.checkpointRelease(plain)
    }
    // and the real thing both releases and is idempotent
    val chk = Seq(1, 2, 3).toDF("x").localCheckpoint(true)
    val free = graft.Lineage.checkpointRelease(chk)
    free(); free()
  }

  test("the session extension supplies every kernel: each query analyzes on a bare clone") {
    // a newSession() clone holds only the built-in and the
    // extension-injected functions, and no query registers kernels
    // itself, so every declared plan must resolve on it as it is
    val clone = spark.newSession()
    SparkEntry.queries.foreach { case (name, fn) =>
      withClue(name) {
        fn(clone, sf).queryExecution.analyzed // analysis resolves or throws
      }
    }
  }

  test("misra-gries: guaranteed superset over a vocab far exceeding k, exact confirm thresholds") {
    import spark.implicits._
    // 200 distinct rare keys + 3 planted heavy keys; k=8 counters —
    // the sketch must decrement constantly yet never lose a key whose
    // frequency exceeds N/(k+1)
    val rare = (1 to 200).map(i => s"rare$i")
    val heavy = Seq.fill(120)("alpha") ++ Seq.fill(100)("beta") ++ Seq.fill(80)("gamma")
    val words = new scala.util.Random(42).shuffle((rare ++ heavy).toList) // order must not matter
    val k = 8
    val n = words.size.toLong // 500
    val df = words.toDF("token")
      .select(col("token"), xxhash64(col("token")).as("h"))
      .repartition(7) // force multi-partition partials and merges
    val cand = df.agg(graft.functions.MisraGries.mg(k)(col("h")).as("cand"))
      .collect().head.getSeq[Long](0)
    assert(cand.size <= k)
    val exact = words.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val mustHave = exact.filter { case (_, c) => c * (k + 1) > n }.keySet // > N/(k+1)
    val hashOf = df.select("token", "h").distinct().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    mustHave.foreach { t => assert(cand.contains(hashOf(t)), s"lost heavy key $t") }
  }

  test("dedup_spans: first occurrence kept across and within docs, partial tail spans dedup too") {
    val dir = TestSpark.tmpDir("spans")
    val spanA = (1 to 16).map(i => s"a$i").mkString(" ") // one full 16-token span
    val spanB = (1 to 16).map(i => s"b$i").mkString(" ")
    Seq(
      (1L, s"$spanA $spanB"),        // doc 1: spans 0=A, 1=B — both first
      (2L, s"$spanB $spanA"),        // doc 2: both already seen → both dropped
      (3L, s"$spanA $spanA"),        // doc 3: A seen; its OWN repeat also dropped
      (4L, "tail only"),             // 2-token partial span, novel → kept
      (5L, "tail only"))             // same partial span again → dropped
      .toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val got = ext.Dedup.spanDedup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getBoolean(2)).toMap
    assert(got === Map(
      (1L, 0L) -> true, (1L, 1L) -> true,
      (2L, 0L) -> false, (2L, 1L) -> false,
      (3L, 0L) -> false, (3L, 1L) -> false,
      (4L, 0L) -> true,
      (5L, 0L) -> false))
  }

  test("text_repetition pins degenerate docs: token loops, alternating bigrams, singletons") {
    val dir = TestSpark.tmpDir("rep")
    Seq((1L, "r r r r r"),  // degenerate loop: one bigram repeated, run of 5
        (2L, "a b a b a"),  // alternation: top bigram appears twice, no runs
        (3L, "one"),        // no bigrams at all
        (4L, "x y z"))      // clean text: everything 1
      .toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val got = functions.TextAnalysis.repetition(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3))).toSet
    assert(got === Set(
      (1L, 4, 4, 5),
      (2L, 4, 2, 1),
      (3L, 0, 0, 1),
      (4L, 2, 1, 1)))
  }

  test("text_scrub redacts real emails/URLs; URL-first order; counts from original text") {
    val dir = TestSpark.tmpDir("scrub")
    Seq(
      (1L, "contact me at alice.smith@example.com for details", "en", "s", 0L),
      (2L, "see https://example.com/a?b=c and http://user@host.org/x now", "en", "s", 0L),
      (3L, "no pii in this perfectly ordinary sentence", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = functions.TextAnalysis.scrub(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    assert(got(1L) === ((1, 0, "contact me at <EMAIL> for details")))
    // the email inside the URL's userinfo is counted (original text)
    // but scrubbed as part of the URL, not as a standalone email
    assert(got(2L) === ((1, 2, "see <URL> and <URL> now")))
    assert(got(3L) === ((0, 0, "no pii in this perfectly ordinary sentence")))
  }

  test("text_winnow: shared k+w-1 run guarantees a shared fingerprint; short docs emit none") {
    val dir = TestSpark.tmpDir("winnow")
    // docs 1 and 2 share exactly the 6-token run "c d e f g h"
    // (k + w - 1 = 3 + 4 - 1 = 6) — the winnowing guarantee says they
    // MUST share at least one fingerprint; doc 3 is below the shingle
    // length and must emit nothing
    Seq(
      (1L, "a b c d e f g h", "en", "s", 0L),
      (2L, "zz qq c d e f g h yy", "en", "s", 0L),
      (3L, "one two", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = functions.TextAnalysis.winnow(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byDoc = got.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert((byDoc(1L) & byDoc(2L)).nonEmpty)
    assert(!byDoc.contains(3L))
    // selection density: ≤ one fingerprint per window, distinct per doc
    assert(byDoc(1L).size <= 6 - 4 + 1 + 1) // s=6 shingles, w=4 → ≤ 3 windows (+1 slack not needed)
    assert(got.length === got.toSet.size)
  }

  test("text_oov_rate: instances of corpus-rare tokens counted, per-mille is exact") {
    val dir = TestSpark.tmpDir("oov")
    // corpus frequencies: cat=6 (in-vocab), dog=2 (<3 rare), ant=1 (rare)
    Seq(
      (1L, "cat cat dog", "en", "s", 0L),
      (2L, "cat cat cat dog ant", "en", "s", 0L),
      (3L, "cat", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = functions.TextAnalysis.oovRate(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) === ((3L, 1L, 333L)))
    assert(got(2L) === ((5L, 2L, 400L)))
    assert(got(3L) === ((1L, 0L, 0L)))
  }

  test("sample_temperature: sqrt-flattened rates — min source kept fully, large source at sqrt") {
    val dir = TestSpark.tmpDir("temp")
    // A: 400 docs, B: 100 docs → keep_pm(A) = floor(1000·sqrt(100/400)) = 500,
    // keep_pm(B) = 1000 (smallest source keeps everything)
    val rows = (1L to 400L).map(i => (i, s"doc $i", "en", "A", 0L)) ++
      (1000L to 1099L).map(i => (i, s"doc $i", "en", "B", 0L))
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = operators.Advanced.sampleTemperature(spark, dir).collect()
    val bySource = got.groupBy(_.getString(1))
    assert(bySource("B").length === 100) // all of the smallest source
    assert(got.filter(_.getString(1) == "A").forall(_.getLong(3) == 500L))
    assert(got.filter(_.getString(1) == "B").forall(_.getLong(3) == 1000L))
    val aKept = bySource("A").length
    assert(aKept > 0 && aKept < 400) // strictly downsampled, not truncated
  }

  test("sample_dsir: independent recompute — target-like docs weigh positive") {
    val dir = TestSpark.tmpDir("dsir")
    // target = doc_id < BenchmarkDocs(25): alpha-heavy; raw tail: beta-heavy.
    // Token counts well above the 64-bucket Laplace pseudo-mass, so the
    // learned ratios dominate the smoothing (as at corpus scale).
    def rep(t: String, n: Int) = Seq.fill(n)(t).mkString(" ")
    val rows = Seq(
      (1L, rep("alpha", 30) + " gamma gamma", "en", "s", 0L),
      (2L, rep("alpha", 20) + " gamma", "en", "s", 0L),
      (100L, rep("alpha", 20), "en", "s", 0L), // target-like raw doc
      (200L, rep("beta", 20), "en", "s", 0L),  // raw-only vocabulary
      (201L, rep("beta", 10) + " gamma", "en", "s", 0L))
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val got = operators.Advanced.sampleDsir(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
    assert(got.size === 5)
    assert(got(1L)._1 === 32L) // n_tokens = whitespace count

    // independent recompute: same md5 bucketing, Laplace +1 models
    val B = 64L
    def bucket(t: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(t.getBytes("UTF-8")).map(x => f"$x%02x").mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16) % B
    }
    val toks = rows.map { case (id, text, _, _, _) => id -> text.split(" ").toSeq }
    val tgt = toks.filter(_._1 < ext.Dedup.BenchmarkDocs).flatMap(_._2)
      .groupBy(bucket).view.mapValues(_.size.toLong).toMap
    val raw = toks.flatMap(_._2).groupBy(bucket).view.mapValues(_.size.toLong).toMap
    val (tt, rt) = (tgt.values.sum, raw.values.sum)
    def r9(x: Double) = BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    def dlp(b: Long) =
      r9(math.log((tgt.getOrElse(b, 0L) + 1).toDouble / (tt + B))) -
        r9(math.log((raw.getOrElse(b, 0L) + 1).toDouble / (rt + B)))
    for ((id, ts) <- toks) {
      val expected = ts.groupBy(bucket).map { case (b, g) => g.size * dlp(b) }.sum
      assert(math.abs(got(id)._2 - expected) < 1e-5, s"doc $id")
      assert(got(id)._3 === (got(id)._2 > 0.0), s"doc $id selected flag")
    }
    // the semantic claim: target vocabulary weighs positive, raw-only negative
    assert(got(100L)._3, "alpha-heavy raw doc should be selected")
    assert(!got(200L)._3, "beta-only raw doc should not be selected")
  }

  test("text_chunk: boundaries, overlap, and full coverage") {
    val dir = TestSpark.tmpDir("chunk")
    def toks(n: Int, p: String) = (1 to n).map(i => s"$p$i").mkString(" ")
    Seq(
      (1L, toks(10, "a"), "en", "s", 0L),   // fits → 1 chunk
      (2L, toks(64, "b"), "en", "s", 0L),   // exactly ChunkSize → 1 chunk
      (3L, toks(65, "c"), "en", "s", 0L),   // 1 over → 2 chunks
      (4L, toks(150, "d"), "en", "s", 0L))  // 3 chunks: 1+ceil(86/48)=3
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = functions.TextAnalysis.chunk(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getString(3)))).toMap
    assert(got.keys.count(_._1 == 1L) === 1 && got((1L, 0L))._1 === 10L)
    assert(got.keys.count(_._1 == 2L) === 1)
    assert(got.keys.count(_._1 == 3L) === 2)
    assert(got.keys.count(_._1 == 4L) === 3)
    // doc 3: chunk 1 holds tokens 49..65 (17 tokens)
    assert(got((3L, 1L))._1 === 17L)
    assert(got((3L, 1L))._2.split(" ").head === "c49")
    // overlap: doc 4 chunk 1 starts at token 49, inside chunk 0's 1..64
    assert(got((4L, 1L))._2.split(" ").take(16).toSeq ===
      (49 to 64).map(i => s"d$i"))
    // coverage: stride-aligned prefixes + final chunk reconstruct the doc
    val full = got((4L, 0L))._2.split(" ").take(48) ++
      got((4L, 1L))._2.split(" ").take(48) ++ got((4L, 2L))._2.split(" ")
    assert(full.toSeq === (1 to 150).map(i => s"d$i"))
  }

  test("text_hash_features: counts land in md5 buckets, row sums equal token counts") {
    val dir = TestSpark.tmpDir("hashfeat")
    Seq(
      (1L, "x x x", "en", "s", 0L),
      (2L, (1 to 10).map(i => s"w$i").mkString(" "), "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = functions.TextAnalysis.hashFeatures(spark, dir).collect()
      .map(r => r.getLong(0) -> (1 to 16).map(r.getLong)).toMap
    // a single repeated token: all mass in ONE bucket
    assert(got(1L).sum === 3L && got(1L).max === 3L)
    assert(got(2L).sum === 10L)
  }

  test("sim_range_search: every hit clears the threshold with an independently recomputed score; no self-hits") {
    val emb = Tables.embeddings(spark, sf)
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / math.sqrt(a.map(x => x * x).sum * b.map(x => x * x).sum)
    }
    val hits = SparkEntry.queries("sim_range_search")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(hits.nonEmpty)
    hits.foreach { case (q, n, s) =>
      assert(q != n)
      assert(s >= 0.2)
      val expect = BigDecimal(cos(emb(q), emb(n)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      withClue(s"pair ($q,$n)")(assert(math.abs(s - expect) < 2e-6))
    }
    // radius semantics: hit counts per query vary (not a fixed K)
    val counts = hits.groupBy(_._1).view.mapValues(_.length).values.toSet
    assert(counts.nonEmpty)
  }

  test("text_drift: per-half counts match an independent recompute; flag formula exact") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val counts = scala.collection.mutable.Map.empty[String, (Long, Long)]
    docs.foreach { case (id, text) =>
      text.split(" ").foreach { t =>
        val (e, o) = counts.getOrElse(t, (0L, 0L))
        counts(t) = if (id % 2 == 0) (e + 1, o) else (e, o + 1)
      }
    }
    val rows = SparkEntry.queries("text_drift")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getBoolean(6)))
    assert(rows.nonEmpty && rows.length <= 100)
    val tEven = rows.map(_._2).sum
    val tOdd = rows.map(_._3).sum
    rows.foreach { case (tok, ce, co, tf, se, so, flag) =>
      val (e, o) = counts(tok)
      assert(ce === e && co === o && tf === e + o)
      assert(se === ce * 1000000L / math.max(tEven, 1))
      assert(so === co * 1000000L / math.max(tOdd, 1))
      assert(flag === (math.abs(se - so) > 1000))
    }
    // top set is the max-total_tf slice of the true vocabulary
    val cut = rows.map(_._4).min
    assert(counts.values.count { case (e, o) => e + o > cut } <=
      rows.count(_._4 > cut))
  }

  test("emb_drift: sufficient statistics match an independent recompute; flag mixes true and false") {
    val emb = Tables.embeddings(spark, sf)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val rows = SparkEntry.queries("emb_drift")(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows.size === 64)
    // independent per-dim recompute of the integer sufficient stats
    val dims = Seq(0, 17, 63)
    dims.foreach { d =>
      var (na, nb, sa, sb) = (0L, 0L, 0L, 0L)
      emb.foreach { case (id, v) =>
        val e6 = math.floor(v(d).toDouble * 1e6 + 0.5).toLong
        if (id % 2 == 0) { na += 1; sa += e6 } else { nb += 1; sb += e6 }
      }
      val r = rows(d.toLong)
      assert(r.getLong(1) === na && r.getLong(2) === nb)
      assert(r.getLong(3) === sa && r.getLong(4) === sb)
      assert(r.getBoolean(7) ===
        (math.abs(sa.toDouble / na - sb.toDouble / nb) > 5000.0))
    }
    val flags = rows.values.map(_.getBoolean(7)).toSeq
    assert(flags.contains(true) && flags.contains(false))
  }

  test("emb_rp_sketch preserves similarity structure (JL property, sampled pairs)") {
    val emb = Tables.embeddings(spark, sf).filter(col("vec_id") < 40)
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val sk = ext.Similarity.rpSketch(spark, sf).filter(col("vec_id") < 40)
      .collect().map(r => r.getLong(0) ->
        (1 until r.length).map(r.getDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / math.sqrt(a.map(x => x * x).sum * b.map(x => x * x).sum)
    }
    val ids = emb.keys.toSeq.sorted
    val pairs = for (i <- ids.indices; j <- 0 until i) yield (ids(i), ids(j))
    val orig = pairs.map { case (a, b) => cos(emb(a), emb(b)) }
    val proj = pairs.map { case (a, b) => cos(sk(a), sk(b)) }
    // Pearson correlation between original-space and sketch-space
    // cosine over 780 pairs. The synthetic vectors are near-orthogonal,
    // so a 16-of-64 sketch's projection noise (~1/√16) keeps the
    // correlation modest (measured ≈ 0.45) — the pin is that it is
    // decisively nonzero: a broken projection (wrong planes, wrong
    // indexing, sign error) decorrelates to ≈ 0. Value-level
    // correctness is the DuckDB oracle's job (hash-checked).
    def corr(x: Seq[Double], y: Seq[Double]): Double = {
      val n = x.size; val mx = x.sum / n; val my = y.sum / n
      val cov = x.zip(y).map { case (a, b) => (a - mx) * (b - my) }.sum
      cov / math.sqrt(x.map(a => (a - mx) * (a - mx)).sum *
        y.map(b => (b - my) * (b - my)).sum)
    }
    assert(corr(orig, proj) > 0.3)
  }

  test("dedup_winnow_pairs: a copied paragraph pairs docs whose whole-doc overlap is tiny") {
    val dir = TestSpark.tmpDir("winnowpairs")
    // 14 copied tokens = two disjoint k+w-1 windows ⇒ ≥2 guaranteed
    // shared fingerprints; the surrounding 20 tokens are disjoint, so
    // whole-document Jaccard is far below any dedup threshold
    val copied = (1 to 14).map(i => s"copied$i").mkString(" ")
    Seq(
      (1L, (1 to 20).map(i => s"alpha$i").mkString(" ") + " " + copied, "en", "s", 0L),
      (2L, (1 to 20).map(i => s"beta$i").mkString(" ") + " " + copied, "en", "s", 0L),
      (3L, (1 to 34).map(i => s"gamma$i").mkString(" "), "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = ext.Dedup.winnowPairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.keySet === Set((1L, 2L)))
    assert(got((1L, 2L)) >= 2L)
  }

  test("min-label propagation: chains collapse to one component, keepers are minima") {
    // chain 1-2-3-4 (diameter 3: needs multiple rounds), pair 10-11,
    // and an isolated pairless vertex never appears (no edges -> no row)
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (3L, 4L), (4L, 3L),
      (10L, 11L), (11L, 10L)).toDF("src", "dst")
    val got = ext.Dedup.minLabelPropagate(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("sample_cap_source: caps each source at 50 docs, deterministically") {
    val dir = TestSpark.tmpDir("cap")
    // source A: 60 docs (10 must drop); source B: 3 docs (all survive)
    val rows = (1L to 60L).map(i => (i, s"doc $i", "en", "A", 0L)) ++
      (100L to 102L).map(i => (i, s"doc $i", "en", "B", 0L))
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = operators.Advanced.sampleCapPerSource(spark, dir).collect()
    val bySource = got.groupBy(_.getString(1))
    assert(bySource("A").length === 50)
    assert(bySource("B").length === 3)
    // deterministic: a second run selects the identical survivor set
    val again = operators.Advanced.sampleCapPerSource(spark, dir)
      .collect().map(_.getLong(0)).toSet
    assert(again === got.map(_.getLong(0)).toSet)
    // ranks are 1..cap with no gaps inside each source
    assert(bySource("A").map(_.getLong(3)).sorted.toSeq === (1L to 50L))
  }

  test("text_unigram_logprob: hand-computed unigram model on a tiny corpus") {
    val dir = TestSpark.tmpDir("unigram")
    // tf: a=2, b=2, c=1 over n=5 → lp(a)=lp(b)=ln(0.4), lp(c)=ln(0.2)
    Seq((1L, "a a b", "en", "s", 0L), (2L, "b c", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = functions.TextAnalysis.unigramLogprob(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    val ln04 = math.log(0.4); val ln02 = math.log(0.2)
    assert(got(1L)._1 === 3L)
    assert(math.abs(got(1L)._2 - ln04) < 1e-6)
    assert(math.abs(got(1L)._3 - ln04) < 1e-6)
    assert(got(2L)._1 === 2L)
    assert(math.abs(got(2L)._2 - (ln04 + ln02) / 2) < 1e-6)
    assert(math.abs(got(2L)._3 - ln02) < 1e-6)
  }

  test("pack_sequences: greedy concat-and-chunk boundaries per shard, integer math") {
    val dir = TestSpark.tmpDir("pack")
    // ids 0,32,64,96 share shard 0; id 1 is alone in shard 1.
    // 100-token docs against budget 256: starts at 0,100,200,300 →
    // packs 0,0,0,1 with offset 300-256=44 for the wrapped doc.
    def toks(n: Int) = Seq.fill(n)("w").mkString(" ")
    Seq(
      (0L, toks(100), "en", "s", 0L),
      (32L, toks(100), "en", "s", 0L),
      (64L, toks(100), "en", "s", 0L),
      (96L, toks(100), "en", "s", 0L),
      (1L, toks(300), "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = operators.Advanced.packSequences(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    assert(got(0L) === ((0L, 100L, 0L, 0L, 0L)))
    assert(got(32L) === ((0L, 100L, 100L, 0L, 100L)))
    assert(got(64L) === ((0L, 100L, 200L, 0L, 200L)))
    assert(got(96L) === ((0L, 100L, 300L, 1L, 44L)))
    assert(got(1L) === ((1L, 300L, 0L, 0L, 0L)))
  }

  test("int8 quantization: codes bounded by ±127, round-trip within half a step") {
    val q = ext.Similarity.quantizeVectors(spark, sf)
    val joined = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
      .join(q, "vec_id")
      .select(
        array_max(transform(col("q"), c => abs(c))).as("maxq"),
        // reconstruction error per element in units of the (nano-
        // rounded) scale: |x - q·s| must stay within half a step
        array_max(zip_with(col("embedding"), col("q"), (x, c) =>
          abs(x.cast("double") - c * (col("scale_e9") / 1e9))
            / (col("scale_e9") / 1e9))).as("worst"))
    val top = joined.agg(max("maxq"), max("worst")).first()
    assert(top.getInt(0) <= 127)
    assert(top.getDouble(1) <= 0.5001) // 1e-9 scale rounding slack
  }

  test("emb_quantize q_str decodes back to the exact int8 code array") {
    // the declared query emits CSV (driver row-sort can't order array
    // cells); pin that the encoding is lossless against the array form
    val arr = ext.Similarity.quantizeVectors(spark, sf).select("vec_id", "q")
    val diff = ext.Similarity.quantize(spark, sf)
      .select(col("vec_id"), split(col("q_str"), ",").cast("array<int>").as("decoded"))
      .join(arr, "vec_id")
      .filter(!(col("decoded") <=> col("q")))
    assert(diff.count() === 0)
  }

  test("kafka source: connector-on-classpath is a hard precondition (absent here)") {
    val e = intercept[Exception] {
      sources.KafkaSource.batchScan(spark, "localhost:9092", "events")
    }
    val msg = e.getMessage.toLowerCase
    withClue(msg)(assert(msg.contains("kafka")))
  }

  test("shingle_hashes kernel equals the declarative transform/array_join/xxhash64 form") {
    import graft.functions.expressions.GraftFunctions.shingleHashes
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .unionByName(Seq(
        (9001L, "one two three four"),        // < 5 words → null
        (9002L, "a b c d e"),                 // exactly one shingle
        (9003L, "x  y z w v u"),              // double space (empty word)
        (9004L, "r r r r r r r r")            // duplicate shingles
      ).toDF("doc_id", "text"))
    val ws = split(col("text"), " ")
    val declarative = when(size(ws) >= 5,
      array_distinct(transform(sequence(lit(1), size(ws) - 4),
        i => xxhash64(array_join(slice(ws, i, lit(5)), " ")))))
    val diff = docs.select(
      col("doc_id"),
      shingleHashes(col("text")).as("fast"),
      declarative.as("slow"))
      .filter(!(col("fast") <=> col("slow")))
    assert(diff.count() === 0)
  }

  test("shingle instance hashes equal xxhash64 of the joined n-gram strings") {
    import graft.functions.expressions.GraftFunctions.shingleInstanceHashes
    val docs = Tables.documents(spark, sf).limit(50)
    // n=2: kernel vs xxhash64(concat_ws(" ", w_i, w_{i+1})) per instance
    val ws = split(col("text"), " ")
    val declarative2 = when(size(ws) >= 2, transform(sequence(lit(2), size(ws)),
      i => xxhash64(concat_ws(" ", element_at(ws, i - 1), element_at(ws, i)))))
    assert(docs.select(
      (shingleInstanceHashes(col("text"), 2) === declarative2).as("eq"))
      .filter(!col("eq")).count() === 0)
    // n=1: kernel vs xxhash64 of each split token, order preserved
    val declarative1 = transform(ws, w => xxhash64(w))
    assert(docs.select(
      (shingleInstanceHashes(col("text"), 1) === declarative1).as("eq"))
      .filter(!col("eq")).count() === 0)
  }

  test("cell_top_k kernel equals the declarative sort_array(transform(...)) form") {
    val emb = Tables.embeddings(spark, sf)
    // quantizer-as-data: first 7 corpus vectors standing in as cells
    val quant = emb.filter(col("vec_id") < 7)
      .select(col("vec_id").cast("long").as("cell"), col("embedding").as("cw"))
      .agg(sort_array(collect_list(struct(col("cell"), col("cw")))).as("qcells"))
    val declarative = transform(
      slice(sort_array(transform(col("qcells"), c =>
        struct(GraftFunctions.cosineSim(col("embedding"), c.getField("cw")).as("s"),
          (-c.getField("cell")).as("nc"))), asc = false), 1, 3),
      p => -p.getField("nc"))
    val diff = emb.crossJoin(broadcast(quant))
      .select(col("vec_id"),
        GraftFunctions.cellTopK(col("embedding"), col("qcells"), 3).as("fast"),
        declarative.as("slow"))
      .filter(!(col("fast") <=> col("slow")))
    assert(diff.count() === 0)
    // zero-norm vector: no cell is scorable -> empty result, never null
    import spark.implicits._
    val z = Seq((0L, Array.fill(64)(0f))).toDF("vec_id", "embedding")
      .crossJoin(broadcast(quant))
      .select(GraftFunctions.cellTopK(col("embedding"), col("qcells"), 3).as("t"))
      .first()
    assert(z.getSeq[Long](0).isEmpty)
    // k beyond |cells| -> shortens to the 7 scorable cells, never pads
    val short = emb.limit(1).crossJoin(broadcast(quant))
      .select(size(GraftFunctions.cellTopK(col("embedding"), col("qcells"), 50)).as("n"))
      .first().getInt(0)
    assert(short === 7)
  }

  test("asof_last binary search: exact hit, between, before-first, empty, null timeline") {
    import graft.functions.expressions.GraftFunctions.asofLast
    val tl = Seq((1L, Seq((10L, 100L), (20L, 200L), (30L, 300L))),
                 (2L, Seq.empty[(Long, Long)]))
      .toDF("id", "tl")
    val probes = Seq((1L, 5L), (1L, 10L), (1L, 25L), (1L, 99L), (2L, 10L), (3L, 10L))
      .toDF("id", "key")
    val got = probes.join(tl, Seq("id"), "left")
      .select(col("id"), col("key"), asofLast(col("tl"), col("key")).as("pick"))
      .select(col("id"), col("key"), col("pick._2").as("v"))
      .collect().map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
      .toSet
    assert(got === Set(
      (1L, 5L, -1L),   // before first order → null
      (1L, 10L, 100L), // exact boundary hit (<=)
      (1L, 25L, 200L), // between → floor
      (1L, 99L, 300L), // after last → last
      (2L, 10L, -1L),  // empty timeline
      (3L, 10L, -1L))) // no timeline row (left-join miss)
  }

  test("GraftExtensions applies its injections to a fresh SparkSessionExtensions") {
    // extensions are applied at session construction, so the injected
    // functions are registered into a fresh registry through the
    // method a new session calls (private[sql], hence reflection), and
    // the built expressions are evaluated against the register path
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, SimpleFunctionRegistry}
    import org.apache.spark.sql.catalyst.expressions.Literal
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.functions.expressions.GraftExtensions()(ext)
    val extReg = new SimpleFunctionRegistry
    classOf[org.apache.spark.sql.SparkSessionExtensions]
      .getMethod("registerFunctions", classOf[FunctionRegistry])
      .invoke(ext, extReg)
    // the register path on a session registry with the graft names
    // dropped (a clone's registry is its own copy)
    val clone = spark.newSession()
    val sessionReg = clone.sessionState.functionRegistry
    def missing = GraftFunctions.functions.map(_._1).filterNot(sessionReg.functionExists)
    GraftFunctions.functions.foreach { case (id, _, _) => sessionReg.dropFunction(id) }
    assert(missing.size === GraftFunctions.functions.size)
    GraftFunctions.register(clone)
    assert(missing.isEmpty)
    val id = FunctionIdentifier(GraftFunctions.ShingleName)
    // 6 words → 5 bigram instances, 2 distinct bigrams
    val text = Literal("a b a b a b")
    def hashes(reg: FunctionRegistry, args: Literal*): Int =
      reg.lookupFunction(id, args.toSeq).eval()
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].numElements()
    for (reg <- Seq(extReg, sessionReg)) {
      assert(hashes(reg, text, Literal(2), Literal(false)) === 5)
      assert(hashes(reg, text, Literal(2), Literal(true)) === 2)
      assert(hashes(reg, text, Literal(2)) === 2)
    }
    assert(extReg.listFunction().map(_.funcName).toSet ===
      GraftFunctions.functions.map(_._1.funcName).toSet)
  }

  test("multimodal decode is deterministic and complete") {
    val meta = ext.Multimodal.decodeMeta(spark, sf)
    assert(meta.count() === Tables.documents(spark, sf).count())
    assert(meta.filter(col("format").isin("jpeg", "png", "webp")).count() === meta.count())
  }

  test("stats_quantile_exact equals the in-memory order statistic") {
    val byS = Tables.documents(spark, sf).select("source", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val got = operators.Relational.statsQuantileExact(spark, sf).collect()
    assert(got.length === byS.size * 4)
    got.foreach { r =>
      val (s, q, v, n) = (r.getString(0), r.getDouble(1), r.getLong(2), r.getLong(3))
      val xs = byS(s)
      assert(n === xs.length.toLong)
      assert(v === xs(math.floor(q * (n - 1)).toInt), s"source $s q $q")
    }
  }

  test("text_quality_bucket tiers partition the scored corpus exactly") {
    val buckets = functions.TextAnalysis.qualityBucket(spark, sf).collect()
    val scored = functions.TextAnalysis.unigramLogprob(spark, sf)
      .agg(count(lit(1)), sum(col("n_tokens"))).head()
    assert(buckets.map(_.getString(0)).toSet.subsetOf(Set("high", "mid", "low")))
    assert(buckets.map(_.getLong(1)).sum === scored.getLong(0))
    assert(buckets.map(_.getLong(2)).sum === scored.getLong(1))
  }

  test("q13 custdist sums to the customer count; q4 counts bounded by window orders") {
    val custTotal = Tables.customer(spark, sf).count()
    val dist = SparkEntry.queries("q13_customer_distribution")(spark, sf).collect()
    assert(dist.map(_.getLong(1)).sum === custTotal)
    val windowOrders = Tables.orders(spark, sf)
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-10-01").cast("timestamp")).count()
    val q4 = SparkEntry.queries("q4_order_priority")(spark, sf).collect()
    assert(q4.map(_.getLong(1)).sum <= windowOrders)
  }

  test("q17 cut is integer-exact: matches the in-memory 20%-of-avg recompute") {
    val rows = Tables.lineitem(spark, sf)
      .join(Tables.part(spark, sf).filter(col("p_brand") === "Brand#3" &&
        col("p_type") === "SMALL"), col("l_partkey") === col("p_partkey"))
      .select("l_partkey", "l_quantity", "l_extendedprice").collect()
      .map(r => (r.getLong(0), math.round(r.getDouble(1) * 100), math.round(r.getDouble(2) * 100)))
    val byPart = rows.groupBy(_._1)
    val kept = rows.filter { case (pk, q, _) =>
      val g = byPart(pk); q * 5 * g.length < g.map(_._2).sum
    }
    val expected = kept.map(_._3).sum / 700.0
    val got = SparkEntry.queries("q17_small_quantity")(spark, sf).collect().head
    assert(got.getLong(1) === kept.length.toLong)
    assert(math.abs(got.getDouble(0) - expected) < 1e-9)
  }

  test("stats_mannwhitney equals an in-memory midrank recompute; AUC in [0,1]") {
    val base = Tables.events(spark, sf)
      .select(col("event_type"),
        pmod(get_json_object(col("props"), "$.k").cast("long"), lit(2)).as("arm"),
        round(col("value") * 100).cast("long").as("cent"))
      .filter(col("arm").isNotNull).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val expected = base.groupBy(_._1).map { case (t, rows) =>
      val sorted = rows.map(r => (r._3, r._2)).sortBy(_._1)
      // midranks over the combined sample, doubled to stay integral
      var rank = 0L; var r2a = 0L
      sorted.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (_, tied) =>
        val ct = tied.length.toLong
        val twiceMid = 2 * rank + ct + 1
        r2a += tied.count(_._2 == 0L) * twiceMid
        rank += ct
      }
      val na = sorted.count(_._2 == 0L).toLong
      t -> (r2a - na * (na + 1))
    }
    val got = SparkEntry.queries("stats_mannwhitney")(spark, sf).collect()
    got.foreach { r =>
      assert(r.getLong(3) === expected(r.getString(0)), r.getString(0))
      val auc = r.getDouble(4)
      assert(auc >= 0.0 && auc <= 1.0)
    }
  }

  test("events_autocorr bounded in [-1,1]; path_topk is 20 paths, counts descending") {
    SparkEntry.queries("events_autocorr")(spark, sf).collect().foreach { r =>
      val a = r.getDouble(2)
      assert(a >= -1.0 - 1e-9 && a <= 1.0 + 1e-9)
    }
    val paths = SparkEntry.queries("events_path_topk")(spark, sf).collect()
    assert(paths.length === 20)
    val counts = paths.map(_.getLong(1))
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b })
  }

  test("text_readability: sentence floor means n_sentences == n_docs on this corpus") {
    val rows = SparkEntry.queries("text_readability")(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getLong(3) === r.getLong(1)) // n_sentences == n_docs
      val flesch = 206.835 - 1.015 * (r.getLong(2).toDouble / r.getLong(3)) -
        84.6 * (r.getLong(4).toDouble / r.getLong(2))
      assert(math.abs(r.getDouble(5) - (math.rint(flesch * 1e4) / 1e4)) < 1e-9)
    }
  }

  test("pq codes: 8 codes in [0,16); codebook vectors assign to themselves (dist 0)") {
    val codes = SparkEntry.queries("emb_pq_codes")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1).split(",").map(_.toInt)))
    assert(codes.forall { case (_, cs) => cs.length == 8 && cs.forall(c => c >= 0 && c < 16) })
    // the 16 lowest vec_ids ARE the codebook: each of their subspace
    // assignments must hit an exact-zero distance (itself or an
    // identical earlier codeword)
    val micro = Tables.embeddings(spark, sf).orderBy("vec_id").limit(16).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1e6 + 0.5).toLong).toArray))
    val cb = micro.map(_._2)
    micro.zip(codes.sortBy(_._1).take(16)).foreach { case ((id, v), (cid, cs)) =>
      assert(id === cid)
      for (s <- 0 until 8) {
        val j = cs(s)
        val d = (0 until 8).map(i => { val e = v(s * 8 + i) - cb(j)(s * 8 + i); e * e }).sum
        assert(d === 0L, s"vec $id subspace $s code $j")
      }
    }
  }

  test("sim_topk_pq: 5 ranked neighbors per query, ADC distances nondecreasing") {
    val rows = SparkEntry.queries("sim_topk_pq")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byQ = rows.groupBy(_._1)
    assert(byQ.size === 5)
    byQ.foreach { case (q, ns) =>
      assert(ns.length === 5, s"query $q")
      assert(ns.forall(_._2 != q))
      val sorted = ns.sortBy(_._4)
      assert(sorted.map(_._4).toSeq === Seq(1L, 2L, 3L, 4L, 5L))
      assert(sorted.map(_._3).zip(sorted.map(_._3).tail).forall { case (a, b) => a <= b })
    }
  }

  test("mm_batch_plan: batches bounded at 32, cover every doc, ids contiguous per shape") {
    val total = Tables.documents(spark, sf).count()
    val rows = SparkEntry.queries("mm_batch_plan")(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2), r.getLong(3)))
    assert(rows.forall(_._3 <= 32))
    assert(rows.map(_._3).sum === total)
    rows.groupBy(_._1).foreach { case (shape, bs) =>
      val ids = bs.map(_._2).sorted
      assert(ids.toSeq === (0L until ids.length).toSeq, s"shape $shape")
      // only the LAST batch of a shape may be partial
      val partial = bs.filter(_._3 < 32).map(_._2)
      assert(partial.length <= 1 && partial.forall(_ == ids.last), s"shape $shape")
    }
  }

  test("stats_bootstrap: 32 replicas, band ordered and centred near the exact mean") {
    val exact = Tables.events(spark, sf)
      .groupBy("event_type")
      .agg((sum(round(col("value") * 100).cast("long")).cast("double")
        / (lit(100.0) * count(lit(1)))).as("m")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    SparkEntry.queries("stats_bootstrap")(spark, sf).collect().foreach { r =>
      assert(r.getLong(1) === 32L)
      val (lo, hi) = (r.getDouble(2), r.getDouble(3))
      assert(lo <= hi)
      // a ~94% band from 32 Poissonized resamples of n≥150 events
      // should sit within ±50% of the exact mean — loose, but pins
      // sign/scale errors in the multiplicity fold
      val m = exact(r.getString(0))
      assert(lo > m * 0.5 && hi < m * 1.5, s"${r.getString(0)}: [$lo,$hi] vs $m")
    }
  }

  test("q2 argmin equals a window recompute; q9 profit term actually subtracts cost") {
    import org.apache.spark.sql.expressions.Window
    val pairs = Tables.lineitem(spark, sf).select("l_partkey", "l_suppkey").distinct()
    val eur = Tables.supplier(spark, sf)
      .join(Tables.nation(spark, sf), col("s_nationkey") === col("n_nationkey"))
      .join(Tables.region(spark, sf).filter(col("r_name") === "EUROPE"),
        col("n_regionkey") === col("r_regionkey"))
    val w = Window.partitionBy("p_partkey")
      .orderBy(round(col("s_acctbal") * 100).cast("long").asc, col("s_suppkey").asc)
    val expected = pairs
      .join(Tables.part(spark, sf).filter(col("p_type") === "LARGE"),
        col("l_partkey") === col("p_partkey"))
      .join(eur, col("l_suppkey") === col("s_suppkey"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("p_partkey", "s_suppkey").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = SparkEntry.queries("q2_min_supplier")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got === expected)
    // q9 regression pin (the leading-minus parse bug): profit must be
    // strictly below pure revenue for every group
    val rev = cents9(col("l_extendedprice")) * (lit(100L) - cents9(col("l_discount")))
    val revOnly = Tables.lineitem(spark, sf)
      .join(Tables.part(spark, sf).filter(col("p_name").contains("red")),
        col("l_partkey") === col("p_partkey"))
      .agg((sum(rev) / lit(10000.0)).as("r")).collect().head.getDouble(0)
    val profit = SparkEntry.queries("q9_profit_by_nation")(spark, sf)
      .agg(sum(col("sum_profit"))).collect().head.getDouble(0)
    assert(profit < revOnly)
  }

  private def cents9(c: org.apache.spark.sql.Column) =
    round(c * 100).cast("long")

  test("dedup_pq_blocks: every block has >=2 vectors and keeper is its minimum") {
    val blocks = SparkEntry.queries("dedup_pq_blocks")(spark, sf).collect()
    assert(blocks.nonEmpty)
    assert(blocks.forall(_.getLong(2) >= 2))
    val codes = SparkEntry.queries("emb_pq_codes")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1).split(",").take(4).mkString(",")))
    val byBlock = codes.groupBy(_._2).view.mapValues(_.map(_._1).min).toMap
    blocks.foreach { r =>
      assert(byBlock(r.getString(0)) === r.getLong(1))
    }
  }

  test("events_forecast_baseline scores exactly the days with a 7-day-old twin") {
    SparkEntry.queries("events_forecast_baseline")(spark, sf).collect().foreach { r =>
      // 30-day corpus: 23 scoreable days per type (days 8..30)
      assert(r.getLong(1) === 23L, r.getString(0))
      assert(r.getLong(2) >= 0L)
    }
  }

  test("sample_dedup_weight: covers every doc; cluster weight mass conserves to ~1 doc") {
    val rows = SparkEntry.queries("sample_dedup_weight")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length === Tables.documents(spark, sf).count())
    assert(rows.forall { case (_, sz, w) => w === 1000L / sz })
    assert(rows.filter(_._2 == 1L).forall(_._3 == 1000L))
  }

  test("events_mix_drift: halves partition the corpus; shares sum to ~1000pm each") {
    val rows = SparkEntry.queries("events_mix_drift")(spark, sf).collect()
    val total = Tables.events(spark, sf).count()
    assert(rows.map(r => r.getLong(1) + r.getLong(2)).sum === total)
    val sFirst = rows.map(_.getLong(3)).sum
    val sSecond = rows.map(_.getLong(4)).sum
    // integer div loses at most |types|-1 per-mille
    assert(sFirst > 1000 - rows.length && sFirst <= 1000)
    assert(sSecond > 1000 - rows.length && sSecond <= 1000)
    rows.foreach(r => assert(r.getLong(5) === r.getLong(3) - r.getLong(4)))
  }

  test("text_lang_confusion: rows sum to the corpus; diagonal recall dominates") {
    val rows = SparkEntry.queries("text_lang_confusion")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._3).sum === Tables.documents(spark, sf).count())
    // recall_pm is the exact integer per-mille of its labeled row
    rows.groupBy(_._1).foreach { case (_, cells) =>
      val rowTotal = cells.map(_._3).sum
      cells.foreach(c => assert(c._4 === c._3 * 1000 / rowTotal))
    }
    // the dominant corpus language is recognized as itself (en markers
    // are strongest; the other langs' recall is a classifier property,
    // not a matrix property — the matrix is exactly what reports it)
    val en = rows.filter(_._1 == "en")
    assert(en.maxBy(c => (c._3, c._2))._2 === "en")
  }

  test("char profile shares fold to ~1000pm; q15 returns the exact max; rank conserves mass") {
    SparkEntry.queries("text_char_profile")(spark, sf).collect().foreach { r =>
      val parts = Seq(r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(parts.forall(_ >= 0))
      val s = parts.sum
      assert(s > 1000 - 4 && s <= 1000, r.getString(0))
    }
    val tops = SparkEntry.queries("q15_top_supplier")(spark, sf).collect()
    assert(tops.nonEmpty)
    assert(tops.map(_.getDouble(2)).distinct.length === 1)
    // integer PageRank: total rank mass stays within the damped bound
    // n·150000 <= Σr <= n·1000000 (truncation only ever loses mass)
    val ranks = SparkEntry.queries("dedup_graph_rank")(spark, sf).collect()
      .map(_.getLong(1))
    assert(ranks.forall(r => r >= 150000L && r <= ranks.length * 1000000L))
  }

  test("sim_ivfpq_topk: every neighbor comes from a probed IVF cell, ADC-ranked") {
    val ivfpq = SparkEntry.queries("sim_ivfpq_topk")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val full = SparkEntry.queries("sim_topk_pq")(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val (_, assigned) = graft.ext.Similarity.ivfIndex(spark, sf)
    val cellOf = assigned.select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byQ = ivfpq.groupBy(_._1)
    assert(byQ.size === 5)
    byQ.foreach { case (q, ns) =>
      assert(ns.length === 5, s"query $q")
      val sorted = ns.sortBy(_._4)
      assert(sorted.map(_._3).zip(sorted.map(_._3).tail).forall { case (a, b) => a <= b })
      // restriction contract: results span at most NumProbe=2 distinct cells
      assert(ns.map(n => cellOf(n._2)).toSet.size <= 2, s"query $q")
      // ADC distances agree with the unrestricted PQ scan where the
      // same (query, neighbor) pair appears in both top-5 sets
      ns.foreach { case (qq, nb, d, _) =>
        full.get((qq, nb)).foreach(fd => assert(fd === d, s"($qq,$nb)"))
      }
    }
  }

  test("stats_sprt: final LLR equals the closed form; decisions match the bound") {
    val rows = SparkEntry.queries("stats_sprt")(spark, sf).collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getString(5)))
    rows.groupBy(_._1).foreach { case (t, days) =>
      val last = days.maxBy(_._2.getTime)
      val cs = days.map(_._4).sum
      val cn = days.map(_._3).sum
      val expected = math.rint((cs * 0.251314428280906 +
        (cn - cs) * -0.167054084663166) * 1e6) / 1e6
      assert(math.abs(last._5 - expected) < 1e-9, t)
    }
    rows.foreach { case (_, _, _, _, llr, d) =>
      val expect = if (llr >= 2.944438979166440) "accept_h1"
        else if (llr <= -2.944438979166440) "accept_h0" else "continue"
      assert(d === expect)
    }
  }

  test("dedup_lsh_sweep: more bands never lose candidates; confirmed bounded; cap idle here") {
    val rows = SparkEntry.queries("dedup_lsh_sweep")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq === Seq(2L, 4L, 8L))
    assert(rows.forall { case (nb, rpb, _, _, _, _) => nb * rpb === 16L })
    // no bucket exceeds the 64-doc cap at this sf, so recall
    // monotonicity holds unconditioned: every pair caught by an r-row
    // band is caught by its two (r/2)-row halves in the finer config
    assert(rows.forall(_._6 === 0L))
    assert(rows(0)._3 <= rows(1)._3 && rows(1)._3 <= rows(2)._3)
    assert(rows.forall { case (_, _, cand, conf, _, _) => conf <= cand })
  }

  test("lsh sweep hot-bucket cap excludes an adversarial boilerplate bucket") {
    // 100 identical docs would form one band bucket of occupancy 100 >
    // 64 in EVERY config — the cap must exclude it (else pair work is
    // occupancy² = 10k per bucket at any scale)
    import spark.implicits._
    val dir = TestSpark.tmpDir("lshcap")
    val docs = (0L until 100L).map(i => (i, ("spark " * 30).trim, "en", "src0", 60L)) :+
      ((100L, "unique words entirely different content here now", "en", "src0", 40L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("dedup_lsh_sweep")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(5)))
    rows.foreach { case (nb, cand, capped) =>
      assert(capped >= 1L, s"config $nb should cap the boilerplate bucket")
      assert(cand === 0L, s"config $nb pair work must be zero after the cap")
    }
  }

  test("grouping sets emit exactly the three requested grains; trigram profile ranked") {
    val gs = SparkEntry.queries("agg_grouping_sets")(spark, sf).collect()
      .map(r => (r.getLong(2), r.getLong(3)))
    // (g_type, g_dow) ∈ {(0,1) per-type, (1,0) per-dow, (1,1) total} — never (0,0)
    assert(gs.toSet === Set((0L, 1L), (1L, 0L), (1L, 1L)).filter(k => gs.contains(k)))
    assert(!gs.contains((0L, 0L)))
    assert(gs.count(_ == (1L, 1L)) === 1)
    val tp = SparkEntry.queries("text_ngram_profile")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3)))
    tp.groupBy(_._1).foreach { case (lang, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq === (1L to sorted.length).toSeq, lang)
      assert(sorted.map(_._4).zip(sorted.map(_._4).tail).forall { case (a, b) => a >= b }, lang)
      assert(rows.forall(_._3.length == 3), lang)
    }
  }

  test("sessionize_native equals the lag-cumsum sessionize row-for-row") {
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select("user_id", "session_id", "session_start", "session_end",
        "n_events", "n_clicks", "duration_us")
      .collect().map(_.toString).toSet
    val a = norm(SparkEntry.queries("sessionize")(spark, sf))
    val b = norm(SparkEntry.queries("sessionize_native")(spark, sf))
    assert(a === b)
  }

  test("join_asof_tolerance: stale picks nulled, fresh picks identical to join_asof") {
    val base = SparkEntry.queries("join_asof")(spark, sf).collect()
      .map(r => r.getLong(0) -> (Option(r.get(3)), Option(r.get(4)))).toMap
    val tol = SparkEntry.queries("join_asof_tolerance")(spark, sf).collect()
    val bound = 30L * 86400 * 1000000L
    var nulled = 0
    tol.foreach { r =>
      val (bk, bd) = base(r.getLong(0))
      if (r.isNullAt(3)) {
        // either no match at all, or the base match was stale
        bd.foreach { d =>
          val dUs = d match {
            case t: java.sql.Timestamp => t.getTime * 1000
            case l: java.time.LocalDateTime =>
              l.toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000
          }
          val gap = r.getTimestamp(2).getTime * 1000 - dUs
          assert(gap > bound)
          nulled += 1
        }
      } else {
        assert(Option(r.get(3)) === bk && Option(r.get(4)) === bd)
      }
    }
    assert(nulled > 0) // the 30-day bound actually bites on this corpus
  }

  test("quality calibration covers the corpus; dup members match the component index") {
    val rows = SparkEntry.queries("dedup_quality_calibration")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._2).sum === Tables.documents(spark, sf).count())
    val dupTotal = graft.ext.Dedup.dupComponents(spark, sf, 0.8).count()
    assert(rows.map(_._3).sum === dupTotal)
    rows.foreach { case (b, n, d, pm) =>
      assert(b >= 0 && b <= 9)
      assert(pm === d * 1000 / n)
    }
  }

  test("emb_label_cohesion covers every vector; mean cosine stays in (-1, 1]") {
    val rows = ext.Similarity.embLabelCohesion(spark, sf).collect()
    assert(rows.map(_.getLong(1)).sum === Tables.embeddings(spark, sf).count())
    rows.foreach { r =>
      val mean = r.getLong(2).toDouble / (r.getLong(1) * 1e6)
      withClue(s"label ${r.getInt(0)}")(assert(mean > -1.0 && mean <= 1.0))
    }
  }

  test("sim_topk_mips rank-1 equals the in-memory argmax dot per query") {
    val vecs = Tables.embeddings(spark, sf).select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toMap
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    val top = ext.Similarity.mipsTopK(spark, sf).filter($"rank" === 1).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    (0L until 5L).foreach { q =>
      val expect = vecs.keys.filter(_ != q)
        .maxBy(c => (dot(vecs(q), vecs(c)), -c))
      withClue(s"query $q")(assert(top(q) === expect))
    }
  }

  test("sim_knn_graph: <=K edges per src; mutual flag == reverse-edge existence") {
    val edges = ext.Similarity.knnGraph(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getBoolean(4)))
    val edgeSet = edges.map(e => (e._1, e._2)).toSet
    edges.groupBy(_._1).foreach { case (src, es) =>
      withClue(s"src $src")(assert(es.length <= 3))
    }
    edges.foreach { case (src, dst, mutual) =>
      withClue(s"$src->$dst")(assert(mutual === edgeSet.contains((dst, src))))
    }
  }

  test("emb_cluster_knn: labels cover every vector; mutual edges never cross clusters") {
    val labels = ext.Similarity.knnClusters(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(labels.length === Tables.embeddings(spark, sf).count())
    val comp = labels.map(l => (l._1, l._2)).toMap
    labels.foreach { case (v, c, isRep) =>
      assert(comp(c) === c, s"representative $c must label itself")
      assert(isRep === (v === c))
    }
    ext.Similarity.knnGraph(spark, sf).filter($"mutual").collect()
      .foreach { r =>
        val (s, d) = (r.getLong(0), r.getLong(2))
        withClue(s"$s-$d")(assert(comp(s) === comp(d)))
      }
  }

  test("pii: scan finds the injected fixtures; redaction leaves zero residual matches") {
    import graft.functions.TextAnalysis
    val scans = TextAnalysis.piiScan(spark, sf).collect()
    scans.foreach { r =>
      withClue(s"doc ${r.getLong(0)}") {
        assert(r.getLong(1) >= 2) // two injected emails
        assert(r.getLong(2) >= 1) // injected IPv4
        assert(r.getLong(3) >= 1) // injected phone
        assert(r.getLong(4) >= 1) // injected SSN-shaped id
        assert(r.getBoolean(5))
      }
    }
    val residual = TextAnalysis.piiRedactedText(spark, sf)
      .select(
        (size(regexp_extract_all($"redacted", lit(TextAnalysis.EmailRe), lit(0))) +
          size(regexp_extract_all($"redacted", lit(TextAnalysis.Ipv4Re), lit(0))) +
          size(regexp_extract_all($"redacted", lit(TextAnalysis.PhoneRe), lit(0))) +
          size(regexp_extract_all($"redacted", lit(TextAnalysis.SsnRe), lit(0)))
          ).as("n"))
      .agg(sum($"n")).first().getLong(0)
    assert(residual === 0L)
  }

  test("text_zipf: contiguous ranks from 1, rank-1 permille exactly 1000, tf nonincreasing") {
    val rows = SparkEntry.queries("text_zipf")(spark, sf)
      .orderBy($"rank").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).toSeq === (1L to rows.length))
    assert(rows.head._3 === 1000L)
    rows.sliding(2).foreach {
      case Array((_, tf1, _), (_, tf2, _)) => assert(tf1 >= tf2)
      case _ =>
    }
  }

  test("text_gopher_rules: each injected defect class fails its targeted rule; keep = AND of rule bits") {
    val rows = SparkEntry.queries("text_gopher_rules")(spark, sf).collect()
    assert(rows.length > 0)
    val idx = rows.head.schema.fieldNames.zipWithIndex.toMap
    def bit(r: org.apache.spark.sql.Row, n: String): Boolean = r.getBoolean(idx(n))
    val ruleNames = Seq("r_wordcount", "r_meanlen", "r_symbol", "r_bullet",
      "r_ellipsis", "r_alpha", "r_stopword")
    // targeted rule per doc_id % 11 defect class (3 also trips others on
    // the stub; only the targeted bit is asserted)
    val targeted = Map(0L -> "r_bullet", 1L -> "r_ellipsis", 2L -> "r_symbol",
      3L -> "r_wordcount", 4L -> "r_alpha", 5L -> "r_stopword", 6L -> "r_meanlen")
    rows.foreach { r =>
      val id = r.getLong(idx("doc_id"))
      targeted.get(id % 11).foreach { rule =>
        withClue(s"doc $id should fail $rule")(assert(!bit(r, rule)))
      }
      withClue(s"doc $id keep bit")(
        assert(bit(r, "keep") === ruleNames.forall(bit(r, _))))
    }
    // at least one pass-through doc survives the full gate
    assert(rows.exists(r => bit(r, "keep")))
  }

  test("pack_efficiency: exact recompute per candidate length; utilization bounded and monotone vs padding") {
    val nTokens = Tables.documents(spark, sf)
      .select(size(split(col("text"), " ")).cast("long")).as[Long].collect()
    val rows = SparkEntry.queries("pack_efficiency")(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows.keySet === Set(128L, 512L, 2048L, 8192L))
    rows.foreach { case (l, r) =>
      val chunks = nTokens.map(n => (n + l - 1) / l).sum
      val total = nTokens.sum
      assert(r.getLong(1) === nTokens.length.toLong)
      assert(r.getLong(2) === total)
      assert(r.getLong(3) === chunks)
      assert(r.getLong(4) === chunks * l - total)
      assert(r.getLong(5) === total * 1000 / (chunks * l))
      assert(r.getLong(5) <= 1000L)
    }
    // padding can only grow with L once every doc fits in one chunk
    val utils = Seq(512L, 2048L, 8192L).map(rows(_).getLong(5))
    assert(utils === utils.sorted.reverse)
  }

  test("emb_incremental_neardup: exactly the full pass's cross-parity pairs, identical scores") {
    val full = ext.Similarity.embNearDup(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .collect { case ((a, b), s) if a % 2 != b % 2 =>
        (if (a % 2 == 1) (a, b) else (b, a)) -> s
      }.toMap
    val inc = SparkEntry.queries("emb_incremental_neardup")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(inc.keySet === full.keySet)
    inc.foreach { case (pair, s) => assert(s === full(pair)) }
    assert(inc.nonEmpty)
  }

  test("dedup_incremental: exactly the full-pass pairs that cross the cutoff, identical grades") {
    val n = Tables.documents(spark, sf).count()
    val maxId = Tables.documents(spark, sf).agg(max("doc_id")).as[Long].head()
    val cutoff = maxId + 1 - n / 10
    val full = ext.Dedup.minhashLsh(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .collect { case ((a, b), e) if a < cutoff && b >= cutoff => ((b, a), e) }
      .toMap
    val inc = SparkEntry.queries("dedup_incremental")(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getDouble(2), r.getBoolean(3))))
      .toMap
    assert(inc.keySet === full.keySet)
    inc.foreach { case (pair, (e, dup)) =>
      assert(e === full(pair))
      assert(dup === (e >= 0.8))
    }
  }

  test("corpus_drop_reasons: the kept set is exactly corpus_prep_full's output; reasons respect precedence") {
    val reasons = SparkEntry.queries("corpus_drop_reasons")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
    val keptSet = reasons.filter(_._3).map(_._1).toSet
    val fullSet = operators.Advanced.corpusPrepFull(spark, sf)
      .select("doc_id").as[Long].collect().toSet
    assert(keptSet === fullSet)
    reasons.foreach { case (id, reason, kept) =>
      assert(kept === (reason == "kept"))
      if (id < 25) assert(reason === "benchmark")
    }
    // the audit covers the whole corpus and every reason code appears
    assert(reasons.length === Tables.documents(spark, sf).count())
    val codes = reasons.map(_._2).toSet
    assert(codes.contains("kept") && codes.contains("benchmark") &&
      codes.contains("quality"))
  }

  test("mix solver saturation branch: a starved source is taken whole and its share re-spreads") {
    // adversarial skew: src1 is tiny but carries weight 2 — its
    // weighted share of the half-corpus budget exceeds its supply, so
    // it MUST saturate (the branch the near-uniform corpus never hits)
    val per = Seq(
      ("src0", 10L, 100000L, 1L),
      ("src1", 10L, 50L, 2L),
      ("src2", 10L, 80000L, 1L))
      .toDF("source", "n_docs", "n_tokens", "weight")
    val out = operators.Advanced.mixSolver(per).collect()
      .map(r => r.getString(0) -> r).toMap
    // budget = 180050 div 2 = 90025; src1 saturates at 50 tokens
    assert(out("src1").getBoolean(4) === true)
    assert(out("src1").getLong(5) === 50L)
    // the unsaturated pair sits at the common water level λ = 89975/2
    val lam = (90025L - 50L) / 2L
    assert(out("src0").getBoolean(4) === false)
    assert(out("src0").getLong(5) === lam)
    assert(out("src2").getBoolean(4) === false)
    assert(out("src2").getLong(5) === lam)
    // budget filled up to flooring slack
    val alloc = out.values.map(_.getLong(5)).sum
    assert(alloc <= 90025L && 90025L - alloc < 2)
  }

  test("sample_mix_tokens: water-filling invariants — caps, budget fill, common water level") {
    val rows = SparkEntry.queries("sample_mix_tokens")(spark, sf).collect()
    val idx = rows.head.schema.fieldNames.zipWithIndex.toMap
    val nTok = rows.map(_.getLong(idx("n_tokens")))
    val alloc = rows.map(_.getLong(idx("alloc_tokens")))
    val sat = rows.map(_.getBoolean(idx("saturated")))
    val weight = rows.map(_.getLong(idx("weight")))
    val budget = nTok.sum / 2
    // every allocation within its source's supply; saturated = taken whole
    rows.indices.foreach { i =>
      assert(alloc(i) <= nTok(i))
      if (sat(i)) assert(alloc(i) === nTok(i)) else assert(alloc(i) < nTok(i))
    }
    // budget filled up to < 1 token of flooring slack per unsaturated source
    val nUnsat = sat.count(!_)
    assert(alloc.sum <= budget)
    assert(budget - alloc.sum < nUnsat.max(1))
    // unsaturated sources sit at a common water level: alloc div weight
    // equal up to flooring (difference < 1 token per weight unit)
    val levels = rows.indices.filterNot(sat(_)).map(i => alloc(i) / weight(i))
    if (levels.nonEmpty) assert(levels.max - levels.min <= 1)
  }

  test("label propagation core: exact majority wins; ties break to the smaller label; unreached stay absent") {
    // undirected star fixture: node 10 sees labels {3, 7} once each
    // (tie → 3); node 11 sees {7, 7, 3} (majority 7); node 12 has no
    // labeled neighbor in round 1 but reaches 10's round-1 label in
    // round 2; node 99 is disconnected
    val edges = Seq(
      (10L, 1L), (10L, 2L),
      (11L, 3L), (11L, 4L), (11L, 5L),
      (12L, 10L))
      .toDF("src", "dst")
    val seeds = Seq(
      (1L, 3, 0), (2L, 7, 0),
      (3L, 7, 0), (4L, 7, 0), (5L, 3, 0))
      .toDF("v", "plabel", "prop_round")
    val out = ext.Similarity.propagateRounds(edges, seeds, 2).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    assert(out(10L) === ((3, 1)))  // tie {3,7} → smaller label
    assert(out(11L) === ((7, 1)))  // 2-vs-1 majority
    assert(out(12L) === ((3, 2)))  // second-round frontier
    assert(!out.contains(99L))     // disconnected never labeled
    assert(out(1L) === ((3, 0)))   // seeds untouched
  }

  test("sim_label_prop: seeds keep truth at round 0; propagated labels come from mutual neighbors; rounds bounded") {
    val rows = SparkEntry.queries("sim_label_prop")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1),
        if (r.isNullAt(2)) None else Some(r.getInt(2)),
        if (r.isNullAt(3)) None else Some(r.getInt(3))))
    assert(rows.length === Tables.embeddings(spark, sf).count())
    val byRound = rows.groupBy(_._4)
    // every seed keeps its true label at round 0
    byRound(Some(0)).foreach { case (id, truth, prop, _) =>
      assert(id < 100 && prop === Some(truth))
    }
    // propagation actually reached new vectors, in bounded rounds
    assert(byRound.keySet.subsetOf(Set(None, Some(0), Some(1), Some(2))))
    assert(byRound.contains(Some(1)))
    // each propagated label is one of the node's mutual-neighbor labels
    // at the PREVIOUS round (validity, recomputed from the graph query)
    val edges = ext.Similarity.knnGraph(spark, sf)
      .filter(col("mutual")).select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val labelAt = rows.collect { case (id, _, Some(p), Some(rd)) => id -> (p, rd) }.toMap
    byRound.getOrElse(Some(1), Array.empty).foreach { case (id, _, Some(p), _) =>
      val neighborSeedLabels = edges.collect {
        case (s, d) if s == id && labelAt.get(d).exists(_._2 == 0) => labelAt(d)._1
      }
      withClue(s"node $id")(assert(neighborSeedLabels.contains(p)))
    }
  }

  test("sim_hard_negatives: no neighbor shares its query's label; 5 ranked hits per query") {
    val emb = Tables.embeddings(spark, sf)
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = ext.Similarity.hardNegatives(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    rows.groupBy(_._1).foreach { case (q, hits) =>
      withClue(q) {
        assert(hits.length === 5)
        assert(hits.map(_._2).sorted === Seq(1L, 2L, 3L, 4L, 5L))
        hits.foreach { case (_, _, nid, nlabel) =>
          assert(nlabel === emb(nid))
          assert(nlabel !== emb(q))
        }
      }
    }
  }

  test("semdedup: full coverage; keep == no nearer dup; per-cell min id always kept") {
    val rows = ext.Similarity.semDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(rows.length === Tables.embeddings(spark, sf).count())
    rows.foreach { case (id, _, n, keep) =>
      withClue(id)(assert(keep === (n == 0L)))
    }
    rows.groupBy(_._2).foreach { case (cell, members) =>
      val minId = members.map(_._1).min
      withClue(cell)(assert(members.find(_._1 == minId).get._4))
    }
  }

  test("mm_phash_neardup matches an independent in-memory aHash + chunk-blocking recompute") {
    def phashRef(text: String): Long = {
      val bytes = text.getBytes("UTF-8").map(_ & 0xFF)
      val samples = (0 until 60).map(k => bytes((k.toLong * bytes.length / 60).toInt).toLong)
      val tot = samples.sum
      (0 until 60).foldLeft(0L)((acc, k) =>
        if (samples(k) * 60 > tot) acc | (1L << k) else acc)
    }
    val hs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), phashRef(r.getString(1)))).sortBy(_._1)
    def chunk(h: Long, c: Int): Long = (h >> (15 * c)) & 32767L
    val expected = (for {
      i <- hs.indices; j <- (i + 1) until hs.length
      (a, ha) = hs(i); (b, hb) = hs(j)
      if (0 until 4).exists(c => chunk(ha, c) == chunk(hb, c))
      hd = java.lang.Long.bitCount(ha ^ hb)
      if hd <= 8
    } yield ((a, b), hd.toLong)).toMap
    val got = ext.Multimodal.phashNearDup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got === expected)
  }

  test("semdedup hot-cell cap: an adversarial all-in-one-cell corpus generates zero pairs") {
    // 40 identical vectors in one cell (every pair cosine 1.0) plus a
    // 2-member cold cell; cap 10 must drop the hot cell's O(occ²)
    // pair work entirely while the cold cell still resolves its dup
    val vec = Array.fill(4)(1.0f)
    val hot = (0L until 40L).map(i => (i, vec, 0L))
    val cold = Seq((100L, vec, 1L), (101L, vec, 1L))
    val assigned = (hot ++ cold).toDF("vec_id", "embedding", "cell")
    val out = ext.Similarity.semDedupFrom(assigned, cap = 10L).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3))).toSeq
    assert(out.length === 42)
    out.filter(_._1 < 100L).foreach { case (id, n, keep) =>
      withClue(id) { assert(n === 0L); assert(keep) }
    }
    assert(out.find(_._1 == 100L).get._3 === true)
    assert(out.find(_._1 == 101L).get === ((101L, 1L, false)))
  }

  test("split_leakage pairs cross splits and are exactly the est-0.8 cross-split LSH pairs") {
    val splits = graft.functions.TextAnalysis.trainTestSplit(spark, sf)
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = ext.Dedup.minhashLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, e) => e >= 0.8 && splits(a) != splits(b) }
      .map { case (a, b, _) => (a, b) }.toSet
    val got = ext.Dedup.splitLeakage(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
    got.foreach { case (a, b, sa, sb) =>
      assert(sa === splits(a))
      assert(sb === splits(b))
      assert(sa !== sb)
    }
    assert(got.map(t => (t._1, t._2)).toSet === expected)
  }

  test("sim_recall_eval: multiprobe recall dominates single-probe per query") {
    // multiprobe's candidate pool is a strict superset of the
    // single-probe bucket; displacing a truth item from an ANN top-3
    // requires 3 better-scoring candidates, which would themselves be
    // truth items — so per-query recall is monotone in the pool
    val rows = ext.Similarity.recallEval(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(4)))
    val byQ = rows.groupBy(_._2)
    assert(byQ.nonEmpty)
    byQ.foreach { case (q, ms) =>
      val m = ms.map(t => t._1 -> t._3).toMap
      withClue(q)(assert(m("multiprobe") >= m("lsh")))
    }
  }

  test("text_token_ids matches an independent in-memory bounded-vocab encoding") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1).toSeq))
    val df = docs.flatMap { case (id, ws) => ws.distinct.map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.length).toMap
    val rank = df.toSeq.sortBy { case (t, d) => (-d, t) }
      .take(graft.functions.TextAnalysis.TokenIdVocab)
      .zipWithIndex.map { case ((t, _), i) => t -> (i + 1L) }.toMap
    val expected = docs.map { case (id, ws) =>
      val ids = ws.map(w => rank.getOrElse(w, 0L))
      (id, ws.length.toLong, ids.count(_ == 0L).toLong, ids.mkString(","))
    }.toSet
    val got = graft.functions.TextAnalysis.tokenIds(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    assert(got === expected)
  }

  test("retrieval_bm25 matches an independent in-memory Okapi computation") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1).toSeq))
    val n = docs.length.toLong
    val sumDl = docs.map(_._2.length.toLong).sum.toDouble
    val terms = functions.Retrieval.QueryTerms
    val df = terms.map(t => t -> docs.count(_._2.contains(t)).toLong).toMap
    val idfE9 = terms.map { t =>
      t -> math.floor(math.log(1.0 + (n - df(t) + 0.5) / (df(t) + 0.5)) * 1e9 + 0.5).toLong
    }.toMap
    val expected = docs.flatMap { case (id, ws) =>
      val dl = ws.length.toLong
      val contribs = terms.flatMap { t =>
        val tf = ws.count(_ == t).toLong
        if (tf == 0) None
        else Some(math.floor(idfE9(t) / 1e9 * (tf * 2.2)
          / (tf + 1.2 * (0.25 + 0.75 * dl / (sumDl / n))) * 1e6 + 0.5).toLong)
      }
      if (contribs.isEmpty) None
      else Some((id, contribs.sum, contribs.length.toLong))
    }.sortBy { case (id, s, _) => (-s, id) }.take(20)
      .zipWithIndex.map { case ((id, s, k), i) => (id, s, k, i + 1L) }.toSeq
    val got = functions.Retrieval.bm25TopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === expected)
  }

  test("retrieval_rrf: fused points recompute from the rank columns; query doc excluded") {
    val rows = functions.Retrieval.hybridRrf(spark, sf).collect().map { r =>
      (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        r.getLong(3))
    }.toSeq
    assert(rows.length === 10)
    assert(!rows.exists(_._1 == 0L))
    def pts(r: Option[Long]): Long =
      r.map(k => math.floor(1e6 / (60 + k)).toLong).getOrElse(0L)
    rows.foreach { case (id, bm, cos, fused) =>
      withClue(id)(assert(fused === pts(bm) + pts(cos)))
    }
    assert(rows.map(_._4) === rows.map(_._4).sorted(Ordering[Long].reverse))
  }

  test("join_asof_nearest: picks whichever directional match is closer, ties backward") {
    def us(v: Any): Long = v match {
      case d: java.time.LocalDateTime =>
        d.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + d.getNano / 1000
      case i: java.time.Instant => i.getEpochSecond * 1000000L + i.getNano / 1000
      case t: java.sql.Timestamp =>
        t.getTime / 1000 * 1000000L + t.getNanos / 1000
      case d: java.sql.Date => d.getTime * 1000L
    }
    val back = operators.Advanced.joinAsOf(spark, sf).collect().map { r =>
      r.getLong(0) -> (if (r.isNullAt(4)) None
        else Some((r.getLong(3), us(r.getAs[Any](4)))))
    }.toMap
    val fwd = operators.Advanced.joinAsOfForward(spark, sf).collect().map { r =>
      r.getLong(0) -> (if (r.isNullAt(4)) None
        else Some((r.getLong(3), us(r.getAs[Any](4)))))
    }.toMap
    val rows = operators.Advanced.joinAsOfNearest(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getLong(0)
      val tsUs = us(r.getAs[Any](2))
      val got = if (r.isNullAt(4)) None else Some((r.getLong(3), us(r.getAs[Any](4))))
      val dBack = back(id).map { case (_, d) => tsUs - d }
      val dFwd = fwd(id).map { case (_, d) => d - tsUs }
      val expected = (dBack, dFwd) match {
        case (Some(b), Some(f)) => if (b <= f) back(id) else fwd(id)
        case (Some(_), None) => back(id)
        case (None, Some(_)) => fwd(id)
        case _ => None
      }
      withClue(id) {
        assert(got === expected)
        if (got.isDefined)
          assert(r.getLong(5) === math.min(
            dBack.getOrElse(Long.MaxValue), dFwd.getOrElse(Long.MaxValue)))
      }
    }
  }

  test("text_classifier_score: integer gate matches the logistic; hand-recomputed weights") {
    val rows = functions.TextAnalysis.classifierScore(spark, sf).collect()
    assert(rows.nonEmpty)
    val idx = rows.head.schema.fieldNames.zipWithIndex.toMap
    rows.foreach { r =>
      val n = r.getLong(idx("n_tokens")); val wSum = r.getLong(idx("w_sum"))
      val mean = r.getLong(idx("mean_milli")); val score = r.getDouble(idx("score"))
      val keep = r.getBoolean(idx("keep"))
      assert(wSum >= 0 && n > 0 && mean === wSum / n && mean >= 0 && mean <= 2000)
      assert(score > 0.0 && score < 1.0)
      // the integer gate and the rounded logistic agree at the midpoint
      assert(keep === (mean >= 1000))
      assert(keep === (score >= 0.5))
    }
    // hand-recompute one document's hashed-weight sum
    val doc = Tables.documents(spark, sf)
      .select("doc_id", "text").orderBy("doc_id").limit(1).collect().head
    val md = java.security.MessageDigest.getInstance("MD5")
    val wSumExp = doc.getString(1).split(" ", -1).map { t =>
      val hex = md.digest(t.getBytes("UTF-8")).map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16) % 2001L
    }.sum
    val got = rows.find(_.getLong(idx("doc_id")) == doc.getLong(0)).get
    assert(got.getLong(idx("w_sum")) === wSumExp)
  }

  test("vocab_coverage: ppm monotone in k, saturates at full vocab, k=1 equals the top token") {
    val rows = functions.TextAnalysis.vocabCoverage(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(rows.map(_._1) === Seq(1L, 2L, 5L, 10L, 20L, 50L))
    val corpusTf = rows.head._3
    assert(rows.forall(_._3 == corpusTf))
    rows.foreach { case (_, topk, tot, ppm) =>
      assert(topk <= tot && ppm === topk * 1000000L / tot)
    }
    assert(rows.map(_._2) === rows.map(_._2).sorted) // monotone mass
    // the synthetic vocab is < 50 types, so the last sweep point covers it all
    assert(rows.last._2 === corpusTf && rows.last._4 === 1000000L)
    // k=1 mass is the modal token's frequency, recomputed independently
    val topTf = Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("t"))
      .groupBy("t").count().agg(max("count")).collect().head.getLong(0)
    assert(rows.head._2 === topTf)
  }

  test("dedup_recall_eval: counts nest across thresholds; hits bounded by both sides") {
    val rows = SparkEntry.queries("dedup_recall_eval")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
      .sortBy(_._1)
    assert(rows.map(_._1) === Seq(500L, 750L, 875L, 1000L))
    val nTruth = rows.head._2
    assert(rows.forall(_._2 == nTruth)) // ground truth is threshold-free
    rows.foreach { case (_, t, p, h, prec, rec) =>
      assert(h <= p && h <= t)
      assert(prec === (if (p > 0) h * 1000000L / p else 0L))
      assert(rec === (if (t > 0) h * 1000000L / t else 0L))
    }
    // tightening the confirm threshold can only shrink predictions and hits
    assert(rows.map(_._3).reverse === rows.map(_._3).reverse.sorted)
    assert(rows.map(_._4).reverse === rows.map(_._4).reverse.sorted)
    // the sweep is ACTIVE at test scale: the loosest threshold predicts
    // something, so precision/recall are not vacuous zeros
    assert(rows.head._3 > 0)
  }

  test("stats_hll_ngrams: plain-Scala sketch replica matches every source row") {
    def md5_60(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    val docs = Tables.documents(spark, sf).select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val ngrams = docs.flatMap { case (src, text) =>
      val ws = text.split(" ", -1)
      if (ws.length < 3) Seq.empty
      else (0 to ws.length - 3).flatMap { i =>
        val ng = ws.slice(i, i + 3).mkString(" ")
        Seq((src, ng), ("__all__", ng))
      }
    }
    val expected = ngrams.groupBy(_._1).map { case (src, pairs) =>
      val regs = scala.collection.mutable.Map.empty[Long, Int]
      pairs.foreach { case (_, ng) =>
        val h = md5_60(ng)
        val j = h % 256
        val w = h >>> 8
        val rho = if (w == 0) 53 else java.lang.Long.numberOfLeadingZeros(w) - 11
        regs(j) = math.max(regs.getOrElse(j, 0), rho)
      }
      val s = regs.values.map(m => 1L << (53 - m)).sum +
        (256L - regs.size) * (1L << 53)
      val v = 256L - regs.size
      val exact = pairs.map(_._2).distinct.length.toLong
      val estRaw = math.round(
        (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 * 9007199254740992.0 / s.toDouble)
      val estLc = if (v > 0)
        math.round(256.0 * BigDecimal(math.log(256.0 / v.toDouble))
          .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble)
      else 0L
      val est = if (v > 0 && estRaw <= 640) estLc else estRaw
      src -> ((v, s, exact, est, math.abs(est - exact) * 1000000L / exact))
    }
    val rows = SparkEntry.queries("stats_hll_ngrams")(spark, sf).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    assert(rows.keySet === expected.keySet)
    expected.foreach { case (src, e) => withClue(src)(assert(rows(src) === e)) }
    // and the estimator is genuinely estimating: union error under 30%
    val (_, _, exact, est, errPpm) = rows("__all__")
    assert(exact > 1000 && est > 0 && errPpm < 300000L)
  }

  test("stats_hll_overlap: plain-Scala pair-merge replica matches every row; mergeability is pointwise max") {
    def md5_60(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    def estOf(regs: Map[Long, Int]): Long = {
      val s = regs.values.map(m => 1L << (53 - m)).sum +
        (256L - regs.size) * (1L << 53)
      val v = 256L - regs.size
      val estRaw = math.round(
        (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 * 9007199254740992.0 / s.toDouble)
      val estLc = if (v > 0)
        math.round(256.0 * BigDecimal(math.log(256.0 / v.toDouble))
          .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble)
      else 0L
      if (v > 0 && estRaw <= 640) estLc else estRaw
    }
    val docs = Tables.documents(spark, sf).select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val bySource: Map[String, Set[String]] = docs.flatMap { case (src, text) =>
      val ws = text.split(" ", -1)
      if (ws.length < 3) Seq.empty
      else (0 to ws.length - 3).map(i => (src, ws.slice(i, i + 3).mkString(" ")))
    }.groupBy(_._1).map { case (s, ps) => s -> ps.map(_._2).toSet }
    val regsOf: Map[String, Map[Long, Int]] = bySource.map { case (src, ngs) =>
      src -> ngs.groupBy(ng => md5_60(ng) % 256).map { case (j, grp) =>
        j -> grp.map { ng =>
          val w = md5_60(ng) >>> 8
          if (w == 0) 53 else java.lang.Long.numberOfLeadingZeros(w) - 11
        }.max
      }
    }
    val expected = (for {
      a <- bySource.keys; b <- bySource.keys if a < b
      // the mergeability law the streaming/warehouse sketch relies on:
      // union registers are the POINTWISE MAX of the two register maps
      merged = (regsOf(a).keySet ++ regsOf(b).keySet).map(j =>
        j -> math.max(regsOf(a).getOrElse(j, 0), regsOf(b).getOrElse(j, 0))).toMap
      ea = estOf(regsOf(a)); eb = estOf(regsOf(b)); eu = estOf(merged)
    } yield (a, b) -> ((ea, eb, eu, math.max(0L, ea + eb - eu),
      (bySource(a) & bySource(b)).size.toLong))).toMap
    val rows = SparkEntry.queries("stats_hll_overlap")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))))
      .toMap
    assert(rows.keySet === expected.keySet)
    expected.foreach { case (k, e) => withClue(k)(assert(rows(k) === e)) }
    // and the estimator is genuinely estimating: the fixture's overlaps
    // are small vs the unions (the documented noisy regime for HLL
    // inclusion-exclusion), so pin the aggregate, not per-pair error
    val sumEst = rows.values.map(_._4).sum
    val sumExact = rows.values.map(_._5).sum
    assert(sumExact > 0 && sumEst > 0 &&
      sumEst < 2 * sumExact && sumExact < 2 * sumEst)
  }

  test("text_boilerplate_spans: kernel df matches a composed-expression recompute; invariants hold") {
    val rows = SparkEntry.queries("text_boilerplate_spans")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))
    assert(rows.length === Tables.documents(spark, sf).count())
    rows.foreach { case (id, n, b, ppm, tpl) =>
      withClue(id) {
        assert(b <= n)
        assert(ppm === (if (n > 0) b * 1000000L / n else 0L))
        assert(tpl === (ppm >= 500000L))
      }
    }
    // exact-dup docs exist in the fixture, so boilerplate is non-vacuous
    assert(rows.exists(_._5))
    // independent df recompute: shingle STRINGS via composed expressions
    // (no ShingleHashes kernel), same 5-gram/distinct definition
    val ws = split(col("text"), " ")
    val strShingles = Tables.documents(spark, sf)
      .select(col("doc_id"),
        explode(when(size(ws) >= 5,
          array_distinct(transform(sequence(lit(0), size(ws) - 5),
            i => concat_ws(" ", slice(ws, i + 1, lit(5))))))
          .otherwise(array())).as("sh"))
    val dfCounts = strShingles.groupBy("sh").count().filter(col("count") >= 2)
    val expected = strShingles.join(dfCounts, "sh")
      .groupBy("doc_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { case (id, _, b, _, _) =>
      withClue(id)(assert(b === expected.getOrElse(id, 0L)))
    }
  }

  test("sim_dim_ablation: full-dim row is the identity; truncation genuinely loses recall") {
    val rows = SparkEntry.queries("sim_dim_ablation")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length === 20) // 4 dims x 5 queries
    rows.foreach { case (d, q, hit, ppm) =>
      withClue((d, q)) {
        assert(hit >= 0L && hit <= 10L)
        assert(ppm === hit * 1000000L / 10L)
      }
    }
    // the d = 64 sweep point compares the truth list to itself
    assert(rows.filter(_._1 == 64L).forall(_._3 == 10L))
    // random embeddings carry little prefix signal: the ablation is
    // informative (some truncated row misses neighbors)
    assert(rows.filter(_._1 < 64L).exists(_._3 < 10L))
  }

  test("stats_countmin: plain-Scala sketch replica matches; estimates only overcount") {
    def md5_60(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    val toks = Tables.documents(spark, sf).select("text").collect()
      .flatMap(_.getString(0).split(" ", -1))
    val counters = scala.collection.mutable.Map.empty[(Long, Long), Long]
    for (t <- toks; r <- 0L until 4L) {
      val b = md5_60(s"$r|$t") % 256L
      counters((r, b)) = counters.getOrElse((r, b), 0L) + 1L
    }
    val exact = toks.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val top = exact.toSeq.sortBy { case (t, c) => (-c, t) }.take(20)
    val expected = top.map { case (t, c) =>
      t -> ((c, (0L until 4L).map(r => counters((r, md5_60(s"$r|$t") % 256L))).min))
    }.toMap
    val rows = SparkEntry.queries("stats_countmin")(spark, sf).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(rows.keySet === expected.keySet)
    expected.foreach { case (t, (c, est)) =>
      withClue(t)(assert(rows(t) === ((c, est, est - c))))
    }
    // the CMS error is one-sided: collisions only ADD
    assert(rows.values.forall { case (c, est, over) => est >= c && over === est - c })
  }

  test("join_time_banded: banded equi-join equals the plain-Scala theta-join replica") {
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")),
        col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val clicks = ev.filter(_._4 == "click")
    val expected = ev.filter(_._4 == "purchase").map { case (id, _, pUs, _) =>
      val ctx = clicks.filter(c => math.abs(c._3 - pUs) <= 300000000L)
      id -> ((ctx.length.toLong, ctx.map(_._2).distinct.length.toLong))
    }.toMap
    val rows = SparkEntry.queries("join_time_banded")(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(4)))).toMap
    assert(rows.keySet === expected.keySet)
    expected.foreach { case (id, e) => withClue(id)(assert(rows(id) === e)) }
    // the context is non-vacuous at test scale: some purchase has
    // nearby clicks, and zero-context purchases survive the LEFT join
    assert(rows.values.exists(_._1 > 0L))
  }

  test("join_time_banded: exact ±B boundaries and bucket edges are caught by the 3-bucket probe") {
    // purchase at the last microsecond of its bucket — the worst case
    // for band membership: a click exactly +B lands in bucket k+1, one
    // µs beyond in k+2 (and must be excluded by the residual, not lost
    // by the banding)
    val B = 300000000L
    val pUs = 7L * B - 1L // bucket 6, top edge
    def t(us: Long) = {
      val ts = new java.sql.Timestamp(us / 1000000L * 1000L)
      ts.setNanos((us % 1000000L).toInt * 1000)
      ts
    }
    val ev = Seq(
      (100L, 1L, t(pUs), "purchase"),
      (1L, 2L, t(pUs - B), "click"),     // exactly −B: IN
      (2L, 3L, t(pUs - B - 1), "click"), // one µs beyond: OUT
      (3L, 4L, t(pUs + B), "click"),     // exactly +B (bucket 7): IN
      (4L, 5L, t(pUs + B + 1), "click"), // one µs beyond (bucket 8): OUT
      (5L, 6L, t(6L * B), "click"),      // same bucket, bottom edge: IN
      (6L, 1L, t(pUs), "click"),         // zero delta, same user: IN
      (200L, 9L, t(40L * B), "purchase") // isolated: LEFT join keeps it
    ).toDF("event_id", "user_id", "ts", "event_type")
    val rows = operators.EventAnalytics.timeBandJoinOn(ev).collect()
      .map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(4)))).toMap
    assert(rows(100L) === ((4L, 4L))) // clicks 1,3,5,6 by users 2,4,6,1
    assert(rows(200L) === ((0L, 0L)))
  }

  test("yScaleCol == classifierYScale at every ladder boundary (serve-side parity)") {
    import graft.functions.TextAnalysis
    val ladderMax = TextAnalysis.YScaleLadder.last._1 // ys=1 rung's nMax
    val ns = (TextAnalysis.YScaleLadder.flatMap { case (nMax, _) =>
      Seq(nMax - 1, nMax, nMax + 1) } ++ Seq(1L, 500L, 5000L, 3141592653589L))
      .filter(_ <= ladderMax) // past the ladder both forms RAISE (below)
    val got = ns.toDF("n")
      .select(col("n"), TextAnalysis.yScaleCol(col("n")).as("ys"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    ns.foreach { n =>
      assert(got(n) === TextAnalysis.classifierYScale(n), s"n=$n") }
    // the small-corpus regime keeps the full 10^9 cap: every sf the
    // driver tests at trains on the UNCHANGED fixed point
    assert(TextAnalysis.classifierYScale(1152921L) === TextAnalysis.ClassifierYScale)
    // one rung past the old ceiling: a decade coarser, bound intact
    assert(TextAnalysis.classifierYScale(1152922L) === TextAnalysis.ClassifierYScale / 10)
    // the ys=1 rung is a real ladder member (serving down to 1 digit
    // of resolution), and ONE doc past it fails loudly on BOTH the
    // driver rule and the serving Column — the silent-wrap regime the
    // trainer's require guards is unreachable through either form
    assert(TextAnalysis.classifierYScale(ladderMax) === 1L)
    intercept[IllegalArgumentException] {
      TextAnalysis.classifierYScale(ladderMax + 1)
    }
    val ex = intercept[Exception] {
      Seq(ladderMax + 1).toDF("n")
        .select(TextAnalysis.yScaleCol(col("n"))).collect()
    }
    assert(ex.getMessage.contains("headroom exceeded"), ex.getMessage)
  }

  test("LS-gradient trainer == plain-Scala integer reference, pass by pass") {
    import graft.functions.TextAnalysis.{ClassifierLrDen, ClassifierShift, ClassifierYScale}
    // 6 docs over 3 buckets of DENSE centered rates (rows sum to ~0
    // per bucket, as centeredRates guarantees); teacher correlates
    // with bucket 2 — the reference runs the identical fixed-point ops
    val fx: Seq[(Long, Map[Long, Long])] = Seq(
      1L -> Map(0L -> 40L, 1L -> -10L, 2L -> -30L),
      2L -> Map(0L -> 25L, 1L -> 5L, 2L -> -30L),
      3L -> Map(0L -> -30L, 1L -> 10L, 2L -> 20L),
      4L -> Map(0L -> -20L, 1L -> -15L, 2L -> 35L),
      5L -> Map(0L -> 15L, 1L -> 20L, 2L -> -35L),
      6L -> Map(0L -> -30L, 1L -> -10L, 2L -> 40L))
    val ys = Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L, 5L -> 0L, 6L -> 1L)
    val dense = fx.flatMap { case (d, xs) => xs.map { case (f, x) => (d, f, x) } }
      .toDF("doc_id", "f", "xc")
    val teach = ys.toSeq.toDF("doc_id", "y")
    val passes = 5
    val got = graft.functions.TextAnalysis
      .lsGradientTrain(spark, dense, teach, passes)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap

    val n = fx.size.toLong
    val ybar = ys.values.sum * ClassifierYScale / n
    val den = ClassifierLrDen * n
    def sdiv(g: Long) = (g + ClassifierShift) / den - ClassifierShift / den
    val w = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for (k <- 1 to passes) {
      val grad = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      for ((d, xs) <- fx) {
        val dot = xs.map { case (f, x) => w(f) * x }.sum
        val err = dot - (ys(d) * ClassifierYScale - ybar)
        xs.foreach { case (f, x) => grad(f) += err * x }
      }
      for (f <- 0L to 2L) w(f) -= sdiv(grad(f))
      for (f <- 0L to 2L)
        assert(got((k.toLong, f)) === w(f), s"pass $k bucket $f diverged")
    }
    // the quadratic descends: the final weights classify every fixture
    // doc right at the centered-target midpoint
    val thr = ClassifierYScale / 2 - ybar
    val correct = fx.count { case (d, xs) =>
      (xs.map { case (f, x) => w(f) * x }.sum >= thr) == (ys(d) == 1L)
    }
    assert(correct === fx.size)
  }

  /** Cross-relation consistency of the gating-loop surface: the card,
    * the census, and the release must all be views of the SAME gate
    * decisions — a drift between them would ship a data card that
    * miscounts its own corpus.
    */
  test("gated release, card, and disagreement census agree on the same gate") {
    val sf = "/root/testdata/sf0.001"
    val gated = operators.Advanced.corpusPrepGated(spark, sf)
    val nGated = gated.count()
    assert(nGated > 0)
    // card mass == release mass
    val cardKept = operators.Advanced.releaseCardGated(spark, sf)
      .agg(sum(col("docs_kept")), sum(col("docs_in"))).first()
    assert(cardKept.getLong(0) === nGated)
    // census covers the whole corpus and its model-keep mass equals
    // the doc-grain gate's keep set
    val corpusN = Tables.documents(spark, sf).count()
    assert(cardKept.getLong(1) === corpusN)
    val census = functions.TextAnalysis.gateDisagreement(spark, sf)
      .collect().map(r => (r.getBoolean(0), r.getBoolean(1)) -> r.getLong(2)).toMap
    assert(census.values.sum === corpusN)
    val modelKeep = census.collect { case ((_, true), n) => n }.sum
    val gateKeep = functions.TextAnalysis.modelGate(spark, sf)
      .filter(col("model_keep")).count()
    assert(modelKeep === gateKeep)
    // the release is the model-keep set minus the non-quality gates —
    // so it can never exceed it
    assert(nGated <= modelKeep)
  }
}
