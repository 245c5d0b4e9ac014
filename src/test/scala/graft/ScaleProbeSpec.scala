package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.Tag
import org.scalatest.funsuite.AnyFunSuite

object ScaleProbe extends Tag("graft.ScaleProbe")

/** Synthetic 10×-sf0.1 scale probe (no sf1 testdata exists): generate
  * corpora ten times the largest on-disk SF and assert the EXECUTED
  * plan shapes the scale story depends on actually hold there — no
  * BroadcastNestedLoopJoin / cartesian product sneaking in once AQE
  * sees bigger stats, bounded cluster pair-joins via autoK + salt caps,
  * the candidate/edge volume staying inside the gated driver
  * union-find's limit, and partial/final aggregation on the event
  * path. Deterministic generators (modular arithmetic, md5 words) with
  * planted near-duplicates so the dedup operators have real work. */
class ScaleProbeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // execute THIS DataFrame's own QueryExecution (a `.write` would plan
  // a separate command, leaving df's adaptive plan unfinalized) so the
  // inspected string is the plan AQE actually ran, not the initial one
  private def ranPlan(df: DataFrame): String = {
    df.queryExecution.toRdd.foreach(_ => ())
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("isFinalPlan=false"),
      "probe must assert on the FINAL adaptive plan")
    plan
  }

  private def assertShapes(plan: String, tag: String): Unit = {
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"$tag: BNLJ at 10× scale:\n${plan.take(4000)}")
    assert(!plan.contains("CartesianProduct"),
      s"$tag: cartesian product at 10× scale:\n${plan.take(4000)}")
  }

  // 50,000 documents (10× sf0.1), ~150 words each; every id ≡ 1 (mod 10)
  // is a near-copy of its predecessor (same body, two extra words).
  // Word seed is the STRING pair (base, j) — an arithmetic seed like
  // base*37+j aliases across documents (37 < 150), silently making
  // consecutive docs share a contiguous word run and chaining the whole
  // corpus into duplicate clusters.
  lazy val docs10x: DataFrame = graft.Tables.spread(
    spark.range(50000).select(
      col("id").as("doc_id"),
      concat(
        array_join(expr(
          "transform(sequence(1, 150), j -> substr(md5(concat(CAST(CASE WHEN id % 10 = 1 THEN id - 1 ELSE id END AS STRING), ':', CAST(j AS STRING))), 1, 6))"), " "),
        when(col("id") % 10 === 1, concat(lit(" xtra "), col("id") % 7))
          .otherwise(lit(""))).as("text"))
      .withColumn("n_chars", length(col("text"))))
    .localCheckpoint()

  test("dedup at 10×: LSH candidates bounded, no BNLJ, dups found",
      ScaleProbe) {
    val cand = graft.dedup.Dedup.minhashCandidates(docs10x, 4, 0.5)
      .localCheckpoint()
    val nCand = cand.count()
    // 5,000 planted pairs; the candidate table must stay pair-shaped
    // (≪ corpus², and far inside the 500k-edge driver union-find gate)
    assert(nCand >= 4000L && nCand < 200000L, s"candidate volume $nCand")
    assertShapes(ranPlan(cand), "minhashCandidates")
  }

  test("survivorship at 10×: cluster argmax + anti-join keep their shape",
      ScaleProbe) {
    val kept = graft.dedup.Clusters.survivorsBest(docs10x, 4, 0.5)
    val plan = ranPlan(kept)
    assertShapes(plan, "survivorsBest")
    val n = kept.count()
    // one survivor per planted near-dup pair → ~45k, never the full 50k
    assert(n < 50000L && n > 40000L, s"survivors $n")
  }

  test("semantic dedup at 10×: autoK grows with n, pair join stays salted",
      ScaleProbe) {
    // 20,000 embeddings (10× sf0.1), 64-dim; every id ≡ 1 (mod 5)
    // duplicates its predecessor exactly (cosine 1 near-dup)
    val embs = spark.range(20000).select(
      col("id").as("vec_id"),
      expr("transform(sequence(0, 63), j -> CAST(((CASE WHEN id % 5 = 1 THEN id - 1 ELSE id END) * 31 + j * 7) % 1000 / 1000.0 - 0.5 AS FLOAT))")
        .as("embedding"),
      (col("id") % 10).cast("int").as("label")).localCheckpoint()
    assert(graft.ann.KMeans.autoK(20000) > graft.ann.KMeans.autoK(2000),
      "autoK must scale the cluster count with the corpus")
    val dd = graft.ann.KMeans.semanticDedup(embs, iters = 1)
    val plan = ranPlan(dd)
    assertShapes(plan, "semanticDedup")
    val drops = dd.filter(!col("kept")).count()
    assert(drops >= 3000L, s"planted duplicates must be dropped, got $drops")
  }

  test("PQ at 10×: codes-only corpus work, broadcast tables, no BNLJ",
      ScaleProbe) {
    val embs = spark.range(20000).select(
      col("id").as("vec_id"),
      expr("transform(sequence(0, 63), j -> CAST(((id * 13 + j * 17) % 997) / 997.0 - 0.5 AS FLOAT))")
        .as("embedding"),
      (col("id") % 10).cast("int").as("label")).localCheckpoint()
    val knn = graft.ann.Pq.ivfPqKnn(embs, queryMaxId = 5, topK = 5)
    val plan = ranPlan(knn)
    assertShapes(plan, "ivfPqKnn")
    assert(knn.count() == 25L, "5 queries × top-5 expected")
  }

  test("event aggregation at 10×: partial/final aggregate, no plan decay",
      ScaleProbe) {
    val events = spark.read.format("graft.sources.EventGen")
      .option("totalRows", 1000000L).option("numPartitions", 32).load()
    val agg = graft.operators.EventAggregator.aggregate(events)
    val plan = ranPlan(agg)
    assertShapes(plan, "eventAggregate")
    assert(plan.linesIterator.count(_.contains("HashAggregate")) >= 2,
      s"partial+final aggregation expected at 10×:\n${plan.take(4000)}")
    // windowMixDrift's dense grid is the ONE sanctioned BNLJ: a
    // crossJoin of two post-aggregate tables (#windows × #types, kB).
    // At 10× only the cartesian trap is in scope.
    val drift = graft.operators.Drift.windowMixDrift(events)
    assert(!ranPlan(drift).contains("CartesianProduct"),
      "windowMixDrift: cartesian product at 10× scale")
  }

  test("span scrub at scale: planted copies cut, originals intact, no BNLJ",
      ScaleProbe) {
    // 5k docs (~5M gram positions); ids ≡ 1 (mod 10) share their
    // predecessor's full body → the copy must lose most of its bytes,
    // the predecessor (global first occurrence) must keep ALL of its
    val sub = docs10x.filter($"doc_id" < 5000).localCheckpoint()
    val out = graft.dedup.SpanScrub.spanScrub(sub)
    val plan = ranPlan(out)
    assertShapes(plan, "spanScrub")
    val cut = out.filter($"doc_id" % 10 === 1)
      .agg(avg(length($"text_clean")), count(lit(1))).head()
    val kept = out.filter($"doc_id" % 10 === 0)
      .join(sub, "doc_id")
      .filter($"text_clean" =!= $"text").count()
    assert(cut.getLong(1) == 500L && cut.getDouble(0) < 200.0,
      s"copies should lose ~everything: $cut")
    assert(kept == 0L, s"$kept first-occurrence docs were damaged")
  }

  test("span scrub fp at scale: exchange carries the 8-byte key, result identical",
      ScaleProbe) {
    val sub = docs10x.filter($"doc_id" < 5000).localCheckpoint()
    val out = graft.dedup.SpanScrub.spanScrubFp(sub)
    val plan = ranPlan(out)
    assertShapes(plan, "spanScrubFp")
    // the gram-key shuffle must partition on a bigint fp (attribute
    // printed as gram#NL), never the k-char substring (gram#N, no L)
    val gramParts = "hashpartitioning\\(gram#\\d+L?".r
      .findAllIn(plan).toList
    assert(gramParts.nonEmpty, s"no gram-key exchange found:\n${plan.take(4000)}")
    assert(gramParts.forall(_.endsWith("L")),
      s"gram exchange carries a string key, not the fp: $gramParts")
    // and the scrub itself must agree with the exact-key variant
    val exact = graft.dedup.SpanScrub.spanScrub(sub)
    assert(out.exceptAll(exact).isEmpty && exact.exceptAll(out).isEmpty,
      "fp-keyed scrub diverged from the exact-key scrub at 5k docs")
  }

  test("linkage at scale: distance work on the name vocab, records never shuffle",
      ScaleProbe) {
    // 100k records share 100 distinct names in 5 blocks: the pair join
    // must be vocab-sized and reach records as a broadcast probe
    val recs = spark.range(100000).select(
      col("id").as("p_partkey"),
      concat(expr("concat('adj', CAST(id % 17 AS STRING))"), lit(" "),
        expr("element_at(array('bolt','gear','ring','anvil','gizmo'), CAST(id % 5 AS INT) + 1)"))
        .as("p_name")).localCheckpoint()
    val out = graft.operators.Linkage.bestFuzzyMatch(recs)
    val plan = ranPlan(out)
    assertShapes(plan, "linkage")
    assert(plan.contains("BroadcastHashJoin"),
      s"per-name best should broadcast back to records:\n${plan.take(4000)}")
    // every record whose name has a ≤3-edit neighbor links; key-min tiebreak
    assert(out.count() > 0L)
  }

  test("graph at 10×: rank iterations broadcast small, shuffle large, no BNLJ",
      ScaleProbe) {
    // 150k orders × 600k lineitem → ~22k-node bipartite graph: the
    // iterate() shape that must hold when the EDGE table is billions
    val orders = spark.range(150000).select(
      col("id").as("o_orderkey"), (col("id") % 20000).as("o_custkey"))
      .localCheckpoint()
    val lineitem = spark.range(600000).select(
      (col("id") % 150000).as("l_orderkey"), (col("id") % 2000).as("l_suppkey"))
      .localCheckpoint()
    val pr = graft.operators.PageRank.supplierRank(orders, lineitem, iters = 2)
    val planB = ranPlan(pr)
    assertShapes(planB, "supplierRank")
    assert(planB.contains("BroadcastHashJoin"),
      "small-graph path should broadcast the rank table into the edge join")
    val ppr = graft.operators.PageRank.personalizedRank(orders, lineitem,
      iters = 2)
    assertShapes(ranPlan(ppr), "personalizedRank")
    // the billion-node shape: forced fallback + no size-based broadcast
    // anywhere (what a GB rank table looks like to the planner)
    val conf = spark.conf
    val saved = conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val prS = graft.operators.PageRank.supplierRank(orders, lineitem,
        iters = 2, broadcastMaxNodes = 0L)
      val planS = ranPlan(prS)
      assertShapes(planS, "supplierRank-fallback")
      assert(!planS.contains("BroadcastHashJoin"),
        s"rank table still broadcast on the forced-large path:\n${planS.take(4000)}")
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", saved)
    }
    // label spread rides the same iteration shape: per-round one
    // edges ⋈ labels join + aggregate + per-dst window, no BNLJ
    val customer = spark.range(20000).select(col("id").as("c_custkey"),
      (col("id") % 25).as("c_nationkey")).localCheckpoint()
    val lp = graft.operators.LabelProp.labelPropagation(orders, lineitem,
      customer, seedMax = 100, iters = 2)
    val planL = ranPlan(lp)
    assertShapes(planL, "labelPropagation")
    assert(lp.count() > 100L, "labels must spread beyond the seeds")
  }

  test("sampling at 10×: stratum tables broadcast into the corpus, no BNLJ",
      ScaleProbe) {
    val docsL = docs10x.withColumn("lang",
      concat(lit("l"), col("doc_id") % 5))
    val tm = graft.operators.Sampling.temperatureMixture(docsL)
    val planT = ranPlan(tm)
    assertShapes(planT, "temperatureMixture")
    assert(planT.contains("BroadcastExchange"),
      s"keep_n should broadcast into the corpus join:\n${planT.take(4000)}")
    assert(tm.count() > 0L)
    val mx = graft.operators.Sampling.mixtureSample(docsL,
      weightsPpm = Seq(("l0", 400000L), ("l1", 300000L), ("l2", 300000L)))
    val planM = ranPlan(mx)
    assertShapes(planM, "mixtureSample")
    assert(planM.contains("BroadcastExchange"))
  }

  test("audit at 10×: one verdict per input doc, drop list broadcasts, no cartesian",
      ScaleProbe) {
    val audit = graft.text.Curate.curateAudit(docs10x)
    val plan = ranPlan(audit)
    assert(!plan.contains("CartesianProduct"),
      s"curateAudit: cartesian product at 10× scale:\n${plan.take(4000)}")
    // the collision-sized near-dup drop list must come in as a
    // broadcast join, never a shuffled corpus-vs-corpus exchange
    assert(plan.contains("BroadcastHashJoin"),
      s"drop-list join should broadcast:\n${plan.take(4000)}")
    assert(audit.count() == 50000L, "cardinality contract: one row per input")
  }

  test("theta sets at 10×: sketch aggregate combines partially, no cartesian",
      ScaleProbe) {
    val events = spark.read.format("graft.sources.EventGen")
      .option("totalRows", 1000000L).option("numPartitions", 32).load()
    val ts = graft.operators.SetSketch.thetaSets(events)
    val plan = ranPlan(ts)
    // the |types|² pair join is the sanctioned dense-grid BNLJ class
    // (5 rows of sketch state); only the cartesian trap is in scope
    assert(!plan.contains("CartesianProduct"),
      s"thetaSets: cartesian product at 10× scale:\n${plan.take(4000)}")
    // TypedImperativeAggregate sketches must combine map-side: partial
    // + final ObjectHashAggregate pairs, so the exchange carries kB of
    // sketch state, not the raw event rows. The operator materializes
    // this stage behind a localCheckpoint, so probe the aggregation
    // shape on the stage plan itself.
    val skStage = events
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(graft.functions.ThetaFunctions.theta_sketch_r(col("user_id")).as("sk"))
    val skPlan = ranPlan(skStage)
    assert(skPlan.linesIterator.count(_.contains("ObjectHashAggregate")) >= 2,
      s"partial+final sketch aggregation expected:\n${skPlan.take(4000)}")
    val n = ts.count()
    assert(n > 0L && n <= 10L, s"type pairs expected, got $n")
  }

  test("OPQ at 10×: energy aggregate combines map-side, permuted search keeps PQ shape",
      ScaleProbe) {
    val embs = spark.range(20000).select(
      col("id").as("vec_id"),
      expr("transform(sequence(0, 63), j -> CAST(((id * 13 + j * 17) % 997) / 997.0 - 0.5 AS FLOAT))")
        .as("embedding"),
      (col("id") % 10).cast("int").as("label")).localCheckpoint()
    // allocation: corpus-wide work is ONE posexplode + partial/final
    // aggregate down to d=64 rows; the global windows run post-agg
    val alloc = graft.ann.Opq.allocation(embs)
    val planA = ranPlan(alloc)
    assertShapes(planA, "opqAllocation")
    assert(planA.linesIterator.count(_.contains("HashAggregate")) >= 2,
      s"partial+final energy aggregate expected:\n${planA.take(4000)}")
    assert(alloc.count() == 64L)
    // the permuted frame is a narrow projection — it must flow through
    // the standard PQ search with the same broadcast-tables plan
    val knn = graft.ann.Pq.pqKnnAdc(graft.ann.Opq.permute(embs),
      queryMaxId = 5, topK = 5)
    val plan = ranPlan(knn)
    assertShapes(plan, "opqPermutedSearch")
    assert(plan.contains("BroadcastExchange"),
      s"distance tables should broadcast:\n${plan.take(4000)}")
    assert(knn.count() == 25L, "5 queries × top-5 expected")
  }

  test("ingestion at 10×: store anti-join keys on the fingerprint, planted dups drop",
      ScaleProbe) {
    import graft.streaming.{CurateIngest, Funnel, Store, StoreSides}
    // gate open (floor 0, observed langs): the probe tests the join
    // shapes at volume, not gate policy — that's CurateSpec's job
    val langs = docs10x.limit(1)
      .select(graft.text.TextAnalysis.langPred).as[String].collect().toSeq
    // store: fingerprints of the first 25k docs (the "already ingested"
    // corpus half); shard: 5k fresh docs + 100 exact copies of stored docs
    val store = docs10x.filter(col("doc_id") < 25000)
      .select(md5(col("text")).as("fingerprint")).localCheckpoint()
    val shard = docs10x
      .filter(col("doc_id") >= 25000 && col("doc_id") < 30000)
      .unionByName(docs10x.filter(col("doc_id") < 100)
        .select((col("doc_id") + 60000).as("doc_id"), col("text"),
          col("n_chars")))
    val fresh = Funnel.fresh(
      CurateIngest.gateShard(shard, 0L, langs), StoreSides(store))
    val plan = ranPlan(fresh)
    assertShapes(plan, "freshAgainstStore")
    // shard and store meet ONLY on the 16-byte fingerprint key
    assert(plan.contains("LeftAnti"),
      s"store anti-join missing:\n${plan.take(4000)}")
    assert(plan.contains("fingerprint"),
      s"anti-join should key on fingerprint:\n${plan.take(4000)}")
    val out = Funnel.step(shard, Funnel.exact(CurateIngest.gateShard(_, 0L, langs)),
      Map(Store.Fp -> StoreSides(store)))
    val (kept, fps) = (out.kept(), out.appends(Store.Fp))
    val keptIds = kept.select("doc_id").as[Long].collect()
    assert(!keptIds.exists(_ >= 60000L),
      "exact copies of stored docs must drop first-wins")
    // the generator plants ~500 intra-shard near-copies (ids ≡ 1 mod 10)
    assert(keptIds.length > 4000 && keptIds.length < 5000,
      s"near-dup stage should trim the shard: kept ${keptIds.length}")
    assert(fps.count() == 5100L,
      "store append carries every gated fingerprint, dup or not")
  }

  test("organic gate triggers: CC and PageRank cross their retuned thresholds on DEFAULTS",
      ScaleProbe) {
    // r9 retuned both gates to their MEASURED bands (500k edges / 3e5
    // nodes — ScaleSoak, SCALING.md). These runs sit above, so the
    // DEFAULT call takes
    // the scale path organically — no forced threshold override — and
    // must agree bit-for-bit with the forced small path.
    // CC: 1.2M near-clique edges (the LSH regime) > smallGraphEdges=500k
    val grp = col("id") - (col("id") % 5)
    val edges = spark.range(1200000).select(
      grp.as("a_id"),
      when(col("id") % 5 === 0, col("id") + 1).otherwise(col("id")).as("b_id"))
      .filter(col("a_id") =!= col("b_id")).localCheckpoint()
    assert(edges.count() > graft.dedup.Clusters.smallGraphEdges,
      "probe must sit ABOVE the gate to trigger organically")
    val t0 = System.nanoTime()
    val organic = graft.dedup.Clusters.connectedComponents(edges)
      .localCheckpoint()
    val tOrganic = (System.nanoTime() - t0) / 1e9
    val forced = graft.dedup.Clusters.connectedComponents(edges,
      smallGraphThreshold = Long.MaxValue)
    assert(organic.join(forced, Seq("doc_id"))
      .filter(organic("cluster_id") =!= forced("cluster_id")).count() == 0L
      && organic.count() == forced.count(),
      "organic distributed CC must equal the driver union-find")
    info(f"CC 1.2M edges: organic distributed $tOrganic%.2f s")
    // PageRank: ~1.2M-node pair graph > DefaultBroadcastMaxNodes=3e5
    val pairs = spark.range(2400000).select(
      (col("id") % 600000).as("c"),
      ((col("id") * 31 + 7) % 600000).as("s"),
      (col("id") % 5 + 1).as("w"))
      .groupBy("c", "s").agg(sum("w").as("w")).localCheckpoint()
    val t1 = System.nanoTime()
    val organicPr = graft.operators.PageRank.rankFromPairs(pairs, iters = 2)
    val planPr = ranPlan(organicPr)
    val tPr = (System.nanoTime() - t1) / 1e9
    assertShapes(planPr, "rankFromPairs-organic")
    assert(!planPr.contains("BroadcastHashJoin"),
      s"1.2M nodes must organically take the shuffle path:\n${planPr.take(2000)}")
    val forcedPr = graft.operators.PageRank.rankFromPairs(pairs, iters = 2,
      broadcastMaxNodes = Long.MaxValue)
    assert(organicPr.join(forcedPr, Seq("node"))
      .filter(organicPr("pr") =!= forcedPr("pr")).count() == 0L,
      "organic shuffle ranks must be bit-equal to the broadcast path")
    info(f"PageRank 1.2M nodes: organic shuffle $tPr%.2f s")
  }

  test("measurement family at 10×: truth from the shingle join, split from the cluster join, no decay",
      ScaleProbe) {
    // containment over a 10×-bigger exhaustive region: the truth table
    // must still come from the shared-shingle equi-join (one keyed
    // exchange), not any nested-loop pairing
    val cont = graft.dedup.Dedup.containment(docs10x, maxId = 2500)
    val planC = ranPlan(cont)
    assertShapes(planC, "containment")
    assert(planC.contains("sh"), s"shingle join missing:\n${planC.take(2000)}")
    assert(cont.count() > 0L, "planted near-copies must register containment")
    // leak split at 10×: the collision-sized cluster table joins the
    // corpus id list as a broadcast, never a shuffled corpus² pairing
    val split = graft.operators.Sampling.leakSafeSplit(docs10x)
    val planS = ranPlan(split)
    assertShapes(planS, "leakSafeSplit")
    assert(planS.contains("BroadcastHashJoin"),
      s"cluster drop list should broadcast:\n${planS.take(2000)}")
    val n = split.count()
    assert(n == 50000L, "every doc gets exactly one split row")
    // every near-dup cluster stays on one side of the boundary
    val leaks = split.groupBy("root")
      .agg(countDistinct(col("split")).as("nsplits"))
      .filter(col("nsplits") > 1).count()
    assert(leaks == 0L, s"$leaks clusters straddle the split boundary")
  }
}
