package graft


/** Benchmark main: times every declared query against
  * SPARK_GRAFT_SF_DIR, full evaluation through the noop sink (count()
  * can short-circuit column reads; noop forces the whole plan including
  * result production). Emits ONE JSON line on stdout.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Engine.sessionBuilder(Engine.envCores(32))
      // bench-only: 83 queries × 3 passes leave thousands of dead
      // shuffle files, broadcast vars and localCheckpoint blocks that
      // the ContextCleaner only frees on a JVM GC — which a 128 GB
      // heap rarely triggers. r3 ran periodicGC every 30s, but a timer
      // GC lands at arbitrary points — including mid-broadcast-build —
      // and a full pause on a 128 GB heap is the prime suspect for r3's
      // unexplained 3× outliers (q_regional_rev/q_revenue_nation/
      // q_repetition: broadcast-heavy plans, code unchanged). Instead:
      // timer effectively off, explicit System.gc() BETWEEN passes (see
      // below) — same block/file hygiene, deterministic timing, never
      // inside a timed query.
      .config("spark.cleaner.periodicGC.interval", "30min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // JVM/codegen/shuffle warmup outside the timed region: a tiny
    // end-to-end plan including an exchange (first shuffle of a session
    // pays subsystem init otherwise charged to the first query)
    spark.range(10000).groupBy(org.apache.spark.sql.functions.expr("id % 7"))
      .count().write.format("noop").mode("overwrite").save()
    SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    // warm the hot expression pipelines (shingle explode, polynomial
    // minhash, CC loop, vector kernels) on the smallest SF so codegen
    // compilation + C2 JIT aren't charged to whichever timed query
    // alphabetically touches them first — standard JMH-style warmup;
    // the timed data (sfDir) is never read here. The warmup SF lives
    // next to the timed SF (sibling dir), so a relocated testdata root
    // still warms up; failures are logged, not swallowed.
    val warmDir = java.nio.file.Paths.get(sfDir).toAbsolutePath.getParent match {
      case null => sfDir
      case p =>
        val sib = p.resolve("sf0.001")
        if (java.nio.file.Files.isDirectory(sib)) sib.toString else sfDir
    }
    Seq("q_dup_clusters", "q_dedup_best", "q_curate", "q_winnow", "q_simhash",
        "q_quant_knn", "q_tfidf_top", "q_asof_join", "q_bpe_pairs",
        "q_pq_knn", "q_bm25").foreach { q =>
      try SparkEntry.queries(q)(spark, warmDir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] warmup $q skipped: ${e.getMessage}")
      }
    }
    // three passes per query, report the per-query minimum: the machine
    // shares a host (load-average swings with zero local processes), so
    // a single shot confounds engine time with host steal; min-of-N is
    // the steady-state measurement. Passes are ROTATED by thirds: steal
    // bursts last minutes and cover contiguous stretches, so same-order
    // passes time each query at the same run offset every time and the
    // min keeps the noise. Thirds rotation puts a query's three timings
    // ~a third of a pass apart in wall-clock, so a burst must span the
    // whole run to poison all samples of any query. Each pass's
    // per-query times go to stderr so a regression can be attributed to
    // one pass (burst) vs all passes (real).
    def timeAll(pass: Int, nPasses: Int): (Seq[(String, Double)], Seq[String]) = {
      val ordered = SparkEntry.queries.keys.toSeq.sorted
      val off = ordered.size * pass / nPasses
      timeQueries(ordered.drop(off) ++ ordered.take(off)) { name =>
        SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
      } { (name, r) => r match {
        case Right(dt) => System.err.println(f"[bench] pass=$pass $name%-22s $dt%.3f")
        case Left(e) => System.err.println(s"[bench] pass=$pass $name failed: ${e.getMessage}")
      }}
    }
    val nPasses = sys.env.get("SPARK_GRAFT_BENCH_PASSES").map(_.toInt).getOrElse(3)
    // -------- host sentinel (r16, VERDICT r15 #2). Two rounds of
    // driver artifacts carried multi-minute host stalls that only
    // forensics on per-pass arrays could see (r14 pass-0 1292s vs 229s;
    // r15 passes 1344/827/1158s where a quiet run totals ~175s). The
    // sentinel is a CONSTANT-WORK query — fixed row count, fixed
    // arithmetic, one exchange, zero data dependence — timed around
    // every pass. Its variance measures the MACHINE, never the code:
    // sentinel[p]/min(sentinel) is the host factor in effect at that
    // pass boundary, so a stalled pass is attributable from the
    // artifact alone (read protocol in SCALING.md r16).
    def sentinel(): Double = {
      val t0 = System.nanoTime()
      // summand bounded so the per-group sum stays far from Long
      // overflow under ANSI mode (64M rows × <1e6 ≈ 6.6e13 per group)
      spark.range(0, 64L * 1000L * 1000L, 1, 32)
        .selectExpr("id % 97 AS k", "(id * 2654435761) % 1000003 AS v")
        .groupBy("k").agg(org.apache.spark.sql.functions.sum("v"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    sentinel() // warm the sentinel's own codegen off the clock
    val sentinels = scala.collection.mutable.ArrayBuffer.empty[Double]
    // pass hygiene, run BEFORE every pass (r5 verdict: late passes
    // showed ~1.5× bursts on a handful of queries). A single System.gc()
    // is not enough: it only ENQUEUES dead broadcast/shuffle/checkpoint
    // references — the ContextCleaner thread processes them
    // asynchronously, so cleanup triggered after pass p can land its
    // block/file deletions in the middle of pass p+1's timed queries.
    // GC → drain window → GC (the JMH shape): the sleep lets the
    // cleaner work through its reference queue outside any timed
    // region, and the second GC sweeps what that processing freed.
    def hygiene(): Unit = { System.gc(); Thread.sleep(2000); System.gc() }
    val byPass = (0 until nPasses).map { p =>
      hygiene()
      val s = sentinel()
      sentinels += s
      System.err.println(f"[bench] sentinel pre-pass=$p $s%.3f")
      val r = timeAll(p, nPasses)
      System.err.println(f"[bench] pass=$p total=${r._1.map(_._2).sum}%.2f")
      r
    }
    val (perQuery, failed) = overPasses(byPass)
    val failedSet = failed.toSet
    // closing sample: brackets the final pass so a stall in pass N-1
    // shows on at least one side
    sentinels += sentinel()
    System.err.println(f"[bench] sentinel post-run ${sentinels.last}%.3f")
    val sentinelJson =
      sentinels.map(s => f"$s%.3f").mkString("[", ",", "]")
    // headline stays min-of-N (steady state under host steal); the
    // per-pass arrays make any drift self-diagnosing — a query slow in
    // ONE pass was hit by a burst (environment), slow in EVERY pass
    // changed plan or data (real). Without them a drift needs a rerun
    // to attribute.
    val results = perQuery.map { case (k, ts) => k -> ts.min }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val passesJson = perQuery.map { case (k, ts) =>
      "\"" + k + "\":[" + ts.map(t => f"$t%.3f").mkString(",") + "]"
    }.mkString("{", ",", "}")
    val passTotals = byPass.map(r =>
      f"${r._1.filterNot(q => failedSet(q._1)).map(_._2).sum}%.2f").mkString("[", ",", "]")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2).sum
    // The harness that archives stdout keeps only its LAST 2000 chars,
    // and ~140 query names alone exceed that — a full per-query JSON on
    // stdout gets its head truncated (r7 lost every query before
    // ~q_overview). Split the artifact:
    //   stdout — ONE complete, parseable JSON line under the 2000-char
    //     tail: totals, pass totals, and the slowest queries (the only
    //     ones whose regressions are gradable) up to a strict char
    //     budget, plus how many were omitted and where the rest live.
    //   BENCH_FULL.json (repo-kept, committed each round) — every
    //     query's min AND per-pass array, machine-diffable round over
    //     round.
    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL",
      "/root/repo/BENCH_FULL.json")
    // -------- self-normalization against the PRIOR round's artifact.
    // Three rounds running, host-regime drift (r7 text queries, r8
    // q_sessions — SCALING.md attributions) forced manual A/Bs to tell
    // environment from regression. The artifact now classifies itself:
    //   median_vs_prev — median over common queries of min_now/min_prev;
    //     the host-regime scale factor (1.0 = stable host).
    //   flagged — queries BOTH (a) slower than 1.4× that median (their
    //     drift is not the shared host shift) AND (b) with this round's
    //     FASTEST pass slower than the prior round's SLOWEST (the two
    //     per-pass distributions don't overlap, so no single steal
    //     burst explains it). Only those merit a code-level A/B.
    // The prior artifact is read from fullPath BEFORE this run
    // overwrites it (override: SPARK_GRAFT_BENCH_PREV).
    val prevPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_PREV", fullPath)
    def objOf(json: String, field: String): String = {
      val i = json.indexOf("\"" + field + "\":{")
      if (i < 0) "" else {
        val s = json.indexOf('{', i)
        var depth = 0; var j = s
        while (j < json.length && { if (json(j) == '{') depth += 1
          else if (json(j) == '}') depth -= 1; depth != 0 }) j += 1
        json.substring(s, j + 1)
      }
    }
    val (prevMins, prevPasses) =
      try {
        val txt = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(prevPath)), "UTF-8")
        val minRe = """"([A-Za-z0-9_]+)":([0-9]+\.[0-9]+)""".r
        val passRe = """"([A-Za-z0-9_]+)":\[([0-9.,]+)\]""".r
        (minRe.findAllMatchIn(objOf(txt, "queries"))
           .map(m => m.group(1) -> m.group(2).toDouble).toMap,
         passRe.findAllMatchIn(objOf(txt, "passes"))
           .map(m => m.group(1) -> m.group(2).split(',').map(_.toDouble).toSeq)
           .toMap)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] no prior artifact ($prevPath): ${e.getMessage}")
        (Map.empty[String, Double], Map.empty[String, Seq[Double]])
      }
    val ratios = results.flatMap { case (k, v) =>
      prevMins.get(k).filter(_ > 0).map(p => k -> v / p) }
    val medianVsPrev = if (ratios.isEmpty) None else {
      val s = ratios.map(_._2).sorted
      Some(if (s.size % 2 == 1) s(s.size / 2)
           else (s(s.size / 2 - 1) + s(s.size / 2)) / 2)
    }
    val flagged = medianVsPrev.map { med =>
      ratios.filter { case (k, r) =>
        r > 1.4 * med &&
          prevPasses.get(k).exists(pp =>
            perQuery.toMap.get(k).exists(_.min > pp.max))
      }.sortBy(-_._2)
    }.getOrElse(Seq.empty)
    val medianJson = medianVsPrev.map(m => f"$m%.3f").getOrElse("null")
    def flaggedJsonOf(fs: Seq[(String, Double)]) = fs.map { case (k, r) =>
      "\"" + k + "\":" + f"$r%.2f" }.mkString("{", ",", "}")
    def normJsonOf(fs: Seq[(String, Double)]) =
      s""""median_vs_prev":$medianJson,"flagged":${flaggedJsonOf(fs)},""" +
        s""""flagged_omitted":${flagged.size - fs.size},"n_common":${ratios.size}"""
    // full artifact: the complete flagged list. stdout: top 8 by ratio
    // — a broad regression (a Spark upgrade slowing half the suite)
    // must not blow the header past the harness's 2000-char tail, the
    // exact truncation this split-artifact design exists to survive
    val normJson = normJsonOf(flagged)
    val normJsonTop = normJsonOf(flagged.take(8))
    val fullJson = f"""{"metric":"total","value":$total%.3f,"unit":"sec",$normJson,"sentinel":$sentinelJson,"failed":$failedJson,"queries":$qs,"passes":$passesJson,"pass_totals":$passTotals,"sf":"$sfDir"}"""
    try java.nio.file.Files.write(java.nio.file.Paths.get(fullPath),
      (fullJson + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] full artifact write failed: ${e.getMessage}")
    }
    val slowestFirst = results.sortBy { case (_, v) => (-v, "") }
    val header = f"""{"metric":"total","value":$total%.3f,"unit":"sec","sf":"$sfDir","pass_totals":$passTotals,"sentinel":$sentinelJson,$normJsonTop,"full":"$fullPath","failed":$failedJson,"queries_total":${results.size},"""
    val budget = 1950 - header.length - 60 // room for the closing fields
    val picked = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    var used = 0
    slowestFirst.foreach { case (k, v) =>
      val entryLen = k.length + 10 // "k":v.vvv,
      if (used + entryLen <= budget) { picked += ((k, v)); used += entryLen }
    }
    val qsTop = picked.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    println(header +
      s""""queries_omitted":${results.size - picked.size},"queries":$qsTop}""")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }

  /** Per-query pass times, by name, from each pass's (timed, failed)
    * outcome. A query that threw in ANY pass is only reported as failed
    * and is left out of every timing figure — the minimum, the totals and
    * the drift flags — because its partial time would read as a speedup. */
  def overPasses(byPass: Seq[(Seq[(String, Double)], Seq[String])])
  : (Seq[(String, Seq[Double])], Seq[String]) = {
    val failed = byPass.flatMap(_._2).distinct.sorted
    val perQuery = byPass.flatMap(_._1).filterNot(r => failed.contains(r._1))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toSeq.sortBy(_._1)
    (perQuery, failed)
  }

  /** Time `run` once per query, in order. A query that throws records
    * NO time — a crash must never read as a speedup — only its name, in
    * the failed list. `report` sees each outcome as it lands. */
  def timeQueries(names: Seq[String])(run: String => Unit)(
      report: (String, Either[Throwable, Double]) => Unit)
  : (Seq[(String, Double)], Seq[String]) = {
    val outcomes = names.map { name =>
      val t0 = System.nanoTime()
      val r = try { run(name); Right((System.nanoTime() - t0) / 1e9) }
        catch { case e: Throwable => Left(e) }
      report(name, r)
      name -> r
    }
    (outcomes.collect { case (n, Right(dt)) => n -> dt },
     outcomes.collect { case (n, Left(_)) => n })
  }
}
