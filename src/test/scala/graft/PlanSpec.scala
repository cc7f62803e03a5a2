package graft

import graft.queries.Registry

/** Plan-regression pins (VERDICT r8 ask #6): PLANS.md documents today's
  * good physical plans; this spec asserts the load-bearing properties so
  * they cannot silently regress. Assertions run against the STATIC
  * executed plan (before any AQE runtime re-plan), so a lost broadcast
  * hint cannot be masked by AQE's runtime broadcast conversion, and no
  * data is read — sf0.001 paths only resolve schemas.
  *
  * Pinned properties:
  *  - narrow curation projections (x1/x2/x5/x16) shuffle ONLY for their
  *    final determinism ORDER BY (range partitioning) — never a
  *    hash-partitioning exchange;
  *  - small-side joins (k3 dim table, x11 probe grams, x19 per-term df)
  *    broadcast instead of sort-merge; flip1's spine (no gather join,
  *    top-k shape, single ingest window) is pinned by its own test below;
  *  - top-k queries (k1/fr6/x19) plan TakeOrderedAndProject (per-partition
  *    heaps, no global sort);
  *  - filter pushdown reaches the parquet scan (p10).
  */
class PlanSpec extends SparkSpec {

  private val dir = sf("sf0.001")

  private def plan(name: String): String = {
    val q = Registry.all.find(_.name == name)
      .getOrElse(fail(s"no query named $name"))
    q.fn(spark, dir).queryExecution.executedPlan.toString
  }

  private val narrow = Seq("x1_token_count", "x2_quality_score",
    "x5_bpe_token_count", "x16_pii_scrub",
    // chunking explodes row-locally — the windows must never shuffle
    "x25_chunk_windows")

  for (n <- narrow)
    test(s"$n: no hash-partitioning exchange — only the determinism sort") {
      val p = plan(n)
      assert(!p.contains("hashpartitioning"),
        s"narrow projection $n grew a hash shuffle:\n$p")
      // the one legitimate exchange is the final ORDER BY's range partition
      val exchanges = "Exchange ".r.findAllIn(p).size
      assert(exchanges <= 1, s"$n has $exchanges exchanges:\n$p")
      if (exchanges == 1)
        assert(p.contains("rangepartitioning"), s"$n's exchange is not the sort:\n$p")
    }

  private val broadcastJoins = Seq("k3_result_join", "x11_contamination",
    "x19_bm25_topk")

  for (n <- broadcastJoins)
    test(s"$n: small side broadcasts (no sort-merge join)") {
      val p = plan(n)
      assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
        s"$n lost its broadcast join:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$n degraded to sort-merge:\n$p")
    }

  private val topK = Seq("k1_fused_topk", "fr6_fused_topk", "x19_bm25_topk")

  for (n <- topK)
    test(s"$n: top-k is TakeOrderedAndProject, not a global sort") {
      val p = plan(n)
      assert(p.contains("TakeOrderedAndProject"),
        s"$n lost TakeOrderedAndProject:\n$p")
    }

  test("p10_filter_preds: predicates push down to the parquet scan") {
    val p = plan("p10_filter_preds")
    val pushed = "PushedFilters: \\[[^\\]]".r
    assert(pushed.findFirstIn(p).isDefined,
      s"p10 scan has no pushed filters:\n$p")
  }

  // ---- r9 ask #7: dedup-family + curation + flip1 spine pins ----------

  /** The dedup family's 100-TB claim rests on candidate generation being
    * EQUI-joins on the bucket/band key — a lost join key degrades to a
    * cartesian/BNLJ all-pairs shape that a small fixture would happily
    * execute. The plan strings include persisted relations' cached plans,
    * so the pins cover the full candidate pipeline. */
  private val bucketJoined = Seq("d3_minhash_lsh_pairs", "d7_lsh_neardup_pairs",
    "x15_span_neardup", "x18_span_excise",
    // d9's within-cell pair scan: an equi-join on the learned cluster id
    // (SMJ acceptable — both sides are corpus-sized; all-pairs is not)
    "d9_semantic_dedup")

  for (n <- bucketJoined)
    test(s"$n: candidate generation is equi-joined — never cartesian/BNLJ") {
      val p = plan(n)
      assert(!p.contains("CartesianProduct"), s"$n grew a cartesian:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$n degraded to BNLJ:\n$p")
      assert(p.contains("Join"), s"$n lost its bucket join entirely:\n$p")
    }

  /** Static physical plan with AQE DISABLED for the build: an
    * AdaptiveSparkPlanExec's `inputPlan` predates EnsureRequirements, so
    * walking it finds ZERO exchanges and every shuffle-count assertion
    * passes vacuously (caught round 10) — turning AQE off yields the
    * plain plan with its Exchange nodes physically present. */
  private def sparkPlan(name: String): org.apache.spark.sql.execution.SparkPlan = {
    val q = Registry.all.find(_.name == name)
      .getOrElse(fail(s"no query named $name"))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try q.fn(spark, dir).queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        fail(s"$name still planned adaptively with AQE off:\n$a")
      case p => p
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  /** Hash-partitioning shuffles NOT inside a broadcast subtree — i.e. the
    * shuffles the CORPUS rows pay, as opposed to a tiny dim/stat side
    * being aggregated before broadcast. */
  private def corpusHashShuffles(p: org.apache.spark.sql.execution.SparkPlan): Int = {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    def walk(n: org.apache.spark.sql.execution.SparkPlan, under: Boolean): Int = n match {
      case _: BroadcastExchangeExec => n.children.map(walk(_, under = true)).sum
      case s: ShuffleExchangeExec =>
        val hit = !under && s.outputPartitioning.isInstanceOf[HashPartitioning]
        (if (hit) 1 else 0) + n.children.map(walk(_, under)).sum
      case _ => n.children.map(walk(_, under)).sum
    }
    walk(p, under = false)
  }

  test("x14_freq_subsample: corpus path shuffle-free; text never read") {
    val p = plan("x14_freq_subsample")
    // the keep decision is a narrow filter over a two-column pruned scan:
    // the doc text column must not appear in ANY scan schema
    assert(!p.contains("text:string"), s"x14 reads text:\n$p")
    assert(!p.contains("SortMergeJoin"), s"x14 degraded to sort-merge:\n$p")
    // the only hash shuffles are the tiny per-language count aggregates,
    // both under their broadcast — corpus rows shuffle only for the
    // determinism sort (range partitioning)
    assert(corpusHashShuffles(sparkPlan("x14_freq_subsample")) == 0,
      s"x14's corpus rows pay a hash shuffle:\n$p")
  }

  test("x17_oov_rate: vocab broadcasts; one corpus shuffle (per-doc reagg)") {
    val p = plan("x17_oov_rate")
    assert(p.contains("BroadcastHashJoin"), s"x17 lost the vocab broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"x17 degraded to sort-merge:\n$p")
    // the vocab top-K is TakeOrderedAndProject on the build side
    assert(p.contains("TakeOrderedAndProject"), s"x17 vocab lost its top-k:\n$p")
    // ≤ 1: the per-doc reaggregation — elided entirely when the fixture
    // scan is a single partition (its SinglePartition output already
    // satisfies the aggregate's distribution requirement)
    assert(corpusHashShuffles(sparkPlan("x17_oov_rate")) <= 1,
      s"x17 should pay at most the per-doc reaggregation shuffle:\n$p")
  }

  /** PLANS.md's "no cartesian anywhere" claim for the probed ANN family,
    * now machine-checked: candidate generation must stay a broadcast join
    * on the coarse cell id (never an all-pairs shape), and the per-query
    * ranking a window — the fns run their k-means fits eagerly while
    * building the plan, so these also smoke the fit paths. */
  for (n <- Seq("sim3_knn_ivf", "sim5_knn_ivfpq", "sim8_knn_ivfpq_residual"))
    test(s"$n: probed candidates via broadcast cell join — never cartesian") {
      val p = plan(n)
      assert(!p.contains("CartesianProduct"), s"$n grew a cartesian:\n$p")
      assert(p.contains("BroadcastHashJoin"), s"$n lost the cell broadcast:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$n degraded to sort-merge:\n$p")
    }

  /** The full-scan ADC family (pure-PQ sim4, SQ8 sim6) scores every
    * corpus row against a tiny BROADCAST per-query lookup-table side —
    * a BroadcastNestedLoopJoin over 3 rows is the intended shape; what
    * must never appear is a CartesianProduct (both sides shuffled) or a
    * SortMergeJoin (corpus rows sorted for a 3-row side). */
  for (n <- Seq("sim4_knn_pq", "sim6_knn_sq8", "sim7_knn_binary"))
    test(s"$n: ADC scan joins the broadcast query side — never cartesian/SMJ") {
      val p = plan(n)
      assert(!p.contains("CartesianProduct"), s"$n grew a cartesian:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$n degraded to sort-merge:\n$p")
      assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
        s"$n lost the broadcast query side:\n$p")
    }

  test("sim9_knn_mrl: broadcast query side + broadcast refine — never cartesian/SMJ") {
    // shortlist = corpus × broadcast 3-row query prefixes (BNLJ intended);
    // refine = corpus joined to the BROADCAST shortlist/query ids (hash)
    val p = plan("sim9_knn_mrl")
    assert(!p.contains("CartesianProduct"), s"sim9 grew a cartesian:\n$p")
    assert(!p.contains("SortMergeJoin"), s"sim9 degraded to sort-merge:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"sim9's refine lost its broadcast:\n$p")
  }

  test("x24_domain_cap: two window shuffles, no join — the salted top-N shape") {
    val p = plan("x24_domain_cap")
    // the whole op is windows over (source, salt) then source: any Join
    // means the shape regressed to a per-domain count/join variant
    assert(!p.contains("Join"), s"x24 grew a join:\n$p")
    // corpus rows pay exactly the two window hash shuffles (phase 2's
    // input already bounded at cap·salts rows per domain); the third
    // exchange is the determinism sort's range partitioning
    assert(corpusHashShuffles(sparkPlan("x24_domain_cap")) == 2,
      s"x24's corpus rows should pay exactly the two window shuffles:\n$p")
  }

  // r10 ask #8: rr1/rr2 re-rank ≤50 rows in ONE partition BY DESIGN — the
  // safety claim is that this single-partition step sits ABOVE the
  // k-bounded top-k cut, so the corpus side never routes through a single
  // partition. The rank step is no longer a chain of unpartitioned windows
  // but one function after `coalesce(1)`: pin that no window is left and
  // that every one-partition Coalesce has a TakeOrderedAndProject (or a
  // global Limit) somewhere in its subtree.
  for (n <- Seq("rr1_rerank_pipeline", "rr2_geo_rerank"))
    test(s"$n: unpartitioned rerank windows are k-bounded by the top-k cut") {
      import org.apache.spark.sql.execution.window.WindowExec
      import org.apache.spark.sql.execution.{BaseLimitExec, CoalesceExec, TakeOrderedAndProjectExec}
      val p = sparkPlan(n)
      assert(p.collect { case w: WindowExec => w }.isEmpty, s"$n grew a window:\n$p")
      val ones = p.collect { case c: CoalesceExec if c.numPartitions == 1 => c }
      assert(ones.nonEmpty, s"$n lost its one-partition rank step:\n$p")
      ones.foreach { c =>
        val bounded = c.collectFirst {
          case t: TakeOrderedAndProjectExec => t
          case l: BaseLimitExec => l
        }
        assert(bounded.nonEmpty,
          s"$n has a one-partition rank step with NO k-bounding limit below it " +
            s"— the corpus would flow through one partition:\n$c")
      }
    }

  test("x26_training_manifest: manifest assembly reads from the persist joints, not parquet") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    // the query fn runs its own staging actions (LM threshold, components)
    // and persists the three fan-out joints; the FINAL assembly plan must
    // read exclusively from those caches — a parquet scan here means some
    // stage re-runs the whole chain above it (the 100-TB re-scan bug)
    val q = Registry.all.find(_.name == "x26_training_manifest")
      .getOrElse(fail("x26 not registered"))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = q.fn(spark, dir).queryExecution.executedPlan
      val scans = plan.collect { case s: FileSourceScanExec => s }
      assert(scans.isEmpty,
        s"x26's final assembly re-reads ${scans.size} parquet scan(s):\n$plan")
      val cached = plan.collect { case c: InMemoryTableScanExec => c }
      assert(cached.nonEmpty, s"x26 lost its persist joints:\n$plan")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.catalog.clearCache()
    }
  }

  test("x31_delta_manifest: final assembly reads from the persist joints; no cartesian anywhere") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    // same contract as x26's pin, for the incremental composition: the
    // staging actions (frozen fit, frozen threshold, screen decisions,
    // packing) persist the fan-out joints, and the final capped ⋈ packed
    // assembly must read exclusively from cache
    val q = Registry.all.find(_.name == "x31_delta_manifest")
      .getOrElse(fail("x31 not registered"))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = q.fn(spark, dir).queryExecution.executedPlan
      val scans = plan.collect { case s: FileSourceScanExec => s }
      assert(scans.isEmpty,
        s"x31's final assembly re-reads ${scans.size} parquet scan(s):\n$plan")
      assert(plan.collect { case c: InMemoryTableScanExec => c }.nonEmpty,
        s"x31 lost its persist joints:\n$plan")
      val ps = plan.toString
      assert(!ps.contains("CartesianProduct") && !ps.contains("BroadcastNestedLoop"),
        s"x31 must stay equi-join only:\n$ps")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.catalog.clearCache()
    }
  }

  test("x32 warm path: final assembly reads from the persist joints; no cartesian anywhere") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    // x31's pin, for the WARM (persisted-state) path: loading the frozen
    // base artifacts from parquet must not change the assembly discipline
    // — the state scans feed the staged joints, and the final
    // capped ⋈ packed assembly reads exclusively from cache
    val stateDir = java.nio.file.Files
      .createTempDirectory("plan-x32").resolve("state").toString
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      graft.queries.Pipeline.buildState(spark, dir, stateDir)
      spark.catalog.clearCache()
      val plan = graft.queries.Pipeline.x31Warm(spark, dir, stateDir)
        .queryExecution.executedPlan
      val scans = plan.collect { case s: FileSourceScanExec => s }
      assert(scans.isEmpty,
        s"x32's final assembly re-reads ${scans.size} parquet scan(s):\n$plan")
      assert(plan.collect { case c: InMemoryTableScanExec => c }.nonEmpty,
        s"x32 lost its persist joints:\n$plan")
      val ps = plan.toString
      assert(!ps.contains("CartesianProduct") && !ps.contains("BroadcastNestedLoop"),
        s"x32 must stay equi-join only:\n$ps")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.catalog.clearCache()
    }
  }

  test("x32 warm path: the contamination probe is a state scan, not a documents re-read") {
    // Round-15 ship (BASELINE round-15 block): the probe's distinct gram
    // hashes ride the persisted state (`probe/`), so the warm chain must
    // (a) scan the state's probe relation and (b) touch the documents
    // table in strictly FEWER places than the cold chain, which derives
    // the probe (and the whole base side) from the fixture per run.
    val stateDir = java.nio.file.Files
      .createTempDirectory("plan-x32probe").resolve("state").toString
    graft.queries.Pipeline.buildState(spark, dir, stateDir)
    spark.catalog.clearCache()
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    def scanRoots(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.analyzed.collect {
        case l: LogicalRelation => l.relation match {
          case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
          case _ => Seq.empty
        }
      }.flatten
    val warmRoots = scanRoots(graft.queries.Pipeline.x31Warm(spark, dir, stateDir))
    spark.catalog.clearCache()
    val coldRoots = scanRoots(graft.queries.Registry.all
      .find(_.name == "x31_delta_manifest")
      .getOrElse(fail("x31 not registered")).fn(spark, dir))
    spark.catalog.clearCache()
    assert(warmRoots.exists(_.contains(new java.io.File(stateDir, "probe").getPath)),
      s"warm contamination must read the state's probe relation; scans: $warmRoots")
    def docScans(roots: Seq[String]): Int = roots.count(_.contains("documents.parquet"))
    assert(docScans(warmRoots) < docScans(coldRoots),
      s"warm path must re-read the documents table in strictly fewer places " +
        s"than cold (warm=${docScans(warmRoots)}, cold=${docScans(coldRoots)})")
  }

  test("pruned warm screen: a 1-doc batch reads a strict subset of the state's files") {
    // VERDICT r15 ask #1(b): the state's corpus relations are laid out in
    // a hash-mod partition space, and a small batch's bounded bucket /
    // candidate-id sets push down as PARTITION FILTERS — so the per-batch
    // read cost is O(touched files), not O(corpus files). Pin it at the
    // scan level: numFiles metrics after execution vs the state's own
    // file listing (IncrementalState.stats).
    import graft.dedup.IncrementalDedup
    import graft.incremental.IncrementalState
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val stateDir = java.nio.file.Files
      .createTempDirectory("plan-pruned").resolve("state").toString
    // 200 distinct docs spread over most of the 32 pd/pb partitions
    val base = (1L to 200L)
      .map(i => (i, s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i"))
      .toDF("doc_id", "text")
    val bsh = IncrementalDedup.shingled(base, "doc_id", "text")
    IncrementalState.save(spark, stateDir, new Array[Long](27 * 27 * 27), 0L,
      None, base.select(org.apache.spark.sql.functions.md5(col("text")).as("bh")),
      base, bsh, IncrementalDedup.bucketsOf(bsh), Seq.empty[String].toDF("g"))
    val st = IncrementalState.load(spark, stateDir)
    val stats = IncrementalState.stats(spark, stateDir)
    assert(stats("shingles").files > 8 && stats("partners").files > 8,
      s"fixture must spread over many partition dirs for the pin to mean anything: $stats")
    val batch = Seq((9000L, "alpha50 beta50 gamma50 delta50 epsilon50 zeta50"))
      .toDF("doc_id", "text")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def filesRead(df: org.apache.spark.sql.DataFrame, rel: String): Long = {
        df.collect() // metrics are filled by execution
        import org.apache.spark.sql.execution.SparkPlan
        import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
        // descend into persisted joints: the scans live in the cached plan
        def allScans(p: SparkPlan): Seq[FileSourceScanExec] = p.collect {
          case s: FileSourceScanExec => Seq(s)
          case im: InMemoryTableScanExec => allScans(im.relation.cachedPlan)
        }.flatten
        val scans = allScans(df.queryExecution.executedPlan).filter(
          _.relation.location.rootPaths.exists(_.toString.contains(
            new java.io.File(stateDir, rel).getPath)))
        assert(scans.nonEmpty, s"no $rel scan in:\n${df.queryExecution.executedPlan}")
        scans.map(_.metrics("numFiles").value).sum
      }
      // half 1: the candidate join reads a pruned subset of partners/
      val dbk = IncrementalDedup.bucketsOf(
          IncrementalDedup.shingled(batch, "doc_id", "text"))
        .select(col("bucket"), col("doc_id").as("delta_id"))
      val cand = IncrementalDedup.prunedCandidates(
        st.basePartnersP, st.pMod, st.canonical, dbk, prune = true, st.bucketCap)
      val partnersRead = filesRead(cand, "partners")
      assert(partnersRead > 0 && partnersRead < stats("partners").files,
        s"1-doc batch must read a strict subset of partners/ files " +
          s"($partnersRead of ${stats("partners").files})")
      assert(cand.select("base_id").as[Long].collect().toSeq == Seq(50L),
        "the pruned read must still find the one true candidate")
      // half 2: verification reads a pruned subset of shingles/
      val screened = IncrementalDedup.screenPartitioned(
        st.baseShP, st.basePartnersP, st.pMod, st.canonical,
        batch, "doc_id", "text", 0.8, prune = true, st.bucketCap)
      val shinglesRead = filesRead(screened, "shingles")
      assert(shinglesRead > 0 && shinglesRead < stats("shingles").files,
        s"1-doc batch must read a strict subset of shingles/ files " +
          s"($shinglesRead of ${stats("shingles").files})")
      assert(screened.collect().map(r => (r.getBoolean(1), r.getLong(2))).toSeq ==
        Seq((false, 50L)), "the pruned screen must still catch the copy")
      // half 3: the exact-dedup anti-join's base side reads a pruned
      // subset of hashes/ — and still carries the one hash the batch's
      // copy must anti-join against (superset-validity of the raw-batch
      // prune set)
      val prunedHashes = graft.queries.Pipeline.prunedBaseHashes(
        st, batch, "text")
      val hashesRead = filesRead(prunedHashes, "hashes")
      assert(hashesRead > 0 && hashesRead < stats("hashes").files,
        s"1-doc batch must read a strict subset of hashes/ files " +
          s"($hashesRead of ${stats("hashes").files})")
      val copyHash = batch.select(org.apache.spark.sql.functions
        .md5(col("text")).as("h")).head().getString(0)
      assert(prunedHashes.filter(col("bh") === copyHash).count() == 1,
        "the pruned hash set must still contain the copy's content hash")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.catalog.clearCache()
    }
  }

  test("flip1 spine: no gather join, TakeOrderedAndProject top-k, one ingest window") {
    // the lazy lifecycle (the query fn materializes before closing the
    // engine, leaving only a LocalTableScan — lazySearch exposes the plan)
    val (out, close) = graft.queries.Flipkart.lazySearch(spark)
    try {
      val p = out.queryExecution.executedPlan.toString
      assert(p.contains("TakeOrderedAndProject"), s"flip1 lost its top-k:\n$p")
      // the top-k projection outputs the answer rows: no join of any kind
      assert(!p.contains("BroadcastHashJoin") && !p.contains("BroadcastExchange"),
        s"flip1 grew a gather join:\n$p")
      assert(!p.contains("SortMergeJoin"), s"flip1 degraded to sort-merge:\n$p")
      assert(!p.contains("CartesianProduct"), s"flip1 grew a cartesian:\n$p")
      assert(p.contains("FileScan csv"), s"flip1 lost the CSV ingest scan:\n$p")
      // the deterministic row-id window is the documented 20K-row ingest
      // boundary — the spine must not grow more unpartitioned windows
      assert("Window \\[row_number".r.findAllIn(p).size >= 1 &&
        p.contains("Exchange SinglePartition"),
        s"flip1's ingest window shape changed:\n$p")
    } finally close()
  }
}
