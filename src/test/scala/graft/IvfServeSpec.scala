package graft

import graft.search.{Quantizer, Search}
import graft.serve.IvfIndex
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** IVF-partitioned serving index (VERDICT r8 ask #8): the probed query
  * must PRUNE the non-probed cell directories before reading a byte —
  * asserted via the scan's numFiles metric — and probing every cell must
  * equal brute force exactly.
  */
class IvfServeSpec extends SparkSpec {

  private val nCents = 8

  private lazy val built: (IvfIndex.Handle, Int) = {
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val path = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    val h = IvfIndex.write(emb, "embedding", "vec_id", path,
      nCentroids = nCents, iters = 3)
    val totalFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
      .filter(p => p.toString.endsWith(".parquet"))
      .count().toInt
    (h, totalFiles)
  }

  private def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect() // finalize (metrics populate on execution)
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scans = plan.collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty, s"no file scan in plan:\n$plan")
    scans.map(_.metrics("numFiles").value).sum
  }

  test("probeCells ranks cells by the assignment's arithmetic and tie rule") {
    import spark.implicits._
    // |q−c|² ties at 0.43 for both cells; the assignment's
    // |q|² − 2·q·c + |c|² puts cell 1 first (0.42999999999999994 < 0.43),
    // so a probe of 1 must read the cell q's own row was written to
    val q = Array(0.2, 0.7, 0.2, 0.2)
    val cents = Array(Array(-0.3, 0.3, 0.1, 0.1), Array(-0.3, 0.3, 0.3, 0.3))
    val h = IvfIndex.Handle("unused", cents, Quantizer.Flat,
      new org.apache.spark.sql.types.StructType())
    val assigned = Seq(q.toSeq).toDF("v")
      .select(Search.ivfAssign(col("v"), cents)).head().getInt(0)
    assert(IvfIndex.probeCells(h, q, 1) == Seq(assigned))
  }

  test("delete: doomed ids vanish, only their cells rewritten") {
    // build a private index (the shared `built` must stay immutable)
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val path = java.nio.file.Files.createTempDirectory("graft-ivfdel").toString
    val h = IvfIndex.write(emb, "embedding", "vec_id", path,
      nCentroids = nCents, iters = 3)
    val before = spark.read.parquet(path)
      .select("id", "cid").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val doomed = Seq(3L, 7L, 11L)
    val doomedCells = doomed.map(before).toSet
    // record untouched directories' file listing (delete must not open them)
    def listing(cid: Int): Seq[(String, Long)] = {
      val d = new java.io.File(s"$path/cid=$cid")
      if (!d.exists()) Seq.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified())).toSeq.sorted
    }
    val untouched = before.values.toSet.diff(doomedCells).toSeq.sorted
    val untouchedBefore = untouched.map(c => c -> listing(c)).toMap
    val nAffected = IvfIndex.delete(spark, h, doomed)
    assert(nAffected == doomedCells.size)
    val after = spark.read.parquet(path).select("id").collect().map(_.getLong(0)).toSet
    doomed.foreach(id => assert(!after.contains(id), s"id $id survived delete"))
    assert(after.size == before.size - doomed.size, "non-doomed rows lost")
    untouched.foreach(c => assert(listing(c) == untouchedBefore(c),
      s"untouched cell $c was rewritten"))
    // the index still serves: deleted ids can never appear in a top-k
    val q = emb.filter(col("vec_id") === 3L).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble).toArray
    val top = IvfIndex.probedTopK(spark, h, q, nProbe = nCents, k = 10)
      .collect().map(_.getLong(0))
    doomed.foreach(id => assert(!top.contains(id)))
  }

  test("compact: fragmented cells coalesce, rows identical, quiet cells untouched") {
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val path = java.nio.file.Files.createTempDirectory("graft-ivfcmp").toString
    val h = IvfIndex.write(emb, "embedding", "vec_id", path,
      nCentroids = nCents, iters = 3)
    // fragment ONE cell with appends (the appendStream effect in batch form)
    val cells = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("cid=")).map(_.getName.stripPrefix("cid=").toInt)
      .sorted
    val victim = cells.head
    val one = spark.read.parquet(s"$path/cid=$victim").limit(1)
    (1 to 4).foreach { i =>
      one.withColumn("id", col("id") + lit(1000L * i))
        .write.mode("append").parquet(s"$path/cid=$victim")
    }
    def files(cid: Int): Seq[String] = {
      val d = new java.io.File(s"$path/cid=$cid")
      d.listFiles().filter(_.getName.endsWith(".parquet")).map(_.getName).toSeq.sorted
    }
    assert(files(victim).size >= 5, "fixture failed to fragment")
    val quiet = cells.tail
    val quietBefore = quiet.map(c => c -> files(c)).toMap
    val rowsBefore = spark.read.parquet(path).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq
    val compacted = IvfIndex.compact(spark, h, maxFilesPerCell = 2)
    assert(compacted == Seq(victim), s"compacted $compacted, expected $victim")
    assert(files(victim).size == 1, s"victim still has ${files(victim).size} files")
    quiet.foreach(c => assert(files(c) == quietBefore(c), s"quiet cell $c touched"))
    val rowsAfter = spark.read.parquet(path).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(rowsAfter == rowsBefore, "compaction changed the row set")
  }

  test("recover: maintenance-crash leftovers are swept, every row restored") {
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val path = java.nio.file.Files.createTempDirectory("graft-ivfrec").toString
    IvfIndex.write(emb, "embedding", "vec_id", path,
      nCentroids = nCents, iters = 3)
    val rows = spark.read.parquet(path).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq
    val cells = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("cid="))
      .map(_.getName.stripPrefix("cid=").toInt).sorted
    assert(cells.length >= 3, "fixture needs >=3 cells")
    import java.nio.file.{Files, Paths}
    val p = Paths.get(path)
    // crash A: tmp written, swap never started → must be dropped
    val cA = cells(0)
    Files.createDirectory(p.resolve(s".tmp-cid=$cA"))
    // crash B: live dir moved aside, rename-in never happened → restore it
    // (under the OLD delete-then-rename ordering this state was a silent
    // data LOSS: the only copy sat in a hidden dir Spark reads skip)
    val cB = cells(1)
    Files.move(p.resolve(s"cid=$cB"), p.resolve(s".old-cid=$cB"))
    // crash C: swap committed, old copy not yet deleted → drop the old
    val cC = cells(2)
    Files.createDirectory(p.resolve(s".old-cid=$cC"))
    Files.write(p.resolve(s".old-cid=$cC").resolve("stale.bin"), Array[Byte](1, 2, 3))
    // pre-recovery, the crashed-B cell's rows are INVISIBLE to a reader
    val crashed = spark.read.parquet(path).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(crashed.size < rows.size, "hidden dir unexpectedly visible")
    val swept = IvfIndex.recover(spark, path).toSet
    assert(swept == Set(s".tmp-cid=$cA", s".old-cid=$cB", s".old-cid=$cC"))
    assert(!Files.exists(p.resolve(s".tmp-cid=$cA")))
    assert(Files.exists(p.resolve(s"cid=$cB")))
    assert(!Files.exists(p.resolve(s".old-cid=$cB")))
    assert(!Files.exists(p.resolve(s".old-cid=$cC")))
    val after = spark.read.parquet(path).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(after == rows, "recovery lost or duplicated rows")
    // open() runs the sweep implicitly
    Files.createDirectory(p.resolve(s".tmp-cid=$cA"))
    IvfIndex.open(spark, path)
    assert(!Files.exists(p.resolve(s".tmp-cid=$cA")))
  }

  test("write rejects metaCols colliding with the reserved index layout") {
    val emb = Tables.embeddings(spark, sf("sf0.001")).withColumn("cid", lit(1))
    val path = java.nio.file.Files.createTempDirectory("graft-ivfbad").toString
    val e = intercept[IllegalArgumentException] {
      IvfIndex.write(emb, "embedding", "vec_id", path,
        nCentroids = 2, iters = 1, metaCols = Seq("cid"))
    }
    assert(e.getMessage.contains("cid"))
  }

  test("filtered search: metadata predicate pushes into the probed scan") {
    // metadata rides the index; the label predicate must (a) produce the
    // exact filtered ranking, (b) reach the parquet scan's PushedFilters
    // (row-group skipping inside already-pruned directories), (c) keep
    // directory pruning intact
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val path = java.nio.file.Files.createTempDirectory("graft-ivfmeta").toString
    val h = IvfIndex.write(emb, "embedding", "vec_id", path,
      nCentroids = nCents, iters = 3, metaCols = Seq("label"))
    val q = emb.filter(col("vec_id") === 7L).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble).toArray
    val nProbe = 2; val k = 5; val wantLabel = 1
    def freshDf = IvfIndex.probedTopK(spark, h, q, nProbe, k,
      pred = Some(col("label") === wantLabel))
    val got = freshDf.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got.nonEmpty, "fixture holds no matching rows — filter untested")
    // driver twin: rounded cosine over the probed cells' matching rows
    val cells = IvfIndex.probeCells(h, q, nProbe).toSet
    val qn = math.sqrt(q.map(x => x * x).sum)
    val want = spark.read.parquet(path)
      .filter(col("cid").isin(cells.toSeq.map(Integer.valueOf): _*))
      .filter(col("label") === wantLabel)
      .select("id", "v").collect()
      .map { r =>
        val v = r.getSeq[Double](1)
        var s = 0.0; var vn = 0.0; var i = 0
        while (i < v.length) { s += q(i) * v(i); vn += v(i) * v(i); i += 1 }
        val sc = BigDecimal(s / (qn * math.sqrt(vn)))
          .setScale(5, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
        (r.getLong(0), sc)
      }
      .sortBy { case (id, sc) => (-sc, id) }.take(k).toSeq
    assert(got == want, s"filtered ranking diverged:\ngot  $got\nwant $want")
    // every served row actually matches the filter
    val labels = spark.read.parquet(path).select("id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    got.foreach { case (id, _) => assert(labels(id) == wantLabel) }
    // plan: predicate in PushedFilters + directory pruning preserved
    // (a FRESH DataFrame — metrics on a re-collected AQE plan read 0)
    val df = freshDf
    df.collect()
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scans = plan.collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty)
    val planStr = plan.toString
    assert("PushedFilters: \\[[^\\]]*EqualTo\\(label".r.findFirstIn(planStr).isDefined,
      s"label predicate not pushed to the scan:\n$planStr")
    val expectFiles = cells.toSeq.map { c =>
      new java.io.File(s"$path/cid=$c").listFiles()
        .count(_.getName.endsWith(".parquet"))
    }.sum
    assert(scans.map(_.metrics("numFiles").value).sum == expectFiles,
      "filtered scan lost directory pruning")
  }

  test("batched filtered serving == sequential probedTopKWhere, bit-identical") {
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val path = java.nio.file.Files.createTempDirectory("graft-ivfmetab").toString
    val h = IvfIndex.write(emb, "embedding", "vec_id", path,
      nCentroids = nCents, iters = 3, metaCols = Seq("label"))
    val qs = Seq(0L, 3L, 7L, 11L).map { id =>
      emb.filter(col("vec_id") === id).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble).toArray
    }
    // each query carries a DIFFERENT predicate — incl. one unfiltered
    val preds = Seq(col("label") === 1, col("label") =!= 2,
      col("label") < 5, lit(true))
    val nProbe = 2; val k = 5
    val batch = IvfIndex.probedTopKBatch(spark, h, qs, nProbe, k, preds = preds)
    val seq = (qs, preds).zipped.map { (q, p) =>
      IvfIndex.probedTopK(spark, h, q, nProbe, k, pred = Some(p))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    }
    (batch, seq).zipped.zipWithIndex.foreach { case ((b, s), i) =>
      assert(b == s, s"query $i diverged:\nbatch $b\nseq   $s")
    }
    // and every served row matches its query's own filter
    val labels = spark.read.parquet(path).select("id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    batch(0).foreach { case (id, _) => assert(labels(id) == 1) }
    batch(1).foreach { case (id, _) => assert(labels(id) != 2) }
  }

  test("index layout: one directory per cell + centroid sidecar reopens") {
    val (h, totalFiles) = built
    val cells = new java.io.File(h.path).listFiles()
      .filter(_.getName.startsWith("cid=")).map(_.getName).sorted
    // k-means may leave empty clusters (no cid= dir) — pin against the
    // cids ACTUALLY written, not the fit's cluster count
    val writtenCids = spark.read.parquet(h.path)
      .select("cid").distinct().collect().map(_.getInt(0)).sorted
    assert(cells.length == writtenCids.length,
      s"dirs ${cells.mkString(",")} vs cids ${writtenCids.mkString(",")}")
    assert(cells.length <= nCents && cells.nonEmpty)
    assert(totalFiles >= cells.length)
    val reopened = IvfIndex.open(spark, h.path)
    assert(reopened.centroids.length == nCents)
    (reopened.centroids, h.centroids).zipped.foreach { (a, b) =>
      assert(a.toSeq == b.toSeq, "sidecar must round-trip centroids exactly")
    }
  }

  test("probed query scans only nProbe/nCentroids of the files") {
    val (h, totalFiles) = built
    val q = Tables.embeddings(spark, sf("sf0.001"))
      .filter(col("vec_id") === 7L).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble).toArray
    val nProbe = 2
    val pruned = scannedFiles(IvfIndex.probedTopK(spark, h, q, nProbe, 10))
    val full = scannedFiles(IvfIndex.probedTopK(spark, h, q, nCents, 10))
    info(s"pruned scan: $pruned of $full files (total on disk $totalFiles)")
    assert(full.toInt == totalFiles, "probing every cell must read every file")
    assert(pruned < full, s"pruning had no effect: $pruned of $full")
    // directory-level pruning: at most the probed cells' share (cells can
    // hold several files; bound by file count of the 2 probed dirs)
    val probedDirs = IvfIndex.probeCells(h, q, nProbe)
    val probedFiles = probedDirs.map { c =>
      new java.io.File(s"${h.path}/cid=$c").listFiles()
        .count(_.getName.endsWith(".parquet"))
    }.sum
    assert(pruned == probedFiles,
      s"scan read $pruned files, probed dirs hold $probedFiles")
  }

  test("probing every cell equals brute force; fewer probes lose only recall") {
    val (h, _) = built
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val q = emb.filter(col("vec_id") === 7L).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble).toArray
    val exact = emb
      .select(col("vec_id").cast("long").as("vec_id"),
        Search.asDouble(col("embedding")).as("v"))
      .withColumn("score", round(Search.dot(typedLit(q.toSeq), col("v")) /
        (lit(math.sqrt(q.map(x => x * x).sum)) * Search.l2Norm(col("v"))), 5) + 0.0)
      .orderBy(col("score").desc, col("vec_id"))
      .limit(10).select("vec_id", "score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val probedAll = IvfIndex.probedTopK(spark, h, q, nCents, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(probedAll == exact, "exhaustive probe must equal brute force")
    val probed2 = IvfIndex.probedTopK(spark, h, q, 2, 10)
      .collect().map(_.getLong(0)).toSeq
    val recall = probed2.toSet.intersect(exact.map(_._1).toSet).size / 10.0
    info(s"nProbe=2 recall vs brute force: $recall")
    assert(recall >= 0.5, s"2/8-probe recall collapsed: $recall")
  }

  test("batched probe is bit-identical to sequential probedTopK calls") {
    val (h, _) = built
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val qs = Seq(3L, 7L, 11L, 7L).map { id => // includes a duplicate query
      emb.filter(col("vec_id") === id).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble).toArray
    }
    for (nProbe <- Seq(2, nCents)) {
      val batch = IvfIndex.probedTopKBatch(spark, h, qs, nProbe, 10)
      val sequential = qs.map { q =>
        IvfIndex.probedTopK(spark, h, q, nProbe, 10)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      }
      assert(batch.size == qs.size)
      (batch, sequential).zipped.foreach { (b, s) =>
        assert(b == s, s"nProbe=$nProbe batch $b != sequential $s")
      }
    }
  }

  test("batched probe scans only the UNION of the probed cells, once") {
    val (h, _) = built
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val qs = Seq(3L, 7L, 11L).map { id =>
      emb.filter(col("vec_id") === id).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble).toArray
    }
    val nProbe = 2
    val unionCells = qs.flatMap(q => IvfIndex.probeCells(h, q, nProbe)).distinct
    val expectFiles = unionCells.map { c =>
      new java.io.File(s"${h.path}/cid=$c").listFiles()
        .count(_.getName.endsWith(".parquet"))
    }.sum
    // pin the numFiles metric on the exact pruned scan the batch scores
    val seen = scannedFiles(IvfIndex.prunedScan(spark, h, unionCells))
    assert(seen == expectFiles,
      s"batch scan read $seen files, union of probed dirs holds $expectFiles")
    info(s"${qs.size} queries × $nProbe probes → ${unionCells.size} distinct cells, $seen files in ONE scan")
  }

  test("streamed appends join the index; pruning still covers them") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // fresh index (don't mutate the shared fixture other tests count files on)
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-app").toString
    val h = IvfIndex.write(emb, "embedding", "vec_id", path, nCents, iters = 3)
    val nBase = spark.read.parquet(h.path).count()
    // stream two micro-batches of NEW vectors: clones of existing rows
    // under fresh ids (their cells — and probe results — are known)
    val src = emb.filter(col("vec_id").isin(3L, 7L)).collect()
      .map(r => (r.getLong(r.fieldIndex("vec_id")) + 100000L,
        r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble)))
    val mem = MemoryStream[(Long, Seq[Double])]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ivf-ckpt").toString
    val q = IvfIndex.appendStream(mem.toDF().toDF("vec_id", "embedding"),
      "embedding", "vec_id", h, ckpt).start()
    mem.addData(src(0)); q.processAllAvailable()
    mem.addData(src(1)); q.processAllAvailable()
    q.stop()
    val total = spark.read.parquet(h.path).count()
    assert(total == nBase + 2, s"streamed rows missing: $total vs $nBase+2")
    // a streamed clone is its query's own top hit through the PROBED path
    val qv = src(0)._2.toArray
    val top = IvfIndex.probedTopK(spark, h, qv, nProbe = 2, k = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(top.map(_._1).contains(100003L),
      s"streamed vector not served from the probed index: ${top.toSeq}")
    assert(top.head._2 == 1.0, s"self-cosine must be 1.0: ${top.toSeq}")
    // pruning still holds over the mixed batch+streamed files
    val pruned = scannedFiles(IvfIndex.probedTopK(spark, h, qv, 2, 2))
    val all = java.nio.file.Files.walk(java.nio.file.Paths.get(h.path))
      .filter(p => p.toString.endsWith(".parquet")).count()
    assert(pruned < all, s"no pruning over appended index: $pruned of $all")
  }

  test("probed plan: partition filter present, top-k is TakeOrderedAndProject") {
    val (h, _) = built
    val q = Array.tabulate(64)(i => (((i * 7) % 13) - 6) / 10.0)
    val df = IvfIndex.probedTopK(spark, h, q, 2, 10)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), s"no TakeOrderedAndProject:\n$p")
    assert(p.contains("PartitionFilters: [") &&
      !p.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1").trim.isEmpty,
      s"no partition filters pushed:\n$p")
  }

  test("calibrateNProbe returns the MINIMAL probe count meeting the recall target") {
    val (h, _) = built
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val sample = Seq(3L, 7L, 11L, 19L, 23L).map { id =>
      emb.filter(col("vec_id") === id).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble).toArray
    }
    val k = 10
    // recall is exactly reproducible from the same batched calls the
    // calibrator makes, so minimality is directly checkable
    val exact = IvfIndex.probedTopKBatch(spark, h, sample, nCents, k)
      .map(_.map(_._1).toSet)
    def recallAt(p: Int): Double = {
      val got = IvfIndex.probedTopKBatch(spark, h, sample, p, k)
      (got, exact).zipped.map((g, e) =>
        g.count(t => e(t._1)).toDouble / e.size).sum / sample.size
    }
    for (target <- Seq(0.5, 0.9, 1.0)) {
      val (chosen, curve) = IvfIndex.calibrate(spark, h, sample, k, target)
      assert(chosen >= 1 && chosen <= nCents)
      assert(recallAt(chosen) >= target,
        s"chosen nProbe=$chosen misses target $target")
      if (chosen > 1)
        assert(recallAt(chosen - 1) < target,
          s"nProbe=${chosen - 1} already meets $target — $chosen not minimal")
      // every measured point is on the curve, the chosen one included,
      // and the curve is monotone non-decreasing in nProbe
      assert(curve.exists(_._1 == chosen))
      (curve, curve.tail).zipped.foreach { case ((pa, ra), (pb, rb)) =>
        assert(pa < pb && ra <= rb + 1e-12,
          s"recall curve not monotone: ($pa,$ra) → ($pb,$rb)")
      }
      info(s"target $target → nProbe=$chosen; curve ${curve.map {
        case (p, r) => f"$p:$r%.2f" }.mkString(" ")}")
    }
    // an exhaustive-probe sample calibrates to nProbe=1 iff 1 already
    // recalls perfectly — degenerate single-query sample sanity
    val one = IvfIndex.calibrate(spark, h, sample.take(1), k, 0.01)._1
    assert(one == 1, s"any positive target passes at nProbe=1 recall>0: $one")
  }

  // the argument contract both probe forms share: each bad input is a
  // named IllegalArgumentException before any work, never an empty or
  // silently truncated answer
  private def bothFormsReject(h: IvfIndex.Handle, q: Array[Double], nProbe: Int,
                              k: Int, what: String): Unit = {
    val single = intercept[IllegalArgumentException](
      IvfIndex.probedTopK(spark, h, q, nProbe, k))
    val good = Array.fill(h.dim)(0.5)
    val batched = intercept[IllegalArgumentException](
      IvfIndex.probedTopKBatch(spark, h, Seq(good, q), nProbe, k))
    Seq(single, batched).foreach(e => assert(e.getMessage.contains(what), e.getMessage))
  }

  test("k < 1 throws IllegalArgumentException in the single and batched forms") {
    val (h, _) = built
    val q = Array.fill(h.dim)(0.5)
    Seq(0, -3).foreach(k => bothFormsReject(h, q, nProbe = 2, k = k, "k must be positive"))
  }

  test("nProbe < 1 throws IllegalArgumentException in the single and batched forms") {
    val (h, _) = built
    val q = Array.fill(h.dim)(0.5)
    Seq(0, -1).foreach(p => bothFormsReject(h, q, nProbe = p, k = 10, "nProbe must be positive"))
  }

  test("a query of the wrong dimension throws IllegalArgumentException in both forms") {
    val (h, _) = built
    // longer: cells would be picked from its prefix and the dot truncated;
    // shorter: probeCells would die with an unnamed index error
    Seq(h.dim + 1, h.dim - 1).foreach { d =>
      bothFormsReject(h, Array.fill(d)(0.5), nProbe = 2, k = 10, "dimension")
    }
  }
}
