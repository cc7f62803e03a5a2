package graft

import graft.incremental.IncrementalState
import graft.queries.Pipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** MEASURED multi-batch ingest loop (VERDICT r14 ask #1): the production
  * loop `IngestLoopSpec` proves in miniature — buildState once, then per
  * arriving batch: warm screen → accept → advance — run for real over K
  * successive batches at a real scale factor, timing every cycle.
  *
  * What it demonstrates (printed per batch, recorded in BASELINE.md):
  *   - per-batch wall time vs batch index must stay FLAT: each advance
  *     appends one file set per relation, so the warm screen reads more
  *     files every cycle — fragmentation is the drift risk `compact`
  *     exists for, and this is the measurement that shows the drift and
  *     the recovery (file counts before/after compact, next batch's
  *     time);
  *   - one batch is deliberately advanced TWICE (the at-least-once
  *     replay); compact must reclaim the duplicates;
  *   - EQUIVALENCE: after the loop + compact, every state relation is
  *     set-identical to a one-shot comparator (fresh `buildState` + ONE
  *     advance folding all accepted batches at once), and a re-screen of
  *     a probe batch decides identically against both states — the
  *     at-least-once/compact contract exercised end-to-end at scale.
  *
  * Usage: `runMain graft.IngestLoopBench [sfDir]` (default /tmp/sf1).
  * Exits non-zero on any equivalence failure.
  */
object IngestLoopBench {

  private val KPre = 10 // timed batches before compact
  private val KPost = 2 // timed batches after (recovery check)
  private val K = KPre + KPost
  private val ReplayAt = 5 // this batch's advance is replayed (at-least-once)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/sf1"))
    val spark = LocalSpark.session(conf = Seq("spark.sql.adaptive.enabled" -> "false"))
    import spark.implicits._

    val root = java.nio.file.Files.createTempDirectory("graft-ingest-loop")
    val loopDir = root.resolve("loop").toString
    val oneShotDir = root.resolve("oneshot").toString
    val acceptedDir = root.resolve("accepted").toString

    def secs[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }
    // IncrementalState.stats IS the operator-facing fragmentation signal
    // this bench demonstrates — use it rather than ad-hoc listings
    def relFiles(stateDir: String, rel: String): Int =
      IncrementalState.stats(spark, stateDir)(rel).files
    def fileCounts(stateDir: String): String =
      IncrementalState.stats(spark, stateDir).toSeq.sortBy(_._1)
        .map { case (r, s) => s"$r=${s.files}" }.mkString(" ")

    // the fixture's delta split (the x31 convention), dealt into K
    // arrival batches by doc_id — deterministic, disjoint, exhaustive
    def batchOf(k: Int): DataFrame = Tables.spread(Tables.documents(spark, sfDir))
      .filter(col("doc_id") >= Pipeline.ProbeCap && col("lang") === "en" &&
        col("doc_id") % 5 === 0)
      // integer division (`div`), not SQL double division: above 2^53 a
      // double quotient truncates inexactly and a doc could land in the
      // wrong batch — the deal must stay exact for all long ids
      .filter(pmod(expr("doc_id div 5"), lit(K.toLong)) === k)

    // ---- settle the base: one offline buildState (reported, not a cycle)
    val (_, buildSec) = secs { Pipeline.buildState(spark, sfDir, loopDir) }
    spark.catalog.clearCache()
    println(f"[loop] buildState $buildSec%.2f s  files: ${fileCounts(loopDir)}")

    // ---- the loop: K timed cycles (warm screen -> advance), compact
    // between cycle KPre-1 and KPre
    var compactLine = ""
    val rows = (0 until K).map { k =>
      if (k == KPre) {
        val before = fileCounts(loopDir)
        val (_, cSec) = secs { IncrementalState.compact(spark, loopDir) }
        compactLine = f"[loop] compact $cSec%.2f s  before: $before  after: ${fileCounts(loopDir)}"
        println(compactLine)
      }
      val batch = batchOf(k)
      val ((nAcc, replayed), sec) = secs {
        val acc = Pipeline.warmScreenAccepted(spark, loopDir, batch)
        val n = acc.count()
        // land the accepted batch BEFORE advancing (the production
        // ordering warmScreenAccepted documents); the landed copies feed
        // the one-shot comparator below
        acc.write.mode("overwrite").parquet(s"$acceptedDir/k=$k")
        IncrementalState.advance(spark, loopDir, acc, "doc_id", "text")
        val rep = k == ReplayAt
        if (rep) IncrementalState.advance(spark, loopDir, acc, "doc_id", "text")
        (n, rep)
      }
      spark.catalog.clearCache()
      val line = f"[loop] batch=$k%2d accepted=$nAcc%6d sec=$sec%6.2f " +
        f"bucketFiles=${relFiles(loopDir, "buckets")}%3d" +
        (if (replayed) "  (advance REPLAYED)" else "")
      println(line)
      (k, nAcc, sec)
    }

    // ---- final compact (reclaims the replay duplicates), then the
    // one-shot comparator: fresh buildState + ONE advance of everything
    val beforeFinal = fileCounts(loopDir)
    val (_, finalCompactSec) = secs { IncrementalState.compact(spark, loopDir) }
    println(f"[loop] final compact $finalCompactSec%.2f s  before: $beforeFinal  after: ${fileCounts(loopDir)}")

    val (_, osBuildSec) = secs {
      Pipeline.buildState(spark, sfDir, oneShotDir)
      IncrementalState.advance(spark, oneShotDir,
        spark.read.parquet(s"$acceptedDir/k=*"), "doc_id", "text")
      IncrementalState.compact(spark, oneShotDir)
    }
    spark.catalog.clearCache()
    println(f"[loop] one-shot comparator built in $osBuildSec%.2f s  files: ${fileCounts(oneShotDir)}")

    // ---- equivalence: every relation set-identical, decisions identical
    val a = IncrementalState.load(spark, loopDir)
    val b = IncrementalState.load(spark, oneShotDir)
    var failures = 0
    def sameSet(name: String, x: DataFrame, y: DataFrame): Unit = {
      val (nx, ny) = (x.count(), y.count())
      val dXY = x.except(y).count()
      val dYX = y.except(x).count()
      val ok = nx == ny && dXY == 0 && dYX == 0
      if (!ok) failures += 1
      println(s"[loop] relation $name: loop=$nx oneshot=$ny loopOnly=$dXY oneshotOnly=$dYX " +
        (if (ok) "EQUAL" else "MISMATCH"))
    }
    sameSet("hashes", a.baseHashes, b.baseHashes)
    sameSet("exact", a.baseExact, b.baseExact)
    sameSet("shingles",
      a.baseSh.select(col("doc_id"), concat_ws("", col("sh")).as("s")),
      b.baseSh.select(col("doc_id"), concat_ws("", col("sh")).as("s")))
    sameSet("buckets", a.baseBuckets, b.baseBuckets)
    sameSet("partners", a.basePartners, b.basePartners)
    sameSet("probe", a.probeGrams, b.probeGrams)
    if (!(a.nScorable == b.nScorable && a.threshold == b.threshold &&
        a.n3.sameElements(b.n3))) {
      failures += 1
      println("[loop] frozen scalars MISMATCH")
    }
    // decision equality: re-screen batch 0 (now folded in — every doc a
    // known duplicate) against both states
    val probeBatch = batchOf(0).select(col("doc_id"), col("text"))
    // through the PRODUCTION path (persisted partners + pruned reads);
    // state A also cross-checked against the aggregate-per-batch
    // screenPrepared path — partitioned and prepared must agree at scale
    def decisions(st: IncrementalState.Loaded) =
      graft.dedup.IncrementalDedup.screenPartitioned(
          st.baseShP, st.basePartnersP, st.pMod, st.canonical,
          probeBatch, "doc_id", "text", 0.8, prune = true, st.bucketCap)
        .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2)))
        .sortBy(_._1).toSeq
    val (dA, dB) = (decisions(a), decisions(b))
    if (dA != dB) {
      failures += 1
      println(s"[loop] re-screen decisions MISMATCH (${dA.diff(dB).take(5)} ...)")
    } else println(s"[loop] re-screen decisions EQUAL (${dA.size} rows)")
    val dPrep = graft.dedup.IncrementalDedup.screenPrepared(
        a.baseSh, a.baseBuckets, probeBatch, "doc_id", "text", 0.8)
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    if (dA != dPrep) {
      failures += 1
      println(s"[loop] partitioned-vs-prepared screen MISMATCH (${dA.diff(dPrep).take(5)} ...)")
    } else println("[loop] partitioned-vs-prepared screen EQUAL")
    spark.catalog.clearCache()

    // ---- take-down phase (after the equivalence gate on purpose: the
    // one-shot comparator mirrors the loop WITHOUT removals): remove one
    // batch-0 keeper from the state, then its copy must stop mapping to
    // the removed id. (It usually re-screens NOVEL; if the keeper had an
    // intra-batch near-dup partner — both accepted, screenPrepared is
    // delta-vs-base only — the copy legitimately maps to the PARTNER,
    // which is still a correct take-down: the removed id shields nothing.)
    val takedownRow = spark.read.parquet(s"$acceptedDir/k=0")
      .orderBy(col("doc_id")).select("doc_id", "text").head()
    val takedownId = takedownRow.getLong(0)
    val (_, rmSec) = secs {
      IncrementalState.remove(spark, loopDir, Seq(takedownId))
    }
    val stAfterRm = IncrementalState.load(spark, loopDir)
    val reDecision = graft.dedup.IncrementalDedup.screenPartitioned(
        stAfterRm.baseShP, stAfterRm.basePartnersP,
        stAfterRm.pMod, stAfterRm.canonical,
        Seq((9999999L, takedownRow.getString(1))).toDF("doc_id", "text"),
        "doc_id", "text", 0.8, prune = true, stAfterRm.bucketCap)
      .collect().headOption.map(r => (r.getBoolean(1), r.getLong(2)))
    val unshielded = reDecision.exists { case (novel, dupOf) =>
      novel || dupOf != takedownId }
    if (!unshielded) failures += 1
    println(f"[loop] take-down: remove(1 keeper) $rmSec%.2f s, copy unshielded: " +
      (reDecision match {
        case Some((true, _)) => "YES (novel)"
        case Some((false, d)) if d != takedownId => s"YES (maps to surviving partner $d)"
        case other => s"NO — FAILURE ($other)"
      }))
    spark.catalog.clearCache()
    // batched take-down (a bulk licensing event): 100 keepers leave in ONE
    // maintenance pass through the broadcast anti-join path — the batched
    // cost model remove()'s scaladoc promises (same IO class as compact,
    // amortized over the whole batch, NOT 100 single-id rewrites)
    val batchIds = spark.read.parquet(s"$acceptedDir/k=1")
      .orderBy(col("doc_id")).limit(100)
      .select("doc_id").as[Long].collect().toSeq
    val nBefore = IncrementalState.load(spark, loopDir).baseExact.count()
    val (_, rmBatchSec) = secs {
      IncrementalState.remove(spark, loopDir, batchIds)
    }
    spark.catalog.clearCache()
    val nAfterBatch = IncrementalState.load(spark, loopDir).baseExact.count()
    val removedN = nBefore - nAfterBatch
    if (removedN != batchIds.size) failures += 1
    println(f"[loop] take-down batch: remove(${batchIds.size} ids, " +
      (if (batchIds.size > 64) "anti-join path) " else "isin path) ") +
      f"$rmBatchSec%.2f s  keepers $nBefore -> $nAfterBatch " +
      (if (removedN == batchIds.size) "(ALL GONE)" else "— FAILURE"))

    val times = rows.map(_._3)
    val pre = times.take(KPre)
    println(f"[loop] per-batch pre-compact: min=${pre.min}%.2f max=${pre.max}%.2f " +
      f"first=${pre.head}%.2f last=${pre.last}%.2f  post-compact: " +
      times.drop(KPre).map(t => f"$t%.2f").mkString(", "))
    println(s"[loop] equivalence failures: $failures")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
