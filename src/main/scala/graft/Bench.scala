package graft
import org.apache.spark.sql.SparkSession
import java.util.concurrent.{Executors, TimeUnit}
import scala.collection.concurrent.TrieMap

/** Benchmark main (driver contract): runs every registered query on
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line with total wall seconds and
  * per-query seconds.
  *
  * Queries run SEQUENTIALLY by default so every per-query number is the
  * query's own solo wall time — comparable run-to-run and against the
  * DuckDB oracle timing of the same SQL. Set SPARK_GRAFT_BENCH_THREADS>1
  * to measure multi-tenant throughput instead (per-query numbers then
  * include scheduler contention and are NOT regression-comparable).
  *
  * A query that throws is recorded with a negative elapsed time and named
  * in an "errors" list — a broken query can never masquerade as a fast
  * successful one.
  */
object Bench {
  /** Quiet-machine calibration-probe median on the reference local[32]
    * container — a DIRECTLY MEASURED value (re-pinned 2026-08-14 round 9
    * from five dedicated probe-only runs at load-average ≤1.2: 0.355 /
    * 0.381 / 0.428 / 0.437 / 0.437 s, median 0.428; the round-8 driver
    * run's probe was 0.31 s — the old 0.70 pin, measured on an earlier
    * slower container state, read stale-slow and shipped calib_warn:true
    * on a quiet machine). Override with SPARK_GRAFT_CALIB_BASELINE when
    * re-baselining on other hardware.
    *
    * calib_ratio = probe/baseline is a LOAD FLAG, not a correction
    * divisor: the probe is one fixed workload and ambient load does not
    * scale every query linearly. Numbers measured under calib_warn should
    * be re-measured, not deflated — which is exactly what the bounded
    * retry loop below does. */
  val CalibrationBaseline: Double = 0.42
  /** Warn band for calib_ratio, sized from the probe's OWN observed
    * quiet-container variance (round-9 pin: 0.31–0.44 s observed quiet ⇒
    * ratios 0.74–1.04 against the 0.42 pin): inside the band is probe
    * noise, above it means ambient co-tenant load distorted this run
    * (triggers the bounded retry), below it means the pinned baseline is
    * stale-slow for this hardware (flagged, never retried — re-running
    * can't fix a baseline). */
  val CalibWarnLo = 0.60
  val CalibWarnHi = 1.35

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = session(sfDir)
    // Every unpartitioned window in the library is bounded by construction
    // (k-row re-rank frames, single-row counts) — WindowExec's "No
    // Partition Defined" warning is by-design noise here, and ~200 copies
    // flood the bench tail the driver captures. Silence that ONE logger
    // (everything else stays at WARN). A constant-literal partition key
    // can't do it: Spark 4's EliminateWindowPartitions folds it away.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    calibProbe(spark) // JIT warmup, discarded
    val calibBase = sys.env.get("SPARK_GRAFT_CALIB_BASELINE")
      .map(_.toDouble).getOrElse(CalibrationBaseline)
    // validate NOW, not at the final println: a zero/NaN baseline would
    // survive the whole measured suite and then crash fmt() (and write
    // Infinity into BENCH_DETAIL.json) after the work is done
    require(calibBase > 0 && java.lang.Double.isFinite(calibBase),
      s"SPARK_GRAFT_CALIB_BASELINE must be a positive finite seconds value: $calibBase")
    // Full-codepath JIT warmup: run every query once against the SMALLEST
    // scale factor (different directory — no page-cache or result reuse on
    // the measured data). This compiles the parquet reader, Tungsten
    // codegen, shuffle and window paths once, so the measured pass reports
    // steady-state per-query times instead of first-hit JIT noise.
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    // optional subset (comma-separated query names) for solo-query iteration
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def selected(name: String) = only.forall(_.contains(name))
    // canonical-path compare: a trailing slash or symlink alias must not
    // defeat the "never warm on the measured data" guarantee
    def canon(p: String) = scala.util.Try(new java.io.File(p).getCanonicalPath).getOrElse(p)
    if (sys.env.getOrElse("SPARK_GRAFT_BENCH_WARMUP", "1") == "1" &&
        new java.io.File(warmDir).isDirectory && canon(warmDir) != canon(sfDir)) {
      SparkEntry.queries.foreach { case (name, fn) =>
        // rest* queries read the fixed restaurants CSV and IGNORE the data
        // dir — warming them would execute the identical workload on the
        // identical data, making their measured numbers second-run times.
        // Skip them here; their first measured rep is their cold time.
        if (!name.startsWith("rest") && selected(name))
          try fn(spark, warmDir).count() catch { case _: Throwable => () }
      }
    }

    val threads = sys.env.getOrElse("SPARK_GRAFT_BENCH_THREADS", "1").toInt
    // Median-of-N (default 3): the whole measured suite runs N sequential
    // passes and each query reports its MEDIAN time. A co-tenant load spike
    // inflates one pass, not the median — recorded r2/r3 totals were ~2×
    // judge re-runs purely from machine noise. Note reps 2+ run warm on the
    // measured data's page cache; medians are steady-state times (measure
    // any comparison baseline the same way).
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)

    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => selected(name) }

    /** One full measured suite pass-set: probe the ambient load, run all
      * reps, return (probe median, per-query samples, errors, wall). */
    def measureAttempt(): (Double, Map[String, Vector[Double]], Map[String, String], Double) = {
      val calibration = calibMedian(spark)
      val samples = TrieMap.empty[String, Vector[Double]]
      val errors = TrieMap.empty[String, String]

      def runOne(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit = {
      val q0 = System.nanoTime()
      val elapsed =
        try { fn(spark, sfDir).count(); (System.nanoTime() - q0) / 1e9 }
        catch {
          case t: Throwable =>
            // negative sentinel: elapsed-until-failure, negated. Message is
            // scrubbed of EVERY char that would break the one-line JSON
            // (quotes, backslashes, all control chars — Spark exceptions
            // embed \t/\r plan fragments).
            errors.put(name, t.toString.take(200)
              .map(c => if (c == '"' || c == '\\' || c < ' ' ) ' ' else c))
            System.err.println(s"BENCH FAILURE $name: $t")
            -((System.nanoTime() - q0) / 1e9)
        }
      samples.updateWith(name) { v => Some(v.getOrElse(Vector.empty) :+ elapsed) }
      // Queries that persist intermediates (d3 sigs/pairs, d7 buckets, KS
      // histograms) have no post-action hook to unpersist them — without
      // this, blocks pile up across 69 queries × N reps and every rep runs
      // slower than the last (r4 medians showed monotone 0.06→1.24→2.08 s
      // growth on queries that never touch the cache). Dropping the cache
      // after every query keeps each sample a clean solo measurement.
        if (threads <= 1) spark.catalog.clearCache()
      }

      val t0 = System.nanoTime()
      for (_ <- 1 to reps) {
        if (threads <= 1) {
          ordered.foreach { case (name, fn) => runOne(name, fn) }
        } else {
          // longest-processing-time-first submission order shrinks the makespan
          val heavy = Seq("x26_training_manifest", "x31_delta_manifest",
            "x32_delta_manifest_warm",
            "rest2_restaurants_fit_transform_topk",
            "d3_minhash_lsh_pairs", "a11_sweep_agg",
            "rest1_restaurants_fused_topk", "d7_lsh_neardup_pairs",
            "t7_best_transform_yj", "fr8_dense_interval_k200", "d5_embedding_neardup",
            "sim1_knn_cosine", "sim2_knn_lsh", "a7_recall", "fr5_dense_interval_score",
            "fr6_fused_topk", "k6_seeded_sample", "d1_exact_dedup", "st1_event_window")
          val lpt = ordered.sortBy { case (n, _) =>
            val i = heavy.indexOf(n); if (i < 0) heavy.size else i
          }
          val pool = Executors.newFixedThreadPool(threads)
          lpt.foreach { case (name, fn) =>
            pool.submit(new Runnable { def run(): Unit = runOne(name, fn) })
          }
          pool.shutdown()
          pool.awaitTermination(2, TimeUnit.HOURS)
        }
      }
      val wall = (System.nanoTime() - t0) / 1e9
      (calibration, samples.toMap, errors.toMap, wall)
    }

    // BOUNDED AUTO-RETRY under ambient load: a run whose probe lands above
    // the warn band was measured on a loaded machine — its numbers are
    // co-tenant noise, not code. Shipping them as the round artifact (as
    // r7 did at calib_ratio 1.935) makes every cross-round comparison
    // manual. Instead: re-run the whole measured pass-set (bounded times)
    // and ship the QUIETEST attempt (lowest probe time). A persistent
    // LOW ratio is not load — it means the pinned baseline is stale for
    // this hardware — so only high ratios trigger retries.
    val maxRetries = sys.env.getOrElse("SPARK_GRAFT_CALIB_RETRIES", "2").toInt.max(0)
    var best = measureAttempt()
    var attempts = 1
    while (best._1 / calibBase > CalibWarnHi && attempts <= maxRetries) {
      System.err.println(f"BENCH calib_ratio ${best._1 / calibBase}%.2f above " +
        f"$CalibWarnHi — ambient load detected, re-running (attempt ${attempts + 1})")
      val next = measureAttempt()
      if (next._1 < best._1) best = next
      attempts += 1
    }
    val (calibration, samples, errors, wall) = best
    val calibRatio = calibration / calibBase
    val calibWarn = calibRatio > CalibWarnHi || calibRatio < CalibWarnLo
    val retriesExhausted = calibRatio > CalibWarnHi
    // per-query median; ANY failed rep surfaces as the (negative) failure
    // sentinel — a flaky query must never report a clean median.
    def median(v: Vector[Double]): Double = {
      val s = v.sorted; s((s.size - 1) / 2)
    }
    val results: Map[String, Double] = samples.map { case (n, v) =>
      n -> (v.find(_ < 0).getOrElse(median(v)))
    }
    // "total" = sum of per-query medians: the de-noised suite time the
    // driver compares round-to-round (wall of all passes goes to DETAIL).
    // Failed queries (negative sentinel) are EXCLUDED — elapsed-until-crash
    // must not let a broken suite total look comparable to a clean one; the
    // non-empty errors map is the signal.
    val total = results.valuesIterator.filter(_ >= 0).sum

    // The driver captures only the LAST ~2000 chars of output and parses
    // the JSON line out of that tail — a full-name, full-precision line for
    // 69 queries is ~2900 chars and gets decapitated (BENCH_r01/r02 both
    // recorded parsed=null because of this). The printed line therefore
    // uses the short query id (the unique prefix before the first '_' —
    // the "q1" form the driver contract's own example uses) and
    // millisecond-precision seconds: ~1000 chars with headroom for growth.
    // Full names at full precision go to BENCH_DETAIL.json alongside.
    def qid(n: String) = n.takeWhile(_ != '_')
    val shortUnique = results.keys.toSeq.map(qid).distinct.size == results.size
    def key(n: String) = if (shortUnique) qid(n) else n
    def fmt(v: Double) =
      BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    def jmap(m: Iterable[(String, String)]) =
      m.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val qs = jmap(results.toSeq.sortBy(_._1).map { case (k, v) => key(k) -> fmt(v) })
    val errs = jmap(errors.toSeq.sortBy(_._1).map { case (k, v) => key(k) -> ("\"" + v + "\"") })
    val detail = jmap(
      Seq("total" -> total.toString, "wall" -> wall.toString,
        "reps" -> reps.toString, "threads" -> threads.toString,
        "calibration" -> calibration.toString,
        "calib_ratio" -> calibRatio.toString,
        "calib_warn" -> calibWarn.toString,
        "attempts" -> attempts.toString,
        "calib_retries_exhausted" -> retriesExhausted.toString,
        "sf" -> ("\"" + sfDir + "\""),
        "queries" -> jmap(results.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString }),
        "samples" -> jmap(samples.toSeq.sortBy(_._1).map { case (k, v) =>
          k -> v.mkString("[", ",", "]") }),
        "errors" -> jmap(errors.toSeq.sortBy(_._1).map { case (k, v) => k -> ("\"" + v + "\"") })))
    // A SOLO/SUBSET run (SPARK_GRAFT_BENCH_ONLY) must never clobber the
    // committed full-campaign detail — round 15's end-of-round snapshot
    // shipped a 2-query A/B leftover as "the 106-query campaign" exactly
    // this way (VERDICT r15 "what's wrong" #1). Subset runs write a side
    // file, and so does a full-suite run at any OTHER scale factor (a
    // full sf0.01 sanity run clobbered the sf0.1 campaign detail in
    // round 16 through the subset-only guard): only the full suite at
    // the campaign's sf0.1 owns BENCH_DETAIL.json.
    val sfBase = new java.io.File(sfDir).getName
    val detailPath =
      if (only.nonEmpty) "BENCH_DETAIL_SUBSET.json"
      else if (sfBase == "sf0.1") "BENCH_DETAIL.json"
      else s"BENCH_DETAIL_$sfBase.json"
    scala.util.Try(java.nio.file.Files.write(
      java.nio.file.Paths.get(detailPath),
      detail.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","calibration":${fmt(calibration)},"calib_ratio":${fmt(calibRatio)},"attempts":$attempts,"calib_retries_exhausted":$retriesExhausted,"queries":$qs,"errors":$errs,"sf":"$sfDir"}""")
    spark.stop()
  }

  /** The AMBIENT-LOAD CALIBRATION probe, in seconds: the probe's workload
    * never changes, so its time varies only with machine load. Recording
    * it beside a measurement lets a reader separate co-tenant noise from
    * code regressions mechanically (BENCH_r06's uniform ~1.5× inflation vs
    * the quiet BASELINE medians was exactly this). Its first run in a JVM
    * is the JIT and scheduler warmup: run it once and discard that. */
  def calibProbe(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(4000000L)
      .selectExpr("sum(cast(id as double) * id)", "count(distinct id % 1024)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** Median of 3 [[calibProbe]] runs: one slow run does not move it. */
  def calibMedian(spark: SparkSession): Double =
    Seq(calibProbe(spark), calibProbe(spark), calibProbe(spark)).sorted.apply(1)

  /** Bench's session: [[LocalSpark]] with AQE off, the data-sized split
    * and any SPARK_GRAFT_BENCH_CONF pairs. `graft.Trace` runs on the same
    * session so a trace explains Bench's numbers. */
  def session(sfDir: String): SparkSession = {
    // Local-mode benchmark tuning: AQE's exchange materialization barriers
    // and re-planning cost ~15% on sub-second local queries with no skew.
    // Cluster deployments of this library SHOULD enable AQE (skew joins,
    // partition coalescing) — this is harness config, not library config.
    val tuning = Seq("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.files.maxPartitionBytes" ->
        LocalSpark.splitBytes(sfDir, LocalSpark.cpus).toString)
    // ad-hoc config experiments: "k1=v1,k2=v2"
    val adHoc = sys.env.get("SPARK_GRAFT_BENCH_CONF").toSeq
      .flatMap(_.split(",").filter(_.contains("=")))
      .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }
    LocalSpark.session(conf = tuning ++ adHoc)
  }
}
