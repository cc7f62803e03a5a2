package graft.eval

import graft.encode._
import graft.profile.{ColumnProfile, Profiler}
import graft.query._
import graft.search.Search
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Param.param
import org.apache.spark.sql.types.StructType

/** Differential-evaluation harness (reference src/eval/): the fused-vector
  * top-k (subject) vs the hard-filter top-k (oracle), scored by recall /
  * R-precision. This is the reference's entire correctness methodology
  * (SURVEY.md §5) re-expressed on Spark, with the hard-filter query family
  * replacing Milvus.
  */
object Eval {

  /** recall = |L1 ∩ L2| / |L1| (reference src/eval/evaluate.py:92-101);
    * empty L1 → 0. */
  def recall(oracle: Seq[Long], subject: Seq[Long]): Double =
    if (oracle.isEmpty) 0.0
    else oracle.toSet.intersect(subject.toSet).size.toDouble / oracle.size

  /** R-precision = |L1 ∩ L2[:k]| / k with k = |L1| (reference
    * src/eval/evaluate.py:104-110). */
  def rPrecision(oracle: Seq[Long], subject: Seq[Long]): Double = {
    if (oracle.isEmpty) return 0.0
    val k = oracle.size
    oracle.toSet.intersect(subject.take(k).toSet).size.toDouble / k
  }

  /** Hard-filter oracle: boolean-filter the items then text-score top-k
    * (reference milvus filter strings, src/eval/milvus_experiment.py:72-89:
    * numeric → `col <= v`, categorical/binary → `col == value`) — the
    * single form [[Search.topK]] by the raw dot. A row with no text vector
    * never ranks: it has no index entry in the reference oracle (Milvus
    * only returns embedded rows).
    */
  def hardFilterTopK(items: DataFrame, idCol: String, textVecCol: String,
                     qText: Array[Double], filters: Seq[Filter], k: Int): Seq[Long] = {
    val preds = filterPreds(filters)
    val filtered = if (preds.isEmpty) items else items.filter(preds.reduce(_ && _))
    Search.topK(filtered, textVecCol, idCol,
        Search.dot(Search.asDouble(col(textVecCol)), typedLit(qText)), k)
      .select(col(idCol).cast("long"))
      .collect().map(_.getLong(0)).toSeq
  }

  /** The hard-filter predicate family (reference milvus filter strings,
    * src/eval/milvus_experiment.py:72-89) — shared by the per-point and
    * batched oracle paths. A dense bound is a [[Param]] leaf, not a
    * literal: Spark casts it exactly as it would cast a double literal,
    * but keeps it out of the generated code, so oracle scans that differ
    * only in their bounds share one compiled class. */
  private def filterPreds(filters: Seq[Filter]): Seq[org.apache.spark.sql.Column] =
    filters.collect {
      case DenseIntervalFilter(c, _, hi, false, _) => col(c) <= param(hi)
      case DensePointFilter(c, v, false, _) => col(c) <= param(v)
      case SparseFilter(c, sel, false, _) => col(c).isin(sel: _*)
      case BinaryFilter(c, v, _) => col(c).cast("string") === v
    }

  /** Batched [[hardFilterTopK]] with a PER-POINT text query: every
    * point's oracle list in ONE scan via [[Search.multiTopK]] — the point's
    * filter conjunction becomes its eligibility predicate; raw scores, as
    * the per-point path. The reference embeds each repetition's sampled
    * row name (src/eval/evaluate.py:176-181); multiTopK dedupes identical
    * vectors, so a fixed text costs one dot. */
  def hardFilterTopKBatchPerQuery(items: DataFrame, idCol: String,
                                  textVecCol: String,
                                  qTexts: Seq[Array[Double]],
                                  filtersPerPoint: Seq[Seq[Filter]],
                                  k: Int): IndexedSeq[Seq[Long]] = {
    require(qTexts.size == filtersPerPoint.size,
      s"${qTexts.size} queries vs ${filtersPerPoint.size} filter sets")
    val preds = filtersPerPoint.map { fs =>
      val ps = filterPreds(fs)
      if (ps.isEmpty) lit(true) else ps.reduce(_ && _)
    }
    Search.multiTopK(items, textVecCol, idCol, qTexts, k, eligible = preds,
      score = q => Search.dot(Search.asDouble(col(textVecCol)), typedLit(q)))
      .map(_.map(_._1))
  }

  /** Every seeded row sample in ONE map-side scan: the per-seed sample
    * (orderBy md5(id:seed) LIMIT 1 — the distributed twin of pandas
    * df.sample(random_state=seed), reference evaluate.py:176). Each
    * partition keeps, per distinct seed, the row with the least key
    * md5(concat_ws(":", id, seed)) — a null id keys as md5("<seed>"),
    * since concat_ws skips nulls — and the driver merges the partitions'
    * bests. Keys compare as their 16 raw digest bytes, unsigned: the
    * order of the lowercase hex strings the SQL sample sorts by.
    *
    * No seed value enters the plan (the key's seed part is built here,
    * once), so the scan compiles once per schema whatever the seeds, and
    * there is no exchange or aggregation stage. md5 keys are unique
    * w.h.p.; equal keys, which only duplicate ids produce, resolve to the
    * earliest row in scan order. A seed listed twice is sampled once.
    * The values are those `Dataset.head()` returns for the columns.
    * Throws IllegalArgumentException on a table with no rows. */
  def batchSamples(items: DataFrame, idCol: String, candidateCols: Seq[String],
                   seeds: Seq[Int]): Map[Int, Map[String, Any]] = {
    if (seeds.isEmpty) return Map.empty
    val distinct = seeds.distinct.toIndexedSeq
    // ":<seed>"; its tail is the null-id key's whole text
    val suffixes = distinct.map(s => s":$s".getBytes(java.nio.charset.StandardCharsets.UTF_8)).toArray
    val rows = items.select(col(idCol).cast("string"), struct(candidateCols.map(col): _*))
    val sampleType = rows.schema(1).dataType.asInstanceOf[StructType]
    val nCols = sampleType.length
    // one SQL execution, as a Dataset action would be: its jobs and scan
    // metrics are reported against the plan
    val qe = rows.queryExecution
    val bests = SQLExecution.withNewExecutionId(qe, Some("batchSamples"))(qe.toRdd.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val ns = suffixes.length
      val keys = new Array[Array[Byte]](ns)
      val picks = new Array[InternalRow](ns)
      val key = new Array[Byte](16)
      it.foreach { row =>
        val id = if (row.isNullAt(0)) null else row.getUTF8String(0).getBytes
        var j = 0
        while (j < ns) {
          val sfx = suffixes(j)
          if (id == null) md.update(sfx, 1, sfx.length - 1)
          else { md.update(id); md.update(sfx) }
          md.digest(key, 0, 16)
          // strict: the earliest row keeps an equal key
          if (keys(j) == null || java.util.Arrays.compareUnsigned(key, keys(j)) < 0) {
            keys(j) = key.clone()
            // the scan reuses its row: copy only a new best
            picks(j) = row.getStruct(1, nCols).copy()
          }
          j += 1
        }
      }
      Iterator.range(0, ns).filter(keys(_) != null).map(j => (j, keys(j), picks(j)))
    }.collect())
    // collect keeps partition order: a strict merge keeps the earliest row
    val best = new Array[(Array[Byte], InternalRow)](distinct.size)
    bests.foreach { case (j, k, r) =>
      if (best(j) == null || java.util.Arrays.compareUnsigned(k, best(j)._1) < 0) best(j) = (k, r)
    }
    require(best.forall(_ != null), s"batchSamples: no rows to sample in '$idCol'")
    val toRow = ExpressionEncoder(sampleType).resolveAndBind().createDeserializer()
    distinct.zip(best).map { case (s, (_, r)) =>
      val st = toRow(r)
      s -> candidateCols.zipWithIndex.map { case (c, i) => c -> st.get(i) }.toMap
    }.toMap
  }

  /** One differential experiment point (reference run_experiment,
    * src/eval/faiss_experiment.py:36-74): filters synthesized from a sampled
    * row — dense → interval [col min, row value]; sparse → [value];
    * binary → value (reference filter synthesis, faiss_experiment.py:36-58).
    */
  def experimentFilters(row: Map[String, Any], profiles: Map[String, ColumnProfile]): Seq[Filter] =
    row.toSeq.flatMap { case (c, v) =>
      val p = profiles(c)
      (p.kind, Option(v)) match {
        case (_, None) => None
        case (graft.profile.ModalityKind.Dense, Some(x)) =>
          Some(DenseIntervalFilter(c, p.min, x.toString.toDouble))
        case (graft.profile.ModalityKind.Binary, Some(x)) =>
          Some(BinaryFilter(c, x.toString))
        case (graft.profile.ModalityKind.Sparse, Some(x)) =>
          Some(SparseFilter(c, Seq(x.toString)))
        case _ => None
      }
    }

  /** The reference's exact seeding discipline (src/eval/evaluate.py:174-181):
    * seed = int("<m><i>"), then a seeded shuffle picks the m modalities.
    * Shared by the sweep driver and the a11 oracle-SQL builder so both
    * sides choose identical subsets. */
  def modalitiesFor(candidateCols: Seq[String], m: Int, i: Int): (Int, Seq[String]) = {
    val seed = s"$m$i".toInt
    (seed, new scala.util.Random(seed).shuffle(candidateCols).take(m))
  }

  /** Config-independent sweep-point prep of [[fullSweep]]: the
    * (m, i, seed, modalities) grid plus each point's synthesized filters
    * from its seeded sample ([[batchSamples]]: ONE scan job for all
    * points). */
  private def sweepPoints(items: DataFrame, idCol: String,
                          candidateCols: Seq[String],
                          profiles: Map[String, ColumnProfile],
                          repetitions: Int,
                          extraSampleCols: Seq[String] = Nil)
      : (Seq[(Int, Int, Int, Seq[String])], Seq[Seq[Filter]],
         Seq[Map[String, Any]]) = {
    val n = candidateCols.size
    val keys = for {
      m <- 1 to n; i <- 0 until repetitions
      (seed, mods) = modalitiesFor(candidateCols, m, i)
    } yield (m, i, seed, mods)
    // extra columns (e.g. the text column the reference embeds per point)
    // ride the SAME seeded sample row; they never join the modality pool
    // (filters draw only from mods ⊆ candidateCols)
    val samples = batchSamples(items, idCol,
      candidateCols ++ extraSampleCols.filterNot(candidateCols.contains),
      keys.map(_._3))
    val filtersPer = keys.map { case (_, _, seed, mods) =>
      experimentFilters(samples(seed).filter(kv => mods.contains(kv._1)), profiles)
    }
    (keys, filtersPer, keys.map { case (_, _, seed, _) => samples(seed) })
  }

  final case class SweepResult(num_harmonics: Int, interval_epsilon: Double,
                               num_modalities: Int, repetition: Int, seed: Int,
                               recall: Double)

  /** One harmonic-count's subject engine: ONE encoded index shared by every
    * `interval_epsilon` in the grid (the product encode depends only on the
    * harmonic count and `rangeEpsilon` — interval ε enters at query time,
    * [[QueryEncoder.Params]]), with a BATCHED search closure: ε values ×
    * points' filter sets × points' text vectors → per-ε per-point top-k
    * lists, ALL answered in one [[Search.multiTopK]] scan of the index.
    * `close()` is the optional release hook for engines that pin resources
    * (e.g. a persisted index scanned by more than one action — SweepSpec's);
    * [[fullSweep]] calls it as soon as the harmonic's points are
    * evaluated. The production a11 engine pipelines its encode into the
    * single scan and needs no close (EvalQueries). */
  final case class SweepEngine(
      search: (Seq[Double], Seq[Seq[Filter]], Seq[Array[Double]], Int)
        => IndexedSeq[IndexedSeq[Seq[Long]]],
      close: () => Unit = () => ())

  /** Harmonic engines a [[fullSweep]] keeps in flight at once. */
  private val MaxInFlightConfigs = 2

  /** Full A11 sweep (reference src/eval/evaluate.py:156-242): modality
    * count m = 1..N × `repetitions`, seed = int("<m><i>") ([[modalitiesFor]]),
    * one sampled row per seed, its m modalities' filters, then the oracle
    * (hard filter) and subject (fused) top-k per point, scored by recall —
    * repeated over the `num_harmonics` × `interval_epsilon` grid
    * (reference config.yaml:7-8). The reference
    * re-encodes products per (harmonics, ε) config (evaluate.py:186-189),
    * but ε never reaches the product vectors — only the query encoding —
    * so `engineFor` builds ONE index per harmonic count and each index
    * answers its whole ε × point grid in one batched scan.
    *
    * The row samples and the hard-filter oracle lists depend on neither
    * grid axis and are computed in TWO batched jobs for the whole point
    * grid (one map-side [[batchSamples]] scan + one multiTopK oracle
    * scan). Neither job's generated code holds a seed or a filter bound,
    * so sweeps that differ only in their samples share compiled classes.
    * Total jobs: 2 + |harmonicsSweep| scans (and as many encodes),
    * independent of the ε × modality-count × repetition grid size.
    *
    * At most [[MaxInFlightConfigs]] harmonic engines are in flight at once:
    * engines are built, evaluated and closed in bounded batches, so an
    * engine that DOES pin resources (a persisted index) never has more
    * than that many pinned at a time (a full reference-sized sweep — 10
    * harmonics at K up to 500 — would otherwise pin 10 wide indexes at
    * once). Each batch runs on
    * a dedicated fixed-size pool (Spark actions block; on
    * ExecutionContext.global that either starves the pool or, with
    * blocking{}, spawns unbounded threads). Results are identical to the
    * reference's nested-loop order.
    */
  def fullSweep(items: DataFrame, idCol: String, textVecCol: String,
                qText: Array[Double],
                candidateCols: Seq[String], profiles: Map[String, ColumnProfile],
                engineFor: Int => SweepEngine,
                harmonicsSweep: Seq[Int], epsilonSweep: Seq[Double],
                k: Int = 10, repetitions: Int = 3,
                sampleTextCol: Option[String] = None,
                embedText: String => Array[Double] = null): Seq[SweepResult] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    require(sampleTextCol.isEmpty || embedText != null,
      "sampleTextCol needs an embedText function")
    // config-independent work, batched: ONE sample scan + ONE oracle scan
    // for the whole point grid
    val (keys, filtersPer, samplesPer) = sweepPoints(items, idCol,
      candidateCols, profiles, repetitions, extraSampleCols = sampleTextCol.toSeq)
    // per-point query text (reference src/eval/evaluate.py:176-181: each
    // repetition embeds ITS sampled row's text); without a sampleTextCol,
    // or for a null sampled text, the fixed query — both sides of the
    // differential use the same vector either way, so the metric stays an
    // apples-to-apples ranking comparison
    val qTexts: Seq[Array[Double]] = sampleTextCol match {
      case None => Seq.fill(keys.size)(qText)
      case Some(tc) => samplesPer.map(s =>
        Option(s.getOrElse(tc, null)).map(v => embedText(v.toString)).getOrElse(qText))
    }
    val oracles = hardFilterTopKBatchPerQuery(items, idCol, textVecCol,
      qTexts, filtersPer, k)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(MaxInFlightConfigs)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      harmonicsSweep.grouped(MaxInFlightConfigs).flatMap { batch =>
        val futs = batch.map { kh =>
          Future {
            val eng = engineFor(kh)
            // one batched subject scan answers the harmonic's full ε × point grid
            try {
              val perEps = eng.search(epsilonSweep, filtersPer, qTexts, k)
              for {
                (eps, e) <- epsilonSweep.zipWithIndex
                ((m, i, seed, _), j) <- keys.zipWithIndex
              } yield SweepResult(kh, eps, m, i, seed, recall(oracles(j), perEps(e)(j)))
            } finally eng.close()
          }
        }
        Await.result(Future.sequence(futs), Duration.Inf).flatten
      }.toSeq
    } finally pool.shutdown()
  }

  /** A9-shaped aggregation of sweep results (reference groupby-mean,
    * src/eval/evaluate.py:119-129): mean recall per
    * (num_harmonics, interval_epsilon, num_modalities). */
  def aggregateResults(spark: SparkSession, rs: Seq[SweepResult]): DataFrame =
    spark.createDataFrame(rs)
      .groupBy(
        col("num_harmonics").cast("long").as("num_harmonics"),
        col("interval_epsilon"),
        col("num_modalities").cast("long").as("num_modalities"))
      .agg((round(avg(col("recall")), 6) + 0.0).as("avg_recall"))
      .orderBy("num_harmonics", "interval_epsilon", "num_modalities")
}
