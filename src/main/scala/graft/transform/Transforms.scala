package graft.transform

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Normalizing transforms (reference src/transform.py): a fitted transform
  * applies both to a whole column (executor-side Column expression) and to
  * query-time scalar bounds (driver-side Double) — the reference applies the
  * same fitted transform to filter bounds (src/app.py:274-276).
  */
sealed trait FittedTransform {
  def name: String
  def apply(c: Column): Column
  def applyScalar(x: Double): Double
}

/** log2(x+1); input must be non-negative (reference LogTransform,
  * src/transform.py:57-63). */
case object Log2p1 extends FittedTransform {
  val name = "log2p1"
  def apply(c: Column): Column = log(2.0, c + 1)
  def applyScalar(x: Double): Double = {
    require(x >= 0, "Input data must be non-negative.")
    math.log(x + 1) / math.log(2)
  }
}

/** sqrt(x); non-negative input (reference SqrtTransform, src/transform.py:66-72). */
case object SqrtT extends FittedTransform {
  val name = "sqrt"
  def apply(c: Column): Column = sqrt(c)
  def applyScalar(x: Double): Double = {
    require(x >= 0, "Input data must be non-negative.")
    math.sqrt(x)
  }
}

/** 1/(x+ε) (reference InverseTransform, src/transform.py:48-54). */
final case class Reciprocal(epsilon: Double = 1e-10) extends FittedTransform {
  val name = "reciprocal"
  def apply(c: Column): Column = lit(1.0) / (c + epsilon)
  def applyScalar(x: Double): Double = 1.0 / (x + epsilon)
}

/** Yeo-Johnson with a fitted λ (reference YeoJohnsonTransform,
  * src/transform.py:32-45; scipy MLE fit). The piecewise formula:
  *   x ≥ 0, λ≠0: ((x+1)^λ − 1)/λ        x ≥ 0, λ=0: log(x+1)
  *   x < 0, λ≠2: −((−x+1)^(2−λ) − 1)/(2−λ)   x < 0, λ=2: −log(−x+1)
  */
final case class YeoJohnson(lambda: Double) extends FittedTransform {
  val name = s"yeojohnson"
  def apply(c: Column): Column = YeoJohnson.expr(c, lambda)
  def applyScalar(x: Double): Double = YeoJohnson.scalar(x, lambda)
}

object YeoJohnson {
  private val Eps = 1e-12

  def expr(c: Column, l: Double): Column = {
    val pos =
      if (math.abs(l) < Eps) log(c + 1)
      else (pow(c + 1, l) - 1) / l
    val neg =
      if (math.abs(l - 2) < Eps) -log(-c + 1)
      else -(pow(-c + 1, 2 - l) - 1) / (2 - l)
    when(c.isNull, lit(null)).when(c >= 0, pos).otherwise(neg)
  }

  def scalar(x: Double, l: Double): Double =
    if (x >= 0) {
      if (math.abs(l) < Eps) math.log(x + 1)
      else (math.pow(x + 1, l) - 1) / l
    } else {
      if (math.abs(l - 2) < Eps) -math.log(-x + 1)
      else -(math.pow(-x + 1, 2 - l) - 1) / (2 - l)
    }

  /** Distinct-value histograms above this size fall back to per-λ
    * aggregation jobs (a billion-distinct column cannot be collected). */
  val MaxFitHistogram = 200000

  /** One column's raw fit: the MLE λ, whether any value is negative (the
    * gate on the log and sqrt candidates), and the raw `(value, count)`
    * histogram the two came from — `None` above [[MaxFitHistogram]]. */
  private[transform] final case class RawFit(lambda: Double, hasNegative: Boolean,
                                             hist: Option[Array[(Double, Long)]])

  /** The one fit body behind [[fit]] and `Transforms.fit`. MLE λ by
    * golden-section search over the Yeo-Johnson log-likelihood (scipy's
    * approach, Brent over [-2, 2]):
    *   llf(λ) = −n/2·log(var(ψ(x,λ))) + (λ−1)·Σ sign(x)·log(|x|+1)
    *
    * Fast path: collect the non-null `(value, count)` histogram in ONE job
    * and run the whole search driver-side ([[fitHistogram]]) — ~25
    * sequential llf evaluations over the histogram instead of ~25 cluster
    * jobs. Above [[MaxFitHistogram]] distinct values (the
    * unbounded-cardinality scale path) one aggregation job yields n,
    * Σ sign·log and the minimum, then one aggregation job per λ; the
    * search stays a bounded driver loop either way — never a collect of
    * the raw data.
    */
  private[transform] def rawFit(df: DataFrame, c: Column, lo: Double = -2.0,
                                hi: Double = 2.0, tol: Double = 1e-4): RawFit = {
    val hist = df.filter(c.isNotNull)
      .groupBy(c.as("x")).agg(count(lit(1)).as("cnt"))
      .limit(MaxFitHistogram + 1)
      .collect()
    if (hist.length <= MaxFitHistogram) {
      val raw = hist.map(r => (r.getDouble(0), r.getLong(1)))
      return RawFit(fitHistogram(raw, lo, hi, tol), raw.exists(_._1 < 0), Some(raw))
    }
    val nonNull = df.filter(c.isNotNull)
    val base = nonNull
      .agg(count(lit(1)).as("n"), sum(signum(c) * log(abs(c) + 1)).as("slog"),
        min(c).as("least"))
      .head()
    val n = base.getAs[Long]("n").toDouble
    val slog = base.getAs[Double]("slog")
    val llf = (l: Double) => {
      val t = YeoJohnson.expr(c, l)
      val r = nonNull.agg(avg(t).as("m"), avg(t * t).as("m2")).head()
      val v = r.getAs[Double]("m2") - math.pow(r.getAs[Double]("m"), 2)
      -n / 2 * math.log(math.max(v, 1e-300)) + (l - 1) * slog
    }
    RawFit(goldenSection(llf, lo, hi, tol), base.getAs[Double]("least") < 0, None)
  }

  /** Golden-section MLE over a raw `(value, count)` histogram — pure
    * driver math, summed in ascending value order. */
  private def fitHistogram(raw: Array[(Double, Long)], lo: Double, hi: Double,
                           tol: Double): Double = {
    val xs = raw.map { case (x, w) => (x, w.toDouble) }.sortBy(_._1)
    val n = xs.map(_._2).sum
    val slog = xs.map { case (x, w) => math.signum(x) * math.log(math.abs(x) + 1) * w }.sum
    val llf = (l: Double) => {
      var s = 0.0; var s2 = 0.0
      xs.foreach { case (x, w) =>
        val t = YeoJohnson.scalar(x, l); s += t * w; s2 += t * t * w
      }
      val m = s / n
      val v = s2 / n - m * m
      -n / 2 * math.log(math.max(v, 1e-300)) + (l - 1) * slog
    }
    goldenSection(llf, lo, hi, tol)
  }

  private def goldenSection(llf: Double => Double, lo: Double, hi: Double,
                            tol: Double): Double = {
    val phi = (math.sqrt(5) - 1) / 2
    var (a, b) = (lo, hi)
    var c1 = b - phi * (b - a); var c2 = a + phi * (b - a)
    var f1 = llf(c1); var f2 = llf(c2)
    while (b - a > tol) {
      if (f1 > f2) { b = c2; c2 = c1; f2 = f1; c1 = b - phi * (b - a); f1 = llf(c1) }
      else { a = c1; c1 = c2; f1 = f2; c2 = a + phi * (b - a); f2 = llf(c2) }
    }
    (a + b) / 2
  }

  /** The MLE λ of a column ([[rawFit]]). */
  def fit(df: DataFrame, colName: String, lo: Double = -2.0, hi: Double = 2.0,
          tol: Double = 1e-4): Double =
    rawFit(df, col(colName).cast("double"), lo, hi, tol).lambda
}

object Transforms {

  /** Abramowitz-Stegun 7.1.26 erf approximation (|err| ≤ 1.5e-7). Used for
    * the normal CDF in the KS statistic; DuckDB lacks erf, so the oracle SQL
    * uses the SAME polynomial — identical doubles on both engines.
    */
  def erfApprox(x: Column): Column = {
    val t = lit(1.0) / (lit(1.0) + lit(0.3275911) * abs(x))
    val y = lit(1.0) - (((((lit(1.061405429) * t - lit(1.453152027)) * t) +
      lit(1.421413741)) * t - lit(0.284496736)) * t + lit(0.254829592)) * t *
      exp(-x * x)
    signum(x) * y
  }

  def normCdf(x: Column, mean: Column, std: Column): Column =
    (lit(1.0) + erfApprox((x - mean) / (std * math.sqrt(2.0)))) / 2.0

  /** Driver-side twin of [[erfApprox]] — same polynomial, same operation
    * order (so the histogram KS path below computes the same doubles the
    * executor expression path does, value for value). */
  def erfScalar(x: Double): Double = {
    val t = 1.0 / (1.0 + 0.3275911 * math.abs(x))
    val y = 1.0 - (((((1.061405429 * t - 1.453152027) * t) +
      1.421413741) * t - 0.284496736) * t + 0.254829592) * t *
      math.exp(-x * x)
    math.signum(x) * y
  }

  def normCdfScalar(x: Double, mean: Double, std: Double): Double =
    (1.0 + erfScalar((x - mean) / (std * math.sqrt(2.0)))) / 2.0

  /** Per-tag distinct-value cap for the single-action KS histogram path —
    * the same bar the pre-existing window fast path used; ≤ this many
    * distinct doubles per candidate is a bounded driver collect (≤ ~1.5 MB
    * at the cap), never a collect of raw rows. */
  val MaxKsHistogram = 65536

  /** KS statistic from a (value, count) histogram: sort ascending, merge
    * equal values (the groupBy-on-transformed-value semantics), one pass
    * for the moments, one for the cumulative deviations. Driver math —
    * the arithmetic mirrors the distributed path operation for operation
    * (integer-exact cumulative counts; [[normCdfScalar]] per distinct
    * value; NaN devs propagate through max like Spark's NaN-greatest
    * ordering). */
  private[transform] def ksHistogram(rows: Array[(Double, Long)]): Double = {
    val sorted = rows.sortBy(_._1)
    // merge adjacent equal values — distinct transformed values can
    // collide (two raw values rounding to one transformed double)
    val xs = new scala.collection.mutable.ArrayBuffer[(Double, Long)](sorted.length)
    sorted.foreach { case (x, w) =>
      if (xs.nonEmpty && xs.last._1 == x) xs(xs.size - 1) = (x, xs.last._2 + w)
      else xs += ((x, w))
    }
    var n = 0L; var sx = 0.0; var sx2 = 0.0
    xs.foreach { case (x, w) => n += w; sx += x * w; sx2 += x * x * w }
    val nd = n.toDouble
    val m = sx / nd
    val s = math.sqrt(math.max(sx2 / nd - m * m, 0.0))
    var c = 0L
    var ks = Double.NegativeInfinity
    xs.foreach { case (x, w) =>
      val p = c; c += w
      val cdf = normCdfScalar(x, m, s)
      ks = math.max(ks, math.max(c / nd - cdf, cdf - p / nd))
    }
    ks
  }

  /** One-sample Kolmogorov-Smirnov statistics of several candidate
    * transforms at once, against Normal(mean, std_pop) of each transformed
    * column (reference stats.kstest(data, "norm", args=(mean, np.std)),
    * src/transform.py:94-98; np.std is population std, ddof=0).
    *
    * For tied values the per-row deviations
    *   D = max over sorted x_i of max(i/n − F(x_i), F(x_i) − (i−1)/n)
    * attain their extremes at the first and last index of each tie group, so
    * D = max over DISTINCT x of max(c(x)/n − F(x), F(x) − p(x)/n) with
    * c(x) = #rows ≤ x and p(x) = c(x) − count(x) — identical doubles to the
    * row-indexed form.
    *
    * Scale-safe plan (no global single-partition sort):
    *   1. ONE scan tag-explodes every candidate → groupBy(tag, x) count —
    *      map-side partial agg, shuffle keyed by (tag, value).
    *   2. Distinct values are range-bucketed by per-tag approx quantiles
    *      (driver collects only #tags × #buckets metadata rows).
    *   3. Cumulative counts = bucket-partitioned window + broadcast-joined
    *      exclusive bucket offsets — every window partition holds
    *      ~d/buckets distinct values, never the whole column.
    * Fit-time only, never query-time.
    */
  def ksStatistics(df: DataFrame, cands: Seq[(String, Column)],
                   buckets: Int = 32): Map[String, Double] = {
    require(cands.nonEmpty)
    val spark = df.sparkSession
    val tags = cands.map(_._1)
    val pairs = cands.flatMap { case (t, c) => Seq(lit(t), c.cast("double")) }
    def groupedDf = df
      .select(explode(map(pairs: _*)).as(Seq("tag", "x")))
      .filter(col("x").isNotNull)
      .groupBy("tag", "x").agg(count(lit(1)).as("cnt"))

    // FAST PATH — ONE driver action instead of two (plus the persist the
    // two-job shape needed): collect the bounded (tag, value, count)
    // histogram and finish the KS in the driver (ksHistogram — same
    // arithmetic, deterministic ascending summation). The limit caps the
    // collect at #tags × MaxKsHistogram + 1 rows (≤ ~6 MB at 4 tags);
    // a tag over the per-tag cap falls through to the bucketed two-job
    // scale path below, unchanged. This is the YeoJohnson.fit histogram
    // trade applied to the scoring half: at any SF where a candidate
    // column's distinct-value count is bounded (integer-valued fixture
    // columns; quantized measures), the whole KS pass is one scan-shaped
    // aggregation job; a truly unbounded column pays one wasted
    // limit-collect and takes the old path.
    val head = groupedDf.limit(tags.size * MaxKsHistogram + 1).collect()
    val byTag = head.groupBy(_.getAs[String]("tag"))
    if (head.length <= tags.size.toLong * MaxKsHistogram &&
        byTag.valuesIterator.forall(_.length <= MaxKsHistogram)) {
      val ksByTag = byTag.map { case (t, rows) =>
        t -> ksHistogram(rows.map(r =>
          (r.getAs[Double]("x"), r.getAs[Long]("cnt"))))
      }
      return tags.map(t => t -> ksByTag.getOrElse(t, 1.0)).toMap
    }

    val grouped = groupedDf
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // Per-tag moments (n, Σx·cnt, Σx²·cnt ≡ raw-row sums) + quantile
      // boundaries over the DISTINCT values (balances window partitions).
      val probs = (1 until buckets).map(_.toDouble / buckets)
      val meta = grouped.groupBy("tag").agg(
        sum(col("cnt")).as("n"),
        sum(col("x") * col("cnt")).as("sx"),
        sum(col("x") * col("x") * col("cnt")).as("sx2"),
        percentile_approx(col("x"), array(probs.map(lit(_)): _*),
          lit(10000)).as("bounds")).collect()
      val statByTag = meta.map { r =>
        val n = r.getAs[Long]("n").toDouble
        val m = r.getAs[Double]("sx") / n
        val s = math.sqrt(math.max(r.getAs[Double]("sx2") / n - m * m, 0.0))
        val bounds = r.getSeq[Double](r.fieldIndex("bounds")).distinct.sorted
        r.getAs[String]("tag") -> ((n, m, s, bounds))
      }.toMap
      // A candidate whose column is entirely null contributes no rows to
      // `grouped` and so no meta row — it cannot fit ANY distribution.
      // Report KS = 1.0 (rejected; bestTransform's < 1.0 bar skips it)
      // instead of blowing up on the missing tag downstream.
      val absentTags = tags.filterNot(statByTag.contains)
      val presentTags = tags.filter(statByTag.contains)
      if (presentTags.isEmpty) return absentTags.map(_ -> 1.0).toMap

      // (The modest-cardinality window shortcut that used to live here is
      // subsumed by the single-action histogram path above: reaching this
      // point means some tag exceeds MaxKsHistogram distinct values.)
      val bucketCol = {
        def bucketChain(bounds: Seq[Double]): Column =
          bounds.foldLeft(lit(0)) { (acc, b) =>
            acc + when(col("x") > b, 1).otherwise(0)
          }
        presentTags.foldRight(lit(-1): Column) { (t, els) =>
          when(col("tag") === t, bucketChain(statByTag(t)._4)).otherwise(els)
        }
      }
      val bucketed = grouped.withColumn("b", bucketCol)

      // Exclusive prefix offsets per (tag, bucket) — #tags × #buckets rows.
      val offRows = {
        val totals = bucketed.groupBy("tag", "b").agg(sum("cnt").as("bn")).collect()
        totals.groupBy(_.getAs[String]("tag")).toSeq.flatMap {
          case (t, rows) =>
            var acc = 0L
            rows.sortBy(_.getAs[Int]("b")).map { r =>
              val off = acc; acc += r.getAs[Long]("bn")
              (t, r.getAs[Int]("b"), off)
            }
        }
      }
      val offDf = spark.createDataFrame(offRows).toDF("tag", "b", "off")
      val statDf = spark.createDataFrame(
        statByTag.toSeq.map { case (t, (n, m, s, _)) => (t, n, m, s) })
        .toDF("tag", "n", "m", "s")

      val w = Window.partitionBy("tag", "b").orderBy("x")
      val cdf = normCdf(col("x"), col("m"), col("s"))
      bucketed
        .join(broadcast(offDf), Seq("tag", "b"))
        .join(broadcast(statDf), Seq("tag"))
        .withColumn("c", (col("off") + sum(col("cnt")).over(w)).cast("double"))
        .select(col("tag"), greatest(
          col("c") / col("n") - cdf,
          cdf - (col("c") - col("cnt")) / col("n")).as("dev"))
        .groupBy("tag").agg(max(col("dev")).as("ks"))
        .collect()
        .map(r => r.getAs[String]("tag") -> r.getAs[Double]("ks")).toMap ++
        absentTags.map(_ -> 1.0)
    } finally grouped.unpersist()
  }

  /** A column's fit: the Yeo-Johnson λ and every candidate's KS statistic,
    * in the reference's candidate order (alphabetical by class name:
    * reciprocal, log2p1 and sqrt when no value is negative, yeojohnson). */
  final case class ColumnFit(lambda: Double, ks: Seq[(FittedTransform, Double)]) {
    /** The candidate with the lowest KS statistic if it beats 1.0 (first of
      * equal minima); None when every candidate is rejected. */
    def best: Option[FittedTransform] = {
      val (t, stat) = ks.minBy(_._2)
      if (stat < 1.0) Some(t) else None
    }
  }

  /** Fit every candidate of a column and score each by its KS statistic
    * (reference get_best_transform, src/transform.py:86-102). One raw
    * histogram collect ([[YeoJohnson.rawFit]]) feeds the negativity gate,
    * λ and, below the cap, every candidate's KS: each candidate is a pure
    * scalar function of x, so its transformed histogram derives in the
    * driver (sort + merge equal values = the groupBy-on-transformed-value
    * semantics) and [[ksHistogram]] runs the same arithmetic as the
    * distributed path. Above the cap the candidates are scored in one
    * distributed [[ksStatistics]] pass. */
  def fit(df: DataFrame, colName: String): ColumnFit = {
    val c = col(colName).cast("double")
    val f = YeoJohnson.rawFit(df, c)
    val candidates: Seq[FittedTransform] =
      Seq(Reciprocal()) ++ (if (f.hasNegative) Nil else Seq(Log2p1, SqrtT)) :+
        YeoJohnson(f.lambda)
    val ks = f.hist match {
      // NaN raw values transform to NaN (matching the Column path, where
      // sqrt/log of NaN is NaN) rather than tripping applyScalar's
      // non-negativity require — a NaN-poisoned KS is then never < 1.0.
      case Some(raw) => candidates.map(t =>
        if (raw.isEmpty) 1.0
        else ksHistogram(raw.map { case (x, w) =>
          (if (x.isNaN) Double.NaN else t.applyScalar(x), w) }))
      case None =>
        val byName = ksStatistics(df, candidates.map(t => t.name -> t(c)))
        candidates.map(t => byName(t.name))
    }
    ColumnFit(f.lambda, candidates.zip(ks))
  }

  /** The best normalizing transform of a column ([[fit]]'s `best`). */
  def bestTransform(df: DataFrame, colName: String): Option[FittedTransform] =
    fit(df, colName).best

  /** `df` with each mapped column replaced by its fitted transform of
    * itself (reference transformed_df, src/load.py:37-42). */
  def applyAll(df: DataFrame, transforms: Map[String, FittedTransform]): DataFrame =
    transforms.foldLeft(df) { case (d, (c, t)) => d.withColumn(c, t(col(c))) }
}
