package graft

import graft.encode.{FourierMath, HashingEmbedder, ImageBlock}
import graft.functions.Geo
import graft.query._
import graft.search.Search.{asDouble, dot, l2Norm}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Built-ins-only twins of native kernels: the differential specs check
  * each kernel against its twin, bit for bit. */
object ReferenceTwins {

  /** Twin of `Search.dot` (same left-to-right accumulation). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (s, x) => s + x)

  /** Twin of `FuseRankEngine.searchBatch`'s answer rows: the per-query
    * hits of `Search.multiTopK` joined back to `items` by one broadcast
    * gather, as the engine answered a batch before its heaps carried the
    * rows — (query_idx, id, relevance, item columns…) in (query_idx,
    * relevance desc, id) order. */
  def batchGather(items: DataFrame, idCol: String,
                  tops: IndexedSeq[Seq[(Long, Double)]]): DataFrame = {
    val spark = items.sparkSession
    import spark.implicits._
    val hits = tops.zipWithIndex.flatMap { case (rs, qi) =>
      rs.map { case (id, s) => (qi, id, s) }
    }.toDF("query_idx", "__hit_id", "relevance")
      .withColumn("__hit_id", col("__hit_id").cast(items.schema(idCol).dataType))
      .withColumnRenamed("__hit_id", idCol)
    val itemCols = items.columns.filterNot(_ == idCol).map(col)
    items.join(broadcast(hits), Seq(idCol))
      .select(col("query_idx") +: col(idCol) +: col("relevance") +: itemCols.toSeq: _*)
      .orderBy(col("query_idx"), col("relevance").desc, col(idCol))
  }

  /** The exact cosine k-NN the knn spine's Flat tier must equal, written
    * independently of it: each query row joined (broadcast nested loop)
    * against the full vector table, the query's own row excluded, per-query
    * top-k by a (score desc, id) window. Output: (q_id, vec_id, score, rk). */
  def knnBruteForce(vectors: DataFrame, queries: DataFrame,
                    vecCol: String, idCol: String,
                    qVecCol: String, qIdCol: String, k: Int): DataFrame = {
    // L2 norms hoisted to the per-row sides (n + q rows) instead of per
    // pair (n·q) — same sqrt(dot) arithmetic as cosine(), identical doubles
    val v = graft.Tables.spread(vectors)
      .withColumn("__vd", asDouble(col(vecCol)))
      .withColumn("__vn", l2Norm(col("__vd")))
    val q = queries.withColumn("__qd", asDouble(col(qVecCol)))
      .withColumn("__qn", l2Norm(col("__qd")))
    val score = dot(col("__qd"), col("__vd")) / (col("__qn") * col("__vn"))
    val w = Window.partitionBy(col(qIdCol))
      .orderBy(col("score").desc, col(idCol))
    v.crossJoin(broadcast(q))
      .filter(col(qIdCol) =!= col(idCol))
      .withColumn("score", round(score, 5) + 0.0)
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col(qIdCol), col(idCol), col("score"), col("rk"))
  }

  /** Twin of `Search.ivfAssign`: array_min over literal centroid structs;
    * inlines every centroid into the generated code, so it stops
    * codegenning at large nCentroids. */
  def ivfAssignLiteral(vec: Column, cents: Array[Array[Double]]): Column = {
    val vv = dot(vec, vec)
    val entries = cents.zipWithIndex.map { case (c, i) =>
      var cn = 0.0; var j = 0
      while (j < c.length) { cn += c(j) * c(j); j += 1 }
      struct((vv - lit(2.0) * dot(vec, typedLit(c)) + lit(cn)).as("d"),
        lit(i).as("cid"))
    }
    array_min(array(entries.toIndexedSeq: _*)).getField("cid")
  }

  /** Twin of `Search.bqSignatures`: 64 when-branches per word; inlines
    * one branch per dimension into the generated code, so it bloats at
    * fused-vector widths. */
  def bqSignaturesHof(vec: Column, thresholds: Array[Double]): Column = {
    val v = asDouble(vec)
    val words = thresholds.indices.grouped(64).map { idxs =>
      idxs.map { i =>
        when(element_at(v, i + 1) > lit(thresholds(i)), lit(1L << (i % 64)))
          .otherwise(lit(0L))
      }.reduce(_ + _)
    }.toSeq
    array(words: _*)
  }

  /** Twin of `Search.ivfCentroids` (the one k-means fit at m = 1): the
    * Lloyd loop as one assignment projection + a per-cell groupBy with a
    * [[org.apache.spark.sql.graft.VectorSum]] sum each round, the empty
    * cells keeping their centroid. */
  def ivfCentroidsGroupBy(vectors: DataFrame, vecCol: String, idCol: String,
                          nCentroids: Int, iters: Int,
                          exactMeans: Boolean = false): Array[Array[Double]] = {
    import org.apache.spark.sql.graft.VectorSum
    val inputCached =
      vectors.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val base0 = vectors.filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), asDouble(col(vecCol)).as("v"))
    val base = if (inputCached) base0 else base0.persist()
    try {
      var cents: Array[Array[Double]] = base.orderBy("id").limit(nCentroids)
        .collect().map(_.getSeq[Double](1).toArray)
      for (_ <- 1 to iters) {
        val rows = base.withColumn("cid", graft.search.Search.ivfAssign(col("v"), cents))
          .groupBy("cid")
          .agg(VectorSum.sums(col("v"), exactMeans).as("s"),
            count(lit(1)).as("n"))
          .collect()
        val next = cents.map(_.clone())
        rows.foreach { r =>
          val s = r.getSeq[Double](r.fieldIndex("s"))
          val n = r.getLong(r.fieldIndex("n")).toDouble
          next(r.getAs[Int]("cid")) = s.map(_ / n).toArray
        }
        cents = next
      }
      cents
    } finally { if (!inputCached) { base.unpersist(blocking = false) }; () }
  }

  /** Twin of `HashingEmbedder.embed` as built-in higher-order functions
    * over a string column: per character position, the 31-based hash of
    * the 3-char window via ascii codes, non-ASCII stripped first. */
  def hashingEmbedHof(e: HashingEmbedder, c: Column): Column = {
    val dim = e.dim
    val t = lower(regexp_replace(c, "[^\\x00-\\x7F]", ""))
    // positions 1..len-2; sequence(1, n) counts DOWN when n < 1 — guard
    // short strings explicitly
    val positions = when(length(t) >= 3, sequence(lit(1), length(t) - 2))
      .otherwise(array().cast("array<int>"))
    val tri = transform(
      positions,
      i => {
        val h = ((lit(17) * 31 + ascii(substring(t, i.cast("int"), lit(1)))) * 31 +
          ascii(substring(t, (i + 1).cast("int"), lit(1)))) * 31 +
          ascii(substring(t, (i + 2).cast("int"), lit(1)))
        struct(
          pmod(h, lit(dim)).as("b"),
          (lit(1.0) - lit(2.0) * pmod((h / dim).cast("int"), lit(2))).as("s"))
      })
    val raw = transform(sequence(lit(0), lit(dim - 1)), d =>
      aggregate(filter(tri, x => x.getField("b") === d), lit(0.0),
        (acc, x) => acc + x.getField("s")))
    val nrm = sqrt(aggregate(raw, lit(0.0), (a, x) => a + x * x))
    when(nrm === 0.0, raw).otherwise(transform(raw, x => x / nrm))
  }

  /** Twin of `Embedders.fuseInto` for a [[HashingEmbedder]]: Σ wᵢ·emb(colᵢ)
    * over [[hashingEmbedHof]], then L2-normalized, as one column
    * expression. */
  def fuseColumns(e: HashingEmbedder, weights: Map[String, Double]): Column = {
    val parts = weights.toSeq.map { case (c, w) =>
      transform(hashingEmbedHof(e, col(c)), x => x * w)
    }
    val summed = parts.reduce((a, b) => zip_with(a, b, (x, y) => x + y))
    val nrm = sqrt(aggregate(summed, lit(0.0), (a, x) => a + x * x))
    when(nrm === 0.0, summed).otherwise(transform(summed, x => x / nrm))
  }

  /** Twin of `graft.rerank.Rerank`: the re-rank as the window chain it
    * was before the one-pass rank function — one global window per rank
    * term over the k rows, every set-level value (average-tie rank, n,
    * sparse any-match, geo farthest point) a window aggregate. At n = 1
    * its normalized rank divides by zero. */
  object RerankWindows {

    /** Average-tie rank of `key` (ascending); deterministic row_number
      * tie-break inside equal keys does not affect the average. Nulls rank
      * LAST among row numbers but produce a NULL rank (pandas rank
      * na_option='keep': NaN keys get NaN rank — reference relies on this in
      * the no-fillna branches, where null rows poison relevance to NaN). */
    private def avgRank(key: Column, ascending: Boolean): Column = {
      val ordered = if (ascending) key.asc_nulls_last else key.desc_nulls_last
      val rn = row_number().over(Window.orderBy(ordered))
      when(key.isNull, lit(null)).otherwise(avg(rn).over(Window.partitionBy(key)))
    }

    private def normRank(key: Column, ascending: Boolean, n: Column): Column =
      lit(2.0) * (avgRank(key, ascending) - 1) / (n - 1) - 1

    // String sentinels (reference src/encode.py:249-261): match → " " (sorts
    // before any printable), null → "'" (next), others keep their value.
    private val MatchSentinel = " "
    private val NullSentinel = "'"

    /** Apply one modality's rank adjustment. `kind` dispatch mirrors the
      * reference's if/elif chain; profiles provide col min/max for the
      * dense point mode. Returns df with `relevance` updated.
      */
    def applyFilter(df: DataFrame, f: Filter, colMin: Double, colMax: Double,
                    geoCols: Map[String, (String, String)] = Map.empty,
                    imageBlocks: Map[String, ImageBlock] = Map.empty): DataFrame = {
      val n = count(lit(1)).over(Window.partitionBy())
      val c = col(f.column)
      val rank: Option[Column] = f match {
        // R1 dense point (reference src/encode.py:209-224)
        case DensePointFilter(_, v, negated, _) =>
          if (v == colMax) Some(normRank(c, ascending = true, n))
          else if (v == colMin) Some(normRank(c, ascending = false, n))
          else {
            val key = coalesce(abs(lit(v) - c), lit(Double.MaxValue))
            Some(normRank(key, ascending = negated, n))
          }
        // R2 dense interval (reference src/encode.py:225-231)
        case DenseIntervalFilter(_, lo, hi, negated, _) =>
          val key = coalesce(
            when(c.between(lo, hi), Double.MinPositiveValue).otherwise(c),
            lit(Double.MaxValue))
          Some(normRank(key, ascending = negated, n))
        // R3 geolocation (reference src/encode.py:232-246): farthest point
        // WITHIN the result set; key = dot(row cartesian+shift, query enc);
        // is_ascending = NOT negated (reference :234) — closest rows get the
        // highest dot → highest rank → boosted.
        case GeoFilter(column, lon, lat, negated, _) =>
          val (lonCol, latCol) = geoCols(column)
          val d = Geo.haversine(col(lonCol), col(latCol), lit(lon), lit(lat))
          // lexicographic (dist, lon, lat) max — deterministic under
          // distance ties (duplicate coordinates in the result set)
          val far = max_by(struct(col(lonCol).cast("double").as("lon"),
              col(latCol).cast("double").as("lat")),
              struct(d, col(lonCol).cast("double"), col(latCol).cast("double")))
            .over(Window.partitionBy())
          // farthest varies per result set; resolve via window then compute
          // the scale-and-shift dot in closed form:
          //   enc = scaleAndShift(cart(q), cart(far)); key = dot([cart(row),1], enc)
          val qx = FourierMath.cartesian(lon, lat)
          // Reference edge case (src/encode.py:235-236): plain np.argmax over
          // distances with NaN returns the first NaN index, so ANY null
          // location in the result set makes the "farthest point" a null
          // point → zero cartesian → dot(q, far) = 0. Every null row yields
          // the same zero vector, so this replication is deterministic even
          // though the reference's pick of WHICH null row is positional.
          val anyNull = max(when(col(lonCol).isNull || col(latCol).isNull, 1)
            .otherwise(0)).over(Window.partitionBy())
          val dotMinFar = // dot(cart(q), cart(far)) via trig on the window-resolved far point
            cos(radians(far.getField("lat"))) * cos(radians(far.getField("lon"))) * qx(0) +
              cos(radians(far.getField("lat"))) * sin(radians(far.getField("lon"))) * qx(1) +
              sin(radians(far.getField("lat"))) * qx(2)
          val dotMin = when(anyNull === 1, lit(0.0)).otherwise(dotMinFar)
          val scale = lit(2.0) / (lit(1.0) - dotMin)
          val dotMax = scale * lit(qx.map(v => v * v).sum)
          val shiftDim = lit(1.0) - dotMax
          // null location → zero cartesian (reference _geospatial_to_cartesian
          // returns zeros for None), so the key degenerates to the shift dim
          val key =
            (coalesce(Geo.cartesianX(col(lonCol), col(latCol)), lit(0.0)) * qx(0) +
              coalesce(Geo.cartesianY(col(lonCol), col(latCol)), lit(0.0)) * qx(1) +
              coalesce(Geo.cartesianZ(col(lonCol), col(latCol)), lit(0.0)) * qx(2)) * scale + shiftDim
          Some(normRank(key, ascending = !negated, n))
        // R4 binary (reference src/encode.py:247-254): match → smallest
        // sentinel, null → next smallest, rank DESCENDING — replicated
        // faithfully incl. the inverted-looking effect (SURVEY.md §7.4.5).
        case BinaryFilter(_, v, _) =>
          val key = coalesce(
            when(c.cast("string") === v, MatchSentinel).otherwise(c.cast("string")),
            lit(NullSentinel))
          Some(normRank(key, ascending = false, n))
        // R5 sparse (reference src/encode.py:255-264): skip modality if no
        // selected value occurs in the result; existence via window max.
        case SparseFilter(_, sel, negated, _) =>
          val key = coalesce(
            when(c.isin(sel: _*), MatchSentinel).otherwise(c.cast("string")),
            lit(NullSentinel))
          val anyMatch = max(when(c.isin(sel: _*), 1).otherwise(0))
            .over(Window.partitionBy())
          Some(when(anyMatch === 1, normRank(key, ascending = negated, n)).otherwise(0.0))
        // Image (library extension — no reference analog): rank the k rows
        // by cosine of luma contrast signatures against the query image, via
        // the SAME block expression the retrieval index uses. Undecodable /
        // missing row images rank strictly below any true cosine (the −1
        // indicator dim, scaled past the cosine range) instead of poisoning
        // relevance to null — a modality extension convention, not a
        // reference-replication one. Negation flips the COSINE only (the
        // retrieval path's convention: QueryEncoder.encodeImage keeps the
        // indicator at +1 after negation), so "visually unlike this" still
        // ranks undecodable rows last, never first. Handled outside this
        // match: the block column is projected ONCE (`__img_vec`) so the
        // decode runs once per row, not once per window-operator reference.
        case _: ImageFilter => None
        case _: NoFilter => None
      }
      (f, rank) match {
        case (img: ImageFilter, _) =>
          // strict lookup, the geoCols(column) convention: a filter column
          // that is not an indexed image block is a loud misconfiguration,
          // not a silent default-codec decode
          val b = imageBlocks.getOrElse(img.column, sys.error(
            s"'${img.column}' is not an image block of this index"))
          val qsig = org.apache.spark.sql.graft.ImageGridMath.signature(
            b.codec, img.payload, b.gridW, b.gridH)
          require(qsig != null,
            s"query image for '${img.column}' is not decodable by the block codec")
          val withVec = df.withColumn("__img_vec", b.encode)
          val vec = col("__img_vec")
          val cosine = qsig.zipWithIndex
            .map { case (s, i) => element_at(vec, i + 1) * lit(s) }
            .reduce(_ + _)
          val signedCos = if (img.negated) -cosine else cosine
          val key = signedCos + lit(1.5) * element_at(vec, b.dim)
          withVec.withColumn("relevance",
              col("relevance") + normRank(key, ascending = true, n) * f.weight)
            .drop("__img_vec")
        case (_, Some(r)) =>
          df.withColumn("relevance", col("relevance") + r * f.weight)
        case (_, None) => df
      }
    }

    /** Full re-rank pipeline over the filters, in declaration order
      * (reference iterates aux_data in dict order, src/encode.py:204). */
    def rerank(result: DataFrame, filters: Seq[Filter],
               minMax: Map[String, (Double, Double)],
               geoCols: Map[String, (String, String)] = Map.empty,
               imageBlocks: Map[String, ImageBlock] = Map.empty): DataFrame =
      filters.foldLeft(result) { (df, f) =>
        val (mn, mx) = minMax.getOrElse(f.column, (Double.NaN, Double.NaN))
        applyFilter(df, f, mn, mx, geoCols, imageBlocks)
      }
  }
}
