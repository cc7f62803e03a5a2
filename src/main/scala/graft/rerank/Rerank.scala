package graft.rerank

import graft.encode.{FourierMath, ImageBlock}
import graft.functions.Geo
import graft.query._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Param.param
import org.apache.spark.sql.types.{DoubleType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Re-ranking mode (reference encode_result, src/encode.py:191-267):
  * retrieval used the text block only; each modality then adjusts
  * `relevance` within the k-row result set by a normalized rank of a
  * modality-specific sort key: relevance += (2·(rank−1)/(n−1) − 1) · weight.
  *
  * Each row's sort key is a Column expression, projected in the result's
  * own stage. Filter values enter it as [[param]]s, not literals, so the
  * projection's generated code does not depend on them: searches that
  * differ only in filter values reuse one compiled class. What needs the
  * whole result set (the pandas average-tie rank, n, the sparse any-match
  * and the geo farthest point) is one function over the k rows
  * ([[rankRows]]), applied in-plan after `coalesce(1)`: a re-ranked
  * search stays lazy and runs as one job. The function sees every row in
  * one task, so it is for result sets of k ≤ 100 rows, never for
  * unbounded data.
  */
object Rerank {

  // String sentinels (reference src/encode.py:249-261): match → " " (sorts
  // before any printable), null → "'" (next), others keep their value.
  private val MatchSentinel = " "
  private val NullSentinel = "'"

  /** The set-level rule of one filter over its projected per-row values. */
  private sealed trait Rule extends Serializable { def width: Int }
  /** Normalized average-tie rank of the key (value 0). */
  private final case class ByKey(ascending: Boolean) extends Rule { val width = 1 }
  /** R5 sparse: [[ByKey]] of value 0 when any row matches (value 1),
    * else 0.0 for every row — the modality is skipped. */
  private final case class IfAnyMatch(ascending: Boolean) extends Rule { val width = 2 }
  /** R3 geolocation: values (null location, distance to the query, lon,
    * lat, dot(cartesian(row), cartesian(q))). The key is that dot scaled
    * and shifted by the farthest point WITHIN the result set. */
  private final case class GeoKey(q: Array[Double], ascending: Boolean) extends Rule {
    val width = 5
  }

  /** One filter's term: an optional column projected first (the image
    * block vector, so the decode runs once per row), its per-row values,
    * and its set-level rule. */
  private final case class Term(pre: Option[(String, Column)], values: Seq[Column],
                                rule: Rule, weight: Double)

  /** Per-row values and rule of filter `i`; `kind` dispatch mirrors the
    * reference's if/elif chain; profiles provide col min/max for the dense
    * point mode. None: the filter does not re-rank. */
  private def term(f: Filter, i: Int, colMin: Double, colMax: Double,
                   geoCols: Map[String, (String, String)],
                   imageBlocks: Map[String, ImageBlock]): Option[Term] = {
    val c = col(f.column)
    def byKey(key: Column, ascending: Boolean) =
      Some(Term(None, Seq(key), ByKey(ascending), f.weight))
    f match {
      // R1 dense point (reference src/encode.py:209-224)
      case DensePointFilter(_, v, negated, _) =>
        if (v == colMax) byKey(c, ascending = true)
        else if (v == colMin) byKey(c, ascending = false)
        else byKey(coalesce(abs(param(v) - c), lit(Double.MaxValue)), ascending = negated)
      // R2 dense interval (reference src/encode.py:225-231)
      case DenseIntervalFilter(_, lo, hi, negated, _) =>
        byKey(coalesce(
          when(c.between(param(lo), param(hi)), Double.MinPositiveValue).otherwise(c),
          lit(Double.MaxValue)), ascending = negated)
      // R3 geolocation (reference src/encode.py:232-246): is_ascending =
      // NOT negated (reference :234) — closest rows get the highest dot →
      // highest rank → boosted.
      case GeoFilter(column, lon, lat, negated, _) =>
        val (lonCol, latCol) = geoCols(column)
        val qx = FourierMath.cartesian(lon, lat)
        // null location → zero cartesian (reference _geospatial_to_cartesian
        // returns zeros for None), so the key degenerates to the shift dim
        val dotQ =
          coalesce(Geo.cartesianX(col(lonCol), col(latCol)), lit(0.0)) * param(qx(0)) +
            coalesce(Geo.cartesianY(col(lonCol), col(latCol)), lit(0.0)) * param(qx(1)) +
            coalesce(Geo.cartesianZ(col(lonCol), col(latCol)), lit(0.0)) * param(qx(2))
        Some(Term(None, Seq(
          col(lonCol).isNull || col(latCol).isNull,
          Geo.haversine(col(lonCol), col(latCol), param(lon), param(lat)),
          col(lonCol).cast("double"), col(latCol).cast("double"), dotQ),
          GeoKey(qx, ascending = !negated), f.weight))
      // R4 binary (reference src/encode.py:247-254): match → smallest
      // sentinel, null → next smallest, rank DESCENDING — replicated
      // faithfully incl. the inverted-looking effect (SURVEY.md §7.4.5).
      case BinaryFilter(_, v, _) =>
        byKey(coalesce(
          when(c.cast("string") === v, MatchSentinel).otherwise(c.cast("string")),
          lit(NullSentinel)), ascending = false)
      // R5 sparse (reference src/encode.py:255-264): skip modality if no
      // selected value occurs in the result.
      case SparseFilter(_, sel, negated, _) =>
        val key = coalesce(
          when(c.isin(sel: _*), MatchSentinel).otherwise(c.cast("string")),
          lit(NullSentinel))
        Some(Term(None, Seq(key, coalesce(c.isin(sel: _*), lit(false))),
          IfAnyMatch(ascending = negated), f.weight))
      // Image (library extension — no reference analog): rank the k rows
      // by cosine of luma contrast signatures against the query image, via
      // the SAME block expression the retrieval index uses. Undecodable /
      // missing row images rank strictly below any true cosine (the −1
      // indicator dim, scaled past the cosine range) instead of poisoning
      // relevance to null — a modality extension convention, not a
      // reference-replication one. Negation flips the COSINE only (the
      // retrieval path's convention: QueryEncoder.encodeImage keeps the
      // indicator at +1 after negation), so "visually unlike this" still
      // ranks undecodable rows last, never first.
      case img: ImageFilter =>
        // strict lookup, the geoCols(column) convention: a filter column
        // that is not an indexed image block is a loud misconfiguration,
        // not a silent default-codec decode
        val b = imageBlocks.getOrElse(img.column, sys.error(
          s"'${img.column}' is not an image block of this index"))
        val qsig = org.apache.spark.sql.graft.ImageGridMath.signature(
          b.codec, img.payload, b.gridW, b.gridH)
        require(qsig != null,
          s"query image for '${img.column}' is not decodable by the block codec")
        val vecName = s"__rerank_img_$i"
        val vec = col(vecName)
        val cosine = qsig.zipWithIndex
          .map { case (s, j) => element_at(vec, j + 1) * param(s) }
          .reduce(_ + _)
        val signedCos = if (img.negated) -cosine else cosine
        Some(Term(Some(vecName -> b.encode),
          Seq(signedCos + lit(1.5) * element_at(vec, b.dim)), ByKey(ascending = true), f.weight))
      case _: NoFilter => None
    }
  }

  /** Full re-rank over the filters, in declaration order (reference
    * iterates aux_data in dict order, src/encode.py:204). Returns `result`
    * with `relevance` (as double) updated, rows in input order; lazy, and
    * no job of its own. */
  def rerank(result: DataFrame, filters: Seq[Filter],
             minMax: Map[String, (Double, Double)],
             geoCols: Map[String, (String, String)] = Map.empty,
             imageBlocks: Map[String, ImageBlock] = Map.empty): DataFrame = {
    val terms = filters.zipWithIndex.flatMap { case (f, i) =>
      val (mn, mx) = minMax.getOrElse(f.column, (Double.NaN, Double.NaN))
      term(f, i, mn, mx, geoCols, imageBlocks)
    }
    if (terms.isEmpty) return result
    // one partition FIRST: the keys are then projected in the rank's own
    // task, over the k rows only, and never pushed into a top-k's
    // projection, where a second Project would break TakeOrderedAndProject
    val one = result.coalesce(1)
    val base = if (one.schema("relevance").dataType == DoubleType) one
      else one.withColumn("relevance", col("relevance").cast(DoubleType))
    val pre = terms.flatMap(_.pre)
    val withPre = if (pre.isEmpty) base else base.withColumns(pre.toMap)
    val values = terms.flatMap(_.values).zipWithIndex.map { case (v, j) => v.as(s"__rerank_v$j") }
    val keyed = withPre.select(col("*") +: values: _*)
    val out = StructType(base.schema.map(f =>
      if (f.name == "relevance") f.copy(nullable = true) else f))
    val width = out.length
    val relIdx = out.fieldIndex("relevance")
    val first = withPre.schema.length
    val rules = terms.map(t => (t.rule, t.weight)).toArray
    keyed.mapPartitions { rows =>
      val in = rows.toArray
      if (in.isEmpty) Iterator.empty
      else rankRows(in, width, relIdx, first, rules).iterator
    }(RowEncoder.encoderFor(out))
  }

  /** The set-level step over all n rows of a result set: each term's
    * normalized rank, added times its weight to `relevance` in term order
    * (a null rank or relevance gives a null relevance). Rows are the
    * result's `width` columns followed by the terms' values from column
    * `first`; the output keeps the result's columns. */
  private def rankRows(rows: Array[Row], width: Int, relIdx: Int, first: Int,
                       rules: Array[(Rule, Double)]): Array[Row] = {
    val rel: Array[java.lang.Double] = rows.map(r =>
      if (r.isNullAt(relIdx)) null else java.lang.Double.valueOf(r.getDouble(relIdx)))
    var off = first
    rules.foreach { case (rule, weight) =>
      val r = ranks(rule, rows.map(row => Array.tabulate[Any](rule.width)(j => row.get(off + j))))
      rel.indices.foreach { i =>
        rel(i) = if (rel(i) == null || r(i) == null) null else rel(i) + r(i) * weight
      }
      off += rule.width
    }
    rows.indices.map(i => Row.fromSeq(rows(i).toSeq.take(width).updated(relIdx, rel(i)))).toArray
  }

  /** One rule's normalized rank of each row: 2·(rank−1)/(n−1) − 1. At
    * n = 1 that is 0/0 — the reference's NaN, which the engine shows as
    * null — so a ranked modality nulls the one row's relevance. */
  private def ranks(rule: Rule, v: Array[Array[Any]]): Array[java.lang.Double] = {
    val n = v.length
    def norm(keys: Array[Any], ascending: Boolean): Array[java.lang.Double] =
      avgRanks(keys, ascending).map(r =>
        if (r == null || n == 1) null
        else java.lang.Double.valueOf(2.0 * (r - 1.0) / (n - 1).toDouble - 1.0))
    rule match {
      case ByKey(asc) => norm(v.map(_(0)), asc)
      case IfAnyMatch(asc) =>
        if (v.exists(_(1) == true)) norm(v.map(_(0)), asc)
        else Array.fill[java.lang.Double](n)(0.0)
      case GeoKey(q, asc) =>
        // Reference edge case (src/encode.py:235-236): plain np.argmax over
        // distances with NaN returns the first NaN index, so ANY null
        // location in the result set makes the "farthest point" a null
        // point → zero cartesian → dot(q, far) = 0.
        val dotMin = if (v.exists(_(0) == true)) 0.0 else {
          // lexicographic (distance, lon, lat) max — deterministic under
          // distance ties (duplicate coordinates in the result set)
          val far = v.reduceLeft { (best, x) =>
            val c = Iterator(1, 2, 3).map(j => compareKeys(x(j), best(j))).find(_ != 0)
            if (c.exists(_ > 0)) x else best
          }
          val lon = far(2).asInstanceOf[Double]; val lat = far(3).asInstanceOf[Double]
          math.cos(math.toRadians(lat)) * math.cos(math.toRadians(lon)) * q(0) +
            math.cos(math.toRadians(lat)) * math.sin(math.toRadians(lon)) * q(1) +
            math.sin(math.toRadians(lat)) * q(2)
        }
        // enc = scaleAndShift(cart(q), cart(far)); key = dot([cart(row), 1], enc)
        val scale = 2.0 / (1.0 - dotMin)
        val shift = 1.0 - scale * q.map(v => v * v).sum
        norm(v.map(x => x(4).asInstanceOf[Double] * scale + shift), asc)
    }
  }

  /** pandas `rank(method='average', na_option='keep')`, 1-based: tied keys
    * share the mean of their row numbers, a null key has a null rank. Keys
    * order and tie as Spark sorts and groups them: doubles with NaN
    * largest, NaN = NaN and −0.0 = 0.0; strings by UTF-8 bytes. */
  private def avgRanks(keys: Array[Any], ascending: Boolean): Array[java.lang.Double] = {
    val ks = keys.map {
      case s: String => UTF8String.fromString(s)
      case f: Float => f.toDouble
      case b: Byte => b.toLong
      case s: Short => s.toLong
      case i: Int => i.toLong
      case other => other
    }
    val sign = if (ascending) 1 else -1
    val order = ks.indices.filter(ks(_) != null).toArray
      .sortWith((a, b) => sign * compareKeys(ks(a), ks(b)) < 0)
    val out = new Array[java.lang.Double](ks.length)
    var s = 0
    while (s < order.length) {
      var e = s + 1
      while (e < order.length && compareKeys(ks(order(s)), ks(order(e))) == 0) e += 1
      val avg = (s + 1 to e).map(_.toDouble).sum / (e - s).toDouble
      (s until e).foreach(j => out(order(j)) = avg)
      s = e
    }
    out
  }

  /** Spark's ordering of two non-null sort keys of one type (doubles as
    * `SQLOrderingUtil.compareDoubles`); a null sorts first, as in a
    * struct. */
  private def compareKeys(a: Any, b: Any): Int = (a, b) match {
    case (null, null) => 0
    case (null, _) => -1
    case (_, null) => 1
    case (x: Double, y: Double) => if (x == y) 0 else java.lang.Double.compare(x, y)
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: UTF8String, y: UTF8String) => x.binaryCompare(y)
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.compareTo(y)
    case _ => throw new IllegalArgumentException(
      s"unsupported re-rank key types: ${a.getClass.getName}, ${b.getClass.getName}")
  }
}
