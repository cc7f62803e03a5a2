package graft.queries

import graft.Tables
import graft.query._
import graft.rerank.Rerank
import graft.transform.{Transforms, YeoJohnson}
import org.apache.spark.sql.functions._

/** Re-rank pipeline (R1-R6) and transform-fit operators with DuckDB oracle
  * twins. The rerank oracle replicates the pandas average-tie rank in window
  * SQL (avg(row_number) over the key partition).
  */
object RerankQueries {

  // rr1: full R1+R2+R4+R5 pipeline over a top-50 result set.
  private val rr1 = Q(
    "rr1_rerank_pipeline",
    (s, d) => {
      // lineitem (orderkey, linenumber) is NOT unique in the testdata —
      // the top-50 cut and all downstream ranks need a total order
      val top = Tables.lineitem(s, d)
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"),
          col("l_linenumber"), col("l_quantity"), col("l_linestatus"),
          col("l_returnflag"))
        .limit(50)
        .withColumn("relevance", lit(0.0))
      val filters = Seq[Filter](
        DensePointFilter("l_quantity", 30.0),                      // centroid
        DenseIntervalFilter("l_quantity", 10.0, 40.0, weight = 0.5),
        BinaryFilter("l_linestatus", "O"),
        SparseFilter("l_returnflag", Seq("A", "R"), weight = 2.0))
      Rerank.rerank(top, filters, minMax = Map("l_quantity" -> (1.0, 50.0)))
        .select(col("l_orderkey"), col("l_linenumber"),
          (round(col("relevance"), 6) + 0.0).as("relevance"))
        .orderBy("l_orderkey", "l_linenumber", "relevance")
    },
    Some("""WITH top AS (
              SELECT l_orderkey, l_linenumber, l_quantity, l_linestatus, l_returnflag
              FROM lineitem
              ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber,
                l_quantity, l_linestatus, l_returnflag LIMIT 50),
            k AS (SELECT *,
              abs(30.0 - l_quantity) AS k1,
              CASE WHEN l_quantity BETWEEN 10 AND 40 THEN -1e308 ELSE l_quantity END AS k2,
              CASE WHEN l_linestatus = 'O' THEN ' ' ELSE l_linestatus END AS k4,
              CASE WHEN l_returnflag IN ('A','R') THEN ' ' ELSE l_returnflag END AS k5
              FROM top),
            rn AS (SELECT *,
              row_number() OVER (ORDER BY k1 DESC, l_orderkey, l_linenumber) AS rn1,
              row_number() OVER (ORDER BY k2 DESC, l_orderkey, l_linenumber) AS rn2,
              row_number() OVER (ORDER BY k4 DESC, l_orderkey, l_linenumber) AS rn4,
              row_number() OVER (ORDER BY k5 DESC, l_orderkey, l_linenumber) AS rn5
              FROM k),
            r AS (SELECT *,
              avg(rn1) OVER (PARTITION BY k1) AS r1,
              avg(rn2) OVER (PARTITION BY k2) AS r2,
              avg(rn4) OVER (PARTITION BY k4) AS r4,
              avg(rn5) OVER (PARTITION BY k5) AS r5
              FROM rn)
            SELECT l_orderkey, l_linenumber,
              round((2*(r1-1)/49 - 1) * 1.0 + (2*(r2-1)/49 - 1) * 0.5 +
                    (2*(r4-1)/49 - 1) * 1.0 +
                    CASE WHEN (SELECT count(*) FROM top
                               WHERE l_returnflag IN ('A','R')) > 0
                         THEN (2*(r5-1)/49 - 1) * 2.0 ELSE 0.0 END, 6) + 0.0 AS relevance
            FROM r ORDER BY l_orderkey, l_linenumber, relevance"""))

  // t4: Yeo-Johnson APPLY with fixed λ (the fit is tested in ScalaTest; the
  // piecewise formula is oracle-checkable). events.value exercises both
  // branches (negative values present).
  private val t4 = Q(
    "t4_yeojohnson_apply",
    (s, d) => Tables.events(s, d)
      .select(col("event_id"),
        (round(YeoJohnson.expr(col("value"), 0.5), 6) + 0.0).as("v"))
      .orderBy("event_id"),
    Some("""SELECT event_id,
            round(CASE WHEN value >= 0 THEN (pow(value + 1, 0.5) - 1) / 0.5
                  ELSE -((pow(-value + 1, 1.5) - 1) / 1.5) END, 6) + 0.0 AS v
            FROM events ORDER BY event_id"""))

  // t5: KS normality statistic of log2(x+1)-transformed l_quantity
  // (best-transform scoring; reference src/transform.py:94-98). Both engines
  // use the SAME Abramowitz-Stegun erf polynomial.
  private val erfSql =
    """sign(z) * (1 - (((((1.061405429 * (1/(1+0.3275911*abs(z))) - 1.453152027) *
      | (1/(1+0.3275911*abs(z)))) + 1.421413741) * (1/(1+0.3275911*abs(z))) -
      | 0.284496736) * (1/(1+0.3275911*abs(z))) + 0.254829592) *
      | (1/(1+0.3275911*abs(z))) * exp(-z*z))""".stripMargin.replace("\n", " ")

  private val t5 = Q(
    "t5_ks_statistic",
    (s, d) => {
      val ks = Transforms.ksStatistics(
        Tables.lineitem(s, d), Seq("ks" -> log(2.0, col("l_quantity") + 1)))("ks")
      s.range(1).select((round(lit(ks), 6) + 0.0).as("ks"))
    },
    Some(s"""WITH t AS (SELECT log2(l_quantity + 1) AS x FROM lineitem
                        WHERE l_quantity IS NOT NULL),
             st AS (SELECT avg(x) AS m, sqrt(avg(x*x) - avg(x)*avg(x)) AS sd,
                           count(*) AS n FROM t),
             r AS (SELECT x, row_number() OVER (ORDER BY x) AS i FROM t),
             f AS (SELECT i, n,
                     (1 + ($erfSql)) / 2 AS cdf
                   FROM (SELECT i, n, (x - m) / (sd * sqrt(2)) AS z FROM r, st))
             SELECT round(max(greatest(i / n::DOUBLE - cdf, cdf - (i - 1) / n::DOUBLE)), 6)
                    + 0.0 AS ks
             FROM f"""))

  // t6: best-transform selection by KS argmin over {log2p1, sqrt,
  // reciprocal} (reference get_best_transform, src/transform.py:86-102;
  // the YJ candidate is excluded — its MLE fit is not SQL-expressible, so
  // it is covered by TransformSpec instead). Ties: first candidate wins
  // (strict < in the reference).
  private def ksSqlFor(xExpr: String): String = TransformSql.ksSqlFor(xExpr)

  private val t6 = Q(
    "t6_best_transform",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      val cands = Seq(
        "log2p1" -> log(2.0, col("l_quantity") + 1),
        "sqrt" -> sqrt(col("l_quantity")),
        "reciprocal" -> (lit(1.0) / (col("l_quantity") + 1e-10)))
      // all candidates scored in ONE job (tag-exploded scan; Transforms.ksStatistics)
      val ks = Transforms.ksStatistics(li, cands)
      val stats = cands.map { case (n, _) => n -> ks(n) }
      val best = stats.minBy(_._2) // stable: first of equal minima
      import s.implicits._
      Seq((best._1, BigDecimal(best._2).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
        .toDF("best_transform", "ks")
    },
    Some(s"""WITH ks AS (SELECT
               ${ksSqlFor("log2(l_quantity + 1)")} AS k_log,
               ${ksSqlFor("sqrt(l_quantity)")} AS k_sqrt,
               ${ksSqlFor("1.0 / (l_quantity + 1e-10)")} AS k_inv)
             SELECT CASE
                 WHEN k_log <= k_sqrt AND k_log <= k_inv THEN 'log2p1'
                 WHEN k_sqrt <= k_inv THEN 'sqrt'
                 ELSE 'reciprocal' END AS best_transform,
               round(least(k_log, k_sqrt, k_inv), 6) + 0.0 AS ks
             FROM ks"""))

  // t7: best-transform selection over ALL FOUR candidates including the
  // MLE-fitted Yeo-Johnson (reference get_best_transform + scipy
  // yeojohnson fit, src/transform.py:32-45,86-102). The oracle re-runs the
  // ENTIRE golden-section λ search as a DuckDB recursive CTE — identical
  // doubles at every iteration (same φ, same llf arithmetic), verified
  // bit-identical λ — then scores all candidates with the shared KS SQL.
  // Candidate order = the reference's reflection order (alphabetical:
  // Inverse, Log, Sqrt, YeoJohnson); first of equal minima wins.
  private def yjOfSql(v: String, l: String): String = TransformSql.yjOfSql(v, l)

  private val t7 = Q(
    "t7_best_transform_yj",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      // ONE histogram action fits λ AND scores all four candidates
      // (Transforms.fit; l_quantity has no negative value, so the
      // candidate list is the full reference order)
      val fit = Transforms.fit(li, "l_quantity")
      val (best, ks) = fit.ks.minBy(_._2)
      import s.implicits._
      Seq((best.name,
        BigDecimal(fit.lambda).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        BigDecimal(ks).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
        .toDF("best_transform", "lambda", "ks")
    },
    Some(s"""WITH RECURSIVE
        ${TransformSql.yjFitCtes(
          "SELECT l_quantity::DOUBLE AS x FROM lineitem WHERE l_quantity IS NOT NULL")},
        ks AS (SELECT
          ${ksSqlFor("1.0 / (l_quantity + 1e-10)")} AS k_inv,
          ${ksSqlFor("log2(l_quantity + 1)")} AS k_log,
          ${ksSqlFor("sqrt(l_quantity)")} AS k_sqrt,
          ${ksSqlFor(yjOfSql("l_quantity", "(SELECT lambda FROM lam)"))} AS k_yj)
        SELECT CASE
            WHEN k_inv <= k_log AND k_inv <= k_sqrt AND k_inv <= k_yj THEN 'reciprocal'
            WHEN k_log <= k_sqrt AND k_log <= k_yj THEN 'log2p1'
            WHEN k_sqrt <= k_yj THEN 'sqrt'
            ELSE 'yeojohnson' END AS best_transform,
          round((SELECT lambda FROM lam), 6) + 0.0 AS lambda,
          round(least(k_inv, k_log, k_sqrt, k_yj), 6) + 0.0 AS ks
        FROM ks"""))

  // rr2: R3 geolocation re-rank — farthest point WITHIN the result set
  // (window max_by), closed-form scale-and-shift key, avg-tie rank
  // ascending (reference src/encode.py:232-246).
  private val rr2 = Q(
    "rr2_geo_rerank",
    (s, d) => {
      val top = Tables.customer(s, d)
        .withColumn("lon", (col("c_custkey") % 360 - 180).cast("double"))
        .withColumn("lat", (col("c_custkey") * 7 % 160 - 80).cast("double"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
        .limit(50)
        .withColumn("relevance", lit(0.0))
      Rerank.rerank(top, Seq(GeoFilter("loc", 10.0, 50.0, weight = 1.0)),
          minMax = Map.empty, geoCols = Map("loc" -> ("lon", "lat")))
        .select(col("c_custkey"), (round(col("relevance"), 6) + 0.0).as("relevance"))
        .orderBy("c_custkey")
    },
    Some("""WITH top AS (
              SELECT c_custkey,
                     ((c_custkey % 360) - 180)::DOUBLE AS lon,
                     (((c_custkey * 7) % 160) - 80)::DOUBLE AS lat
              FROM customer ORDER BY c_acctbal DESC, c_custkey LIMIT 50),
            far AS (
              SELECT lon AS flon, lat AS flat FROM top
              ORDER BY 2.0 * 6371.0 * asin(sqrt(
                  pow(sin(radians(50.0 - lat) / 2), 2) +
                  cos(radians(lat)) * cos(radians(50.0)) *
                  pow(sin(radians(10.0 - lon) / 2), 2))) DESC,
                lon DESC, lat DESC
              LIMIT 1),
            prm AS (
              SELECT 2 / (1 - (cos(radians(50.0))*cos(radians(10.0))*cos(radians(flat))*cos(radians(flon)) +
                               cos(radians(50.0))*sin(radians(10.0))*cos(radians(flat))*sin(radians(flon)) +
                               sin(radians(50.0))*sin(radians(flat)))) AS s
              FROM far),
            keyed AS (
              SELECT c_custkey,
                (cos(radians(lat))*cos(radians(lon))*cos(radians(50.0))*cos(radians(10.0)) +
                 cos(radians(lat))*sin(radians(lon))*cos(radians(50.0))*sin(radians(10.0)) +
                 sin(radians(lat))*sin(radians(50.0))) * s
                + (1 - s * (pow(cos(radians(50.0))*cos(radians(10.0)), 2) +
                            pow(cos(radians(50.0))*sin(radians(10.0)), 2) +
                            pow(sin(radians(50.0)), 2))) AS key
              FROM top, prm),
            rn AS (SELECT *, row_number() OVER (ORDER BY key ASC, c_custkey) AS r
                   FROM keyed),
            ar AS (SELECT *, avg(r) OVER (PARTITION BY key) AS ar FROM rn)
            SELECT c_custkey, round(2.0 * (ar - 1) / 49 - 1, 6) + 0.0 AS relevance
            FROM ar ORDER BY c_custkey"""))

  val qs: Seq[Q] = Seq(rr1, rr2, t4, t5, t6, t7)
}
