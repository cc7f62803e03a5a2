package graft.queries

import graft.{FuseRankConfig, FuseRankEngine, Tables}
import graft.encode.EncoderParams
import graft.prep.Prep
import graft.query._
import graft.transform.Log2p1
import org.apache.spark.sql.functions._

/** Flipkart-shaped end-to-end spine (VERDICT r8 ask #3): the reference's
  * PRIMARY dataset pipeline (reference src/load_flipkart.py:11-51) run as
  * one full-engine query on the 20K-row synthetic schema twin
  * (tools/make_flipkart_synth.py — the real CSV is stripped from the
  * reference checkout):
  *
  *   S1 CSV scan → P1 fillna(brand, description) → P2/P4 category-tree
  *   split to 3 positional columns → P3 regex scrub → P5 trim → P7 specs
  *   extract-all + alternate key:/value; reformat → P8 column drops →
  *   pinned LogTransform on both price columns (the reference's
  *   transformation_schema, src/load_flipkart.py:48-51) → profile →
  *   V1 sparse + V2 binary + V4/V5 dense-Fourier encode → Q1/Q2/Q5/Q6
  *   query encode → K1 fused top-k.
  *
  * Every prep output is an ordering key of the deterministic row_id, so
  * the DuckDB twin (which re-derives the whole pipeline from the raw CSV)
  * hash-checks the prep columns THROUGH the ids, and the fused scores
  * through `relevance`. Query text is empty (zero text vector) so the
  * non-SQL-expressible embedder contributes exactly 0 on both sides —
  * the rest1 differential-check convention.
  */
object Flipkart {

  private val K = 4 // harmonics — keeps the oracle SQL tractable (fr5 note)

  private def seriesSql(p: String): String = Q.fourierSeriesSql(K, "a", "b", p)

  /** log2(x+1) — the reference's LogTransform (src/transform.py:57-63). */
  private def lg(e: String): String = s"log2(($e) + 1)"

  private val xhat = s"0.99 * (2*((${lg("i.discounted_price")} - mn)/(mx - mn)) - 1)"

  private val selectedCats = Seq("Clothing", "Footwear", "Jewellery")

  private def prepCtes: String = s"""raw AS (
          SELECT * FROM read_csv('${Tables.flipkartCsvPath}',
            header = true, quote = '"', escape = '"',
            columns = {'uniq_id': 'VARCHAR', 'crawl_timestamp': 'VARCHAR',
              'product_url': 'VARCHAR', 'product_name': 'VARCHAR',
              'product_category_tree': 'VARCHAR', 'pid': 'VARCHAR',
              'retail_price': 'BIGINT', 'discounted_price': 'BIGINT',
              'image': 'VARCHAR', 'is_FK_Advantage_product': 'VARCHAR',
              'description': 'VARCHAR', 'product_rating': 'VARCHAR',
              'overall_rating': 'VARCHAR', 'brand': 'VARCHAR',
              'product_specifications': 'VARCHAR'})),
        prepped AS (
          SELECT product_name,
            coalesce(brand, 'n/a') AS brand,
            coalesce(description, 'n/a') AS description,
            retail_price, discounted_price,
            is_FK_Advantage_product AS adv,
            trim(string_split(regexp_replace(product_category_tree,
              '[\\["\\]]', '', 'g'), '>>')[1]) AS cat1,
            trim(string_split(regexp_replace(product_category_tree,
              '[\\["\\]]', '', 'g'), '>>')[2]) AS cat2,
            trim(string_split(regexp_replace(product_category_tree,
              '[\\["\\]]', '', 'g'), '>>')[3]) AS cat3,
            coalesce(array_to_string(list_transform(
              regexp_extract_all(product_specifications, '=>"(.*?)"', 1),
              (x, i) -> CASE WHEN (i - 1) % 2 = 0 THEN x || ':'
                             ELSE x || ';' END), ' '), '') AS specs
          FROM raw),
        ids AS (
          SELECT *, row_number() OVER (ORDER BY
              product_name ASC NULLS FIRST, brand ASC NULLS FIRST,
              description ASC NULLS FIRST, cat1 ASC NULLS FIRST,
              cat2 ASC NULLS FIRST, cat3 ASC NULLS FIRST,
              specs ASC NULLS FIRST, adv ASC NULLS FIRST,
              retail_price ASC NULLS FIRST,
              discounted_price ASC NULLS FIRST) - 1 AS row_id
          FROM prepped),"""

  /** The full lifecycle with the top-k frame still LAZY — split out so
    * PlanSpec can pin the spine's physical plan (the query fn itself must
    * materialize before closing the engine, which leaves only a
    * LocalTableScan to inspect). Caller runs `close()` after consuming. */
  def lazySearch(s: org.apache.spark.sql.SparkSession)
      : (org.apache.spark.sql.DataFrame, () => Unit) = {
    // spread: a multiLine CSV is a ONE-TASK scan (non-splittable parse)
    // and the whole prep-regex chain rides the scan stage — measured
    // 0.9 s single-core at 20K rows vs 0.3 s for the parse alone. The
    // repartition parallelizes the prep; row_id is a global sort over
    // the full prep key set, so the deal is order-insensitive.
    val raw = Tables.spread(Tables.flipkartSynth(s))
    // P1 fillna (reference src/load_flipkart.py:19-20)
    val filled = raw
      .withColumn("brand", coalesce(col("brand"), lit("n/a")))
      .withColumn("description", coalesce(col("description"), lit("n/a")))
    // P2-P5 category split/scrub/trim + P7 specs reformat; null specs →
    // '' exactly as the reference's format_specs(str(nan)) yields ''
    val shaped = Prep.flipkartShape(filled,
        "product_category_tree", "product_specifications")
      .withColumn("product_specifications_clean",
        coalesce(col("product_specifications_clean"), lit("")))
      // P8 drops (reference src/load_flipkart.py:28-38)
      .drop("pid", "uniq_id", "image", "product_rating", "overall_rating",
        "product_category_tree", "product_url", "crawl_timestamp",
        "product_specifications")
    // EVERY prep output is a row_id ordering key: a bug anywhere in the
    // prep chain reorders ids and fails the hash
    // persisted: the engine lifecycle scans items more than once (profile
    // aggregate, encode projection; the search itself reads only the
    // index) and each scan would otherwise re-read + re-prep the gzip CSV
    // (non-splittable scan); released with the index below
    val items = Prep.withRowId(shaped, Seq(
      col("product_name"), col("brand"), col("description"),
      col("product_category_1"), col("product_category_2"),
      col("product_category_3"), col("product_specifications_clean"),
      col("is_FK_Advantage_product"), col("retail_price"),
      col("discounted_price"))).persist()
    val eng = FuseRankEngine.index(items, FuseRankConfig(
      idCol = "row_id",
      // text_encoding_schema weights (src/load_flipkart.py:44-47)
      textCols = Map("product_name" -> 0.4, "description" -> 0.3,
        "product_specifications_clean" -> 0.3),
      auxCols = Seq("product_category_1", "is_FK_Advantage_product",
        "discounted_price", "retail_price"),
      presetTransforms = Map("retail_price" -> Log2p1,
        "discounted_price" -> Log2p1),
      params = EncoderParams(numHarmonics = K)))
    val out = eng.search("", Seq(
        SparseFilter("product_category_1", selectedCats),
        BinaryFilter("is_FK_Advantage_product", "true", weight = 0.5),
        DenseIntervalFilter("discounted_price", 150.0, 2000.0, weight = 0.8)),
        k = 20)
      .select(col("row_id").cast("long").as("row_id"), col("relevance"))
      .orderBy(col("relevance").desc, col("row_id"))
    (out, () => { eng.close(); items.unpersist(); () })
  }

  private val flip1 = Q(
    "flip1_flipkart_fused_topk",
    (s, _) => {
      val (out, close) = lazySearch(s)
      // materialize the 20-row result so the engine's persisted index can
      // be released before returning (the rest1 convention)
      val rows = out.collect()
      close()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    },
    Some(s"""WITH $prepCtes
        mm AS (SELECT min(${lg("discounted_price")}) AS mn,
                      max(${lg("discounted_price")}) AS mx FROM prepped),
        ab AS (SELECT 0.99*((2*((${lg("150.0")} - mn)/(mx - mn)) - 1) - 0.01) AS a,
                      0.99*((2*((${lg("2000.0")} - mn)/(mx - mn)) - 1) + 0.01) AS b,
                      mn, mx FROM mm),
        iv AS (SELECT a, b, mn, mx, (a + b)/2 AS pin,
                 CASE WHEN abs(a + 1) > abs(1 - b) THEN (a - 1)/2
                      ELSE (b + 1)/2 END AS pout FROM ab),
        scored AS (
          SELECT i.row_id,
            (CASE WHEN i.cat1 IS NULL THEN 0.0
                  WHEN i.cat1 IN (${selectedCats.map("'" + _ + "'").mkString(", ")})
                  THEN 1.0 ELSE -1.0 END) AS cat_score,
            0.5 * (CASE WHEN i.adv IS NULL THEN 0.0
                        WHEN i.adv = 'true' THEN 1.0 ELSE -1.0 END) AS adv_score,
            ${seriesSql(xhat)} AS ii_x,
            ${seriesSql("pin")} AS ii_in,
            ${seriesSql("pout")} AS ii_out
          FROM ids i, iv)
        SELECT row_id::BIGINT AS row_id,
          round(cat_score + adv_score +
            0.8 * (CASE WHEN ii_x IS NULL
                   THEN -(2/(ii_in - ii_out)) * ((ii_in + ii_out)/2) - 1.0
                   ELSE (2/(ii_in - ii_out)) * ii_x
                        - (2/(ii_in - ii_out)) * ((ii_in + ii_out)/2) END), 5)
            + 0.0 AS relevance
        FROM scored
        ORDER BY relevance DESC, row_id LIMIT 20"""))

  val qs: Seq[Q] = Seq(flip1)
}
