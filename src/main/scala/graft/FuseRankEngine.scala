package graft

import graft.encode._
import graft.profile.{ColumnProfile, Profiler}
import graft.query._
import graft.rerank.Rerank
import graft.search.Search
import graft.transform.{FittedTransform, Transforms}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanLeaf
import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** The user-facing engine — the reference's end-to-end lifecycle
  * (src/app.py + src/encode.py) as a library:
  *
  * {{{
  * val engine = FuseRankEngine.index(items, FuseRankConfig(
  *   idCol = "row_id",
  *   textCols = Map("name" -> 0.4, "description" -> 0.6),
  *   auxCols = Seq("city", "price"),
  *   geoCols = Map("location" -> ("lon", "lat"))))
  * val hits  = engine.search("cheap italian food",
  *   Seq(SparseFilter("city", Seq("Agra")),
  *       DenseIntervalFilter("price", 100, 400)), k = 10)
  * val hits2 = engine.search(..., method = SearchMethod.Reranking)
  * }}}
  *
  * Index build (reference §3.2): ONE profile aggregation + optional
  * transform fit + a narrow encode projection, persisted as `indexed`:
  * the raw item columns under their own names, `text_vec` and one
  * `fused_vec` per row, in `defaultParallelism` partitions
  * ([[Tables.spread]]), so every scan of it runs on every core. Search
  * (reference §3.1): driver-built query vector → one scan + top-k
  * (TakeOrderedAndProject — per-partition heaps, no shuffle) whose
  * projection outputs the answer rows themselves (the reference's iloc
  * gather); Reranking then ranks those k rows in the same job.
  */
sealed trait SearchMethod
object SearchMethod {
  /** Fused-vector retrieval: aux blocks inside the index vector. */
  case object Retrieval extends SearchMethod
  /** Text-only retrieval + rank-based re-ranking of the top-k. */
  case object Reranking extends SearchMethod
}

final case class FuseRankConfig(
    idCol: String,
    textCols: Map[String, Double],
    auxCols: Seq[String],
    geoCols: Map[String, (String, String)] = Map.empty,
    embedder: Embedder = HashingEmbedder(64),
    params: EncoderParams = EncoderParams(),
    /** fit + apply best normalizing transforms to dense columns
      * (reference create_schemas, src/load.py:16-19) */
    fitTransforms: Boolean = false,
    /** explicitly pinned transforms per dense column — the reference's
      * transformation_schema convention, where a loader names the transform
      * instead of fitting one (flipkart pins LogTransform on both price
      * columns, src/load_flipkart.py:48-51). Preset columns are excluded
      * from fitting; others still fit when fitTransforms is set. */
    presetTransforms: Map[String, FittedTransform] = Map.empty,
    /** binary payload columns indexed as image modality blocks (luma
      * contrast signatures — see [[graft.encode.ImageBlock]]); disjoint
      * from auxCols (payloads are not profiled) */
    imageCols: Seq[String] = Nil,
    imageGrid: (Int, Int) = (4, 4),
    imageCodec: graft.multimodal.Multimodal.Codec = graft.multimodal.Multimodal.imageIo)

final class FuseRankEngine private (
    val items: DataFrame,
    val config: FuseRankConfig,
    val profiles: Map[String, ColumnProfile],
    val transforms: Map[String, FittedTransform],
    val layout: VectorLayout,
    val indexed: DataFrame,
    ownsItemsCache: Boolean) {

  import config._

  /** One search (reference do_search, src/app.py:73-89). Returns the top-k
    * item rows with a `relevance` column, sorted descending; lazy, and one
    * Spark job unless a GeoFilter needs the farthest item first. */
  def search(queryText: String, filters: Seq[Filter], k: Int = 10,
             method: SearchMethod = SearchMethod.Retrieval): DataFrame = {
    Search.requireTopK(k, shortlist = 0)
    val textVec = embedder.embed(queryText)
    val fmap = filters.map(f => f.column -> f).toMap
    method match {
      case SearchMethod.Retrieval =>
        val q = QueryEncoder.encode(layout, fmap, textVec = textVec,
          transforms = transforms,
          farthest = QueryEncoder.sparkFarthest(items, geoCols),
          params = QueryEncoder.Params(params.intervalEpsilon, params.rangeEpsilon))
        Search.fusedTopK(indexed, "fused_vec", idCol, q, k, itemCols.map(col))
          .withColumnRenamed("score", "relevance")
      case SearchMethod.Reranking =>
        // text-only retrieval (aux blocks skipped: reference gates encode on
        // method, src/encode.py:68,132), whose k answer rows carry the
        // transformed values re-ranking compares (reference transformed_df)
        val top = Search.fusedTopK(indexed, "text_vec", idCol, textVec, k,
            itemCols.map(c => transforms.get(c).fold(col(c))(t => t(col(c)).as(c))))
          .withColumnRenamed("score", "relevance")
        val minMax = profiles.map { case (c, p) => c -> (p.min, p.max) }
        val imageBlocks = layout.blocks.collect {
          case b: ImageBlock => b.name -> b
        }.toMap
        // the answer columns and profile min/max are in transformed units
        Rerank.rerank(top, filters.map(Filter.transformed(_, transforms)), minMax,
          geoCols, imageBlocks)
          .orderBy(col("relevance").desc, col(idCol))
    }
  }

  /** Batched retrieval: P queries answered in ONE scan of the index, one
    * Spark job (Search.multiTopKRows — in-plan codegen dots, per-partition
    * bounded heaps that keep the answer rows themselves, read from the
    * index's raw item columns). The merged P·k rows come back as a local
    * relation, already in (query_idx, relevance desc, id) order, so
    * collecting it runs no further job. The serving shape for query
    * batches: per-query cost amortizes to 1/P of a scan instead of a scan
    * job each (the reference answers its batches one FAISS search at a
    * time, src/eval/experiment.py:27-28). Results are bit-identical to P
    * [[search]] calls in Retrieval mode — same encode, same rounded
    * scores, same (relevance desc, id) order — with a `query_idx` column
    * (position in `queries`) prepended. Eager: the scan runs here. */
  def searchBatch(queries: Seq[(String, Seq[Filter])], k: Int = 10): DataFrame = {
    Search.requireTopK(k, shortlist = 0)
    val far = QueryEncoder.sparkFarthest(items, geoCols)
    val qs = queries.map { case (text, filters) =>
      QueryEncoder.encode(layout, filters.map(f => f.column -> f).toMap,
        textVec = embedder.embed(text), transforms = transforms,
        farthest = far,
        params = QueryEncoder.Params(params.intervalEpsilon, params.rangeEpsilon))
    }
    val (out, tops) = Search.multiTopKRows(indexed, "fused_vec", idCol, qs, k,
      (idCol +: itemCols).map(col))
    val rows = for ((hits, qi) <- tops.zipWithIndex; h <- hits) yield {
      val v = h.out.toSeq(out)
      InternalRow.fromSeq(qi +: v.head +: h.score +: v.tail)
    }
    PlanLeaf.local(items.sparkSession, StructType(
      StructField("query_idx", IntegerType, nullable = false) +: out.head +:
        StructField("relevance", DoubleType, nullable = false) +: out.tail), rows)
  }

  /** The item columns an answer row carries after its id and relevance. */
  private def itemCols: Seq[String] = items.columns.toSeq.filterNot(_ == idCol)

  /** Items with fitted transforms applied (reference transformed_df,
    * src/load.py:37-42) — the values re-ranking ranks; a Reranking
    * `search` applies the same `t(col(c))` to its k answer rows only. */
  lazy val itemsTransformed: DataFrame = Transforms.applyAll(items, transforms)

  /** Release the persisted index, and the item cache if [[FuseRankEngine.index]]
    * added it: items the caller persisted stay cached. Searches issued
    * after close() still work — they recompute the encode projection (and
    * re-scan the item source). */
  def close(): Unit = {
    indexed.unpersist()
    if (ownsItemsCache) items.unpersist()
  }
}

object FuseRankEngine {

  /** Build the index: profile pass → (optional) transform fit → encode
    * projection → persist. */
  def index(rawItems: DataFrame, config0: FuseRankConfig): FuseRankEngine = {
    // The item table feeds FOUR independent consumers over the engine's
    // life — the profile aggregation, the (optional) transform fit, the
    // encode projection, and the farthest-point scan of every search or
    // batch with a GeoFilter (answer rows come from the index) — and the
    // common callers hand us a multiLine CSV scan under a global-sort
    // row_id window, so each consumer would re-parse the file single-task
    // and re-run the sort. Persist for the engine lifetime; released in
    // close() with the index — unless the caller already persisted it:
    // persist() is then a no-op, and the cache is the caller's to release.
    val ownsItemsCache = rawItems.storageLevel == StorageLevel.NONE
    val items = if (ownsItemsCache) rawItems.persist() else rawItems
    // Geolocation inference from the schema (reference infers geolocation
    // from tuple-valued object columns, src/app.py:46-50): any aux column
    // typed struct(numeric, numeric, ...) is a geo modality with (lon, lat)
    // = its first two fields. Explicit geoCols entries are an OVERRIDE, not
    // a requirement.
    val inferredGeo = config0.auxCols
      .filterNot(config0.geoCols.contains)
      .filter(c => graft.profile.Profiler.isGeoStruct(items.schema(c).dataType))
      .map(c => c -> graft.profile.Profiler.geoFieldPaths(items, c))
      .toMap
    val config = config0.copy(geoCols = config0.geoCols ++ inferredGeo)
    import config._
    // 1. transforms (fit on raw data, applied before profiling/encoding —
    //    reference fits in create_schemas then encodes transformed_df)
    presetTransforms.keys.foreach { c =>
      require(auxCols.contains(c), s"presetTransforms column '$c' not in auxCols")
      require(items.schema(c).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"presetTransforms column '$c' is not numeric: ${items.schema(c).dataType}")
    }
    val transforms: Map[String, FittedTransform] =
      presetTransforms ++ (
        if (!fitTransforms) Map.empty
        else auxCols.filterNot(presetTransforms.contains).flatMap { c =>
          items.schema(c).dataType match {
            case _: org.apache.spark.sql.types.NumericType =>
              Transforms.bestTransform(items, c).map(c -> _)
            case _ => None
          }
        }.toMap)
    // 2. ONE profile aggregation over all aux columns
    val profiles = Profiler.profile(Transforms.applyAll(items, transforms),
      auxCols.filterNot(geoCols.contains))
    // 3. layout: text block + per-modality aux blocks (schema order) +
    //    image blocks
    require(imageCols.intersect(auxCols).isEmpty,
      s"imageCols and auxCols overlap: ${imageCols.intersect(auxCols).mkString(",")}")
    val imageBlocks: Seq[Block] = imageCols.map { c =>
      require(items.schema(c).dataType == org.apache.spark.sql.types.BinaryType,
        s"image column '$c' must be binary, got ${items.schema(c).dataType}")
      ImageBlock(c, imageGrid._1, imageGrid._2, imageCodec)
    }
    val auxLayout = ProductEncoder.layoutFor(auxCols, profiles, params,
      Some(TextBlock("text_vec", embedder.dim)), geoCols)
    val layout = VectorLayout(auxLayout.blocks ++ imageBlocks)
    // 4. narrow encode projection: weighted text fusion (partition-local
    //    compiled embedder) + modality blocks. Single-row-group parquet
    //    scans and row-numbered (global-window) items are ONE partition —
    //    spread before the per-row-heavy encode, which also leaves the
    //    persisted index, and so every search scan, on every core. The
    //    encode reads transformed values, but the index keeps every item
    //    column RAW under its own name — a search's answer rows come
    //    straight from it — so a transformed column's raw value rides the
    //    encode under an internal name.
    val raw = transforms.keys.toSeq.map(c => c -> s"__raw_$c").toMap
    val encodeIn = Transforms.applyAll(Tables.spread(items)
      .select(col("*") +: raw.toSeq.map { case (c, r) => col(c).as(r) }: _*), transforms)
    val withText = Embedders.fuseInto(encodeIn, embedder, textCols, "text_vec")
    val indexed = ProductEncoder.encode(withText, layout)
      .select(items.columns.toSeq.map(c => raw.get(c).fold(col(c))(r => col(r).as(c))) ++
        Seq(col("text_vec"), col("fused_vec")): _*)
      .persist()
    new FuseRankEngine(items, config, profiles, transforms, layout, indexed, ownsItemsCache)
  }
}
