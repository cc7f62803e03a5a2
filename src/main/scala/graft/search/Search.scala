package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Exact inner-product / cosine search (reference K1, `src/app.py:78`,
  * `src/eval/faiss_experiment.py:66-68`). The reference's FAISS
  * `IndexFlatIP` is a brute-force scan; the Spark-native equivalent is a
  * narrow projection + `TakeOrderedAndProject` top-k (per-partition heap,
  * driver merge — no shuffle of the full table).
  *
  * Dot product uses higher-order functions (codegen'd by Catalyst); at
  * ~1.4K dims a custom codegen Expression is the profiled follow-up
  * (SURVEY.md §7.3).
  */
object Search {

  /** Inner product of two ArrayType(Double) columns; sequential left-to-right
    * accumulation (deterministic per row). Native codegen expression
    * (org.apache.spark.sql.graft.DotProduct) — identical result order to the
    * built-ins twin in the test sources, ~10-40× faster at high dims. */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.DotProduct.dot(a, b)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** L2-normalize an array column (reference `F.normalize(p=2)`,
    * src/encode.py:304). Zero vectors stay zero. */
  def l2Normalize(a: Column): Column = {
    val n = l2Norm(a)
    when(n === 0.0, a).otherwise(transform(a, x => x / n))
  }

  def asDouble(a: Column): Column = a.cast("array<double>")

  /** K1: exact inner-product top-k of a literal query vector against a
    * vector table. Physical plan: scan → project(score) →
    * TakeOrderedAndProject (scales: no shuffle, k-sized heaps only).
    */
  def fusedTopK(vectors: DataFrame, vecCol: String, idCol: String,
                q: Array[Double], k: Int): DataFrame = {
    val score = dot(asDouble(col(vecCol)), typedLit(q))
    vectors
      .withColumn("score", round(score, 5) + 0.0) // collapse IEEE −0.0
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("score"))
  }

  /** Batched exact top-k: ONE scan of the vector table answers every query
    * in `queries` at once. The reference's experiment harness issues one
    * FAISS search per sweep point (src/eval/evaluate.py:182-189); on Spark
    * that shape costs a full scan JOB per point, and the ~0.1-0.3 s per-job
    * floor dominates long before the scan does. This is the batch twin of
    * [[fusedTopK]] / the hard-filter oracle: per-query result = top k rows
    * by (score desc, id asc) among rows whose `eligible` predicate holds.
    *
    * Scores are computed IN-PLAN by the native codegen dot — identical
    * arithmetic to [[fusedTopK]], including the 5-dp round + IEEE −0.0
    * collapse when `roundScores` — so batched results are bit-identical to
    * the per-query path. Identical query vectors are deduplicated: their
    * dot is computed once per row (the sweep oracle issues P copies of the
    * same text query under P different filters).
    *
    * Scale shape: narrow projection (id, scores, mask) → mapPartitions
    * keeping q bounded k-heaps per partition → ≤ q·k candidate rows per
    * partition → driver merges numPartitions·q·k rows. No shuffle, no
    * per-query jobs: P searches cost one scan. Rows with a null vector are
    * skipped (the per-query path's NULLS LAST never surfaces them either
    * unless matches < k). Ties on (rounded) score break on the ascending
    * long id, matching the per-query orderBy.
    */
  def multiTopK(vectors: DataFrame, vecCol: String, idCol: String,
                queries: Seq[Array[Double]], k: Int,
                eligible: Seq[Column] = Nil,
                roundScores: Boolean = true,
                scoreExpr: (Column, Array[Double]) => Column = null): IndexedSeq[Seq[(Long, Double)]] = {
    require(k > 0, s"k must be positive: $k")
    require(eligible.isEmpty || eligible.size == queries.size,
      s"eligible size ${eligible.size} != queries size ${queries.size}")
    // tie-break and the downstream gather are by LONG id: a non-integral
    // id would cast to null (encoder crash) or reorder ties vs the
    // per-query paths' orderBy — refuse loudly instead
    val idType = vectors.schema(idCol).dataType
    require({
      import org.apache.spark.sql.types._
      idType == LongType || idType == IntegerType ||
        idType == ShortType || idType == ByteType
    }, s"multiTopK needs an integral id column; '$idCol' is $idType")
    val nq = queries.size
    if (nq == 0) return IndexedSeq.empty
    val spark = vectors.sparkSession
    import spark.implicits._
    // one score column per DISTINCT query vector
    val distinctQ = scala.collection.mutable.LinkedHashMap.empty[Seq[Double], Int]
    val qIdx: Array[Int] = queries.map(q =>
      distinctQ.getOrElseUpdate(q.toSeq, distinctQ.size)).toArray
    // the compressed serving tiers score PACKED code columns (binary) via
    // a custom scoreExpr — pass the raw column through for those; the
    // array<double> cast stays the default for real vector columns
    val vd = vectors.schema(vecCol).dataType match {
      case org.apache.spark.sql.types.BinaryType =>
        require(scoreExpr != null,
          s"binary column '$vecCol' needs an explicit scoreExpr")
        col(vecCol)
      case _ => asDouble(col(vecCol))
    }
    // scoreExpr generalizes the per-(row, query) score beyond the raw inner
    // product — e.g. the IVF serving path's cosine with its precomputed
    // per-row norm column — while keeping the same rounding / −0.0 collapse
    // so batched results stay bit-identical to the per-query orderBy path
    val scoreOf: (Column, Array[Double]) => Column =
      if (scoreExpr != null) scoreExpr else (v, q) => dot(v, typedLit(q))
    val scoreCols = distinctQ.keysIterator.map { q =>
      val s = scoreOf(vd, q.toArray)
      coalesce(if (roundScores) round(s, 5) + 0.0 else s, lit(0.0))
    }.toIndexedSeq
    // a null vector nulls every score — fold that into the mask so the
    // scores array stays non-nullable for the primitive encoder. With no
    // eligibility predicates every element would be the identical
    // null-check: serialize it ONCE per row, not nq times
    val sharedMask = eligible.isEmpty
    val maskElems =
      if (sharedMask) IndexedSeq(vd.isNotNull)
      else (0 until nq).map { i =>
        coalesce(eligible(i).cast("boolean"), lit(false)) && vd.isNotNull
      }
    val rows = vectors.select(
      col(idCol).cast("long").as("_1"),
      array(scoreCols: _*).as("_2"),
      array(maskElems: _*).as("_3")).as[(Long, Seq[Double], Seq[Boolean])]
    val qIdxB = qIdx; val kB = k; val nqB = nq; val sharedB = sharedMask
    // All score comparisons use java.lang.Double.compare — the IEEE total
    // order Spark's `desc` sort applies — so a non-finite score (NaN dot
    // from a NaN/∞ vector element) ranks exactly like the per-query
    // orderBy path: NaN above +∞ above every finite score. Naive `>`/`==`
    // would silently never admit NaN once the heap fills.
    // PriorityQueue dequeues its MAX; order so the max is the WORST kept
    // entry (lowest score in total order, then highest id)
    val byWorst: Ordering[(Double, Long)] = new Ordering[(Double, Long)] {
      def compare(a: (Double, Long), b: (Double, Long)): Int = {
        val c = java.lang.Double.compare(b._1, a._1)
        if (c != 0) c else java.lang.Long.compare(a._2, b._2)
      }
    }
    val candidates = rows.mapPartitions { it =>
      val heaps = Array.fill(nqB)(
        scala.collection.mutable.PriorityQueue.empty[(Double, Long)](byWorst))
      it.foreach { case (id, scores, mask) =>
        var i = 0
        while (i < nqB) {
          if (mask(if (sharedB) 0 else i)) {
            val s = scores(qIdxB(i)) + 0.0 // collapse IEEE −0.0 like the SQL path
            val h = heaps(i)
            if (h.size < kB) h.enqueue((s, id))
            else {
              val w = h.head
              val c = java.lang.Double.compare(s, w._1)
              if (c > 0 || (c == 0 && id < w._2)) {
                h.dequeue(); h.enqueue((s, id))
              }
            }
          }
          i += 1
        }
      }
      heaps.iterator.zipWithIndex.flatMap { case (h, i) =>
        h.iterator.map { case (s, id) => (i, id, s) }
      }
    }.collect()
    val grouped = candidates.groupBy(_._1)
    (0 until nq).map { i =>
      grouped.getOrElse(i, Array.empty[(Int, Long, Double)])
        .map { case (_, id, s) => (id, s) }
        .sortWith { case ((idA, sA), (idB, sB)) =>
          val c = java.lang.Double.compare(sB, sA) // desc, NaN first
          c < 0 || (c == 0 && idA < idB)
        }
        .take(k).toSeq
    }.toIndexedSeq
  }

  /** K1 over the PACKED index format (binary column of little-endian
    * doubles — the on-disk/in-memory serving form; see
    * org.apache.spark.sql.graft.PackedVectors). Cached packed index +
    * dotPacked ≈ FAISS-flat serving latency (0.4s warm over 600k×814 dims
    * on local[32]). */
  def fusedTopKPacked(vectors: DataFrame, packedCol: String, idCol: String,
                      q: Array[Double], k: Int): DataFrame = {
    import org.apache.spark.sql.graft.PackedVectors
    vectors
      .withColumn("score", PackedVectors.dotPacked(col(packedCol), typedLit(q)))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("score"))
  }

  /** K2: hard-filter top-k — the oracle-path query family
    * (reference src/eval/milvus_experiment.py:72-89). */
  def hardFilterTopK(items: DataFrame, preds: Seq[Column], score: Column,
                     tieBreak: Seq[Column], k: Int): DataFrame = {
    val filtered = if (preds.isEmpty) items else items.filter(preds.reduce(_ && _))
    filtered.orderBy((score.desc +: tieBreak.map(_.asc)): _*).limit(k)
  }

  /** Brute-force k-NN for a small broadcast query set: each query row joined
    * (broadcast nested-loop) against the full vector table, per-query top-k
    * via window. Scales linearly in table size; query side must be small.
    */
  def knnBruteForce(vectors: DataFrame, queries: DataFrame,
                    vecCol: String, idCol: String,
                    qVecCol: String, qIdCol: String, k: Int,
                    metric: String = "cosine"): DataFrame = {
    // L2 norms hoisted to the per-row sides (n + q rows) instead of per
    // pair (n·q) — same sqrt(dot) arithmetic as cosine(), identical doubles.
    // spread: the scoring pass is CPU-bound per row and the sf-scale file
    // is a handful of splits (see the knn* base comment); row-local, so
    // hash-indifferent
    val v = graft.Tables.spread(vectors)
      .withColumn("__vd", asDouble(col(vecCol)))
      .withColumn("__vn", l2Norm(col("__vd")))
    val q = queries.withColumn("__qd", asDouble(col(qVecCol)))
      .withColumn("__qn", l2Norm(col("__qd")))
    val score = metric match {
      case "cosine" => dot(col("__qd"), col("__vd")) / (col("__qn") * col("__vn"))
      case "ip"     => dot(col("__qd"), col("__vd"))
      case m        => throw new IllegalArgumentException(s"metric $m")
    }
    val w = Window.partitionBy(col(qIdCol))
      .orderBy(col("score").desc, col(idCol))
    v.crossJoin(broadcast(q))
      .filter(col(qIdCol) =!= col(idCol))
      .withColumn("score", round(score, 5) + 0.0)
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col(qIdCol), col(idCol), col("score"), col("rk"))
  }

  /** Random-hyperplane LSH bucketing: deterministic hyperplanes derived
    * from a seed; one row per (vector, table) with the table's `nBits`-bit
    * sign signature. Multi-table OR-construction — the standard recall
    * lever (single-table single-probe LSH recall collapses on high-dim
    * data). The scale path for ANN: candidate generation becomes a shuffle
    * on (table, signature), never an O(n²) cross join; nTables linearly
    * trades shuffle volume for recall.
    */
  def lshBuckets(vectors: DataFrame, vecCol: String, dim: Int,
                 nBits: Int, nTables: Int = 8, seed: Long = 42L): DataFrame = {
    import org.apache.spark.sql.graft.LshSignatures
    // all signatures in ONE expression (plane matrix as a reference
    // object) — nTables×nBits separate dot columns bloat codegen and
    // re-scan the vector per plane
    val planes = LshSignatures.planesFor(dim, nBits, nTables, seed)
    val sigs = LshSignatures.signatures(asDouble(col(vecCol)), planes, nTables, nBits)
    vectors
      .select(col("*"), posexplode(sigs).as(Seq("__tbl", "__sig")))
      .withColumn("bucket", struct(col("__tbl").as("tbl"), col("__sig").as("sig")))
      .drop("__tbl", "__sig")
  }

  /** Ids must stay below 2³² for [[packPair]] to be bijective. */
  val MaxPackableId: Long = 1L << 32

  /** 64-bit-safe candidate-pair packing: (a_id, b_id) → (a_id << 32) | b_id.
    * Candidate pairs ride union/distinct pipelines as ONE long — half the
    * shuffle width of a two-column pair. Bijective for ids in [0, 2³²);
    * the inline assert_true fails the query loudly on the first id ≥ 2³²
    * (pair generators emit a_id < b_id, so guarding b_id covers both)
    * instead of silently corrupting pairs. Replaces the former
    * a_id·10⁹ + b_id decimal packing, whose 10⁹ ceiling a billion-doc
    * corpus exceeds. Callers must sort on the UNPACKED columns: packed
    * order diverges from (a_id, b_id) order once a_id ≥ 2³¹ flips the
    * sign bit. */
  def packPair(aId: Column, bId: Column): Column = {
    val guard = coalesce(
      assert_true(bId < MaxPackableId,
        lit(s"id >= 2^32 ($MaxPackableId) overflows the packed pair long"))
        .cast("long"),
      lit(0L))
    shiftleft(aId.cast("long"), 32).bitwiseOR(bId.cast("long")) + guard
  }

  /** Inverse of [[packPair]]: columns (a_id, b_id), both BIGINT. Unsigned
    * shift keeps a_id correct when the packed long went negative. */
  def unpackPair(pair: Column): Seq[Column] = Seq(
    shiftrightunsigned(pair, 32).as("a_id"),
    pair.bitwiseAND(lit(MaxPackableId - 1L)).as("b_id"))

  /** SPILL-FRIENDLY distinct on one LONG key column (the packed-pair
    * dedup of d3/d7): exchange on the key, EXTERNAL sort within
    * partitions, then a streaming adjacent-value dedup.
    *
    * `distinct()` plans partial + final hash aggregates; on candidate
    * PAIRS the partial map buffers nearly every input row (cross-band
    * duplication is small, so pre-aggregation barely reduces) and its
    * allocation spike at constrained heaps is exactly what lost d7's
    * bucket join on the 4g memory-pressure boundary (BASELINE.md r10
    * note). The sort shape has no hash map at all: UnsafeExternalSorter
    * spills incrementally, so peak memory is bounded by the sorter's
    * page budget regardless of pair count, and the dedup itself is a
    * constant-state iterator over the sorted run. Same row set,
    * bit-identical downstream. */
  def distinctLongs(df: DataFrame, c: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(c).cast("long"))
      .repartition(col(c))
      .sortWithinPartitions(c)
      .as[Long]
      .mapPartitions { it =>
        var first = true
        var prev = 0L
        it.filter { v =>
          val keep = first || v != prev
          first = false
          prev = v
          keep
        }
      }
      .toDF(c)
  }

  /** Default per-bucket cap for [[cappedBandPairs]] — far above any bucket
    * a healthy corpus produces at the configured band widths, so results
    * are identical to the uncapped join unless the data is degenerate. */
  val LshBucketCap = 1000

  /** Candidate pairs from an LSH/band bucketing with a SKEW GUARD: buckets
    * up to `cap` members self-join into all pairs (the normal path);
    * oversized buckets — a near-constant corpus can collapse into ONE
    * bucket, turning the self-join into O(m²) on a single straggler task —
    * instead emit STAR pairs (bucket-min representative, member). The star
    * preserves the connected components that dedup clustering consumes
    * (every member still links to the rep) at O(m) pairs, bounding any
    * bucket's work linearly. Output keeps the a_id < b_id invariant; the
    * bucket-stats aggregation shuffles on the same key as the pair join.
    *
    * `buckets` must have one row per (id, bucket); callers should persist
    * it (it is scanned twice). */
  def cappedBandPairs(buckets: DataFrame, idCol: String, bucketCol: String,
                      cap: Int = LshBucketCap): DataFrame = {
    val stats = buckets.groupBy(col(bucketCol))
      .agg(count(lit(1)).as("__bn"), min(col(idCol)).as("__rep"))
    val withStats = buckets.select(col(bucketCol), col(idCol))
      .join(stats, Seq(bucketCol))
    val small = withStats.filter(col("__bn") <= cap)
    val allPairs = small.select(col(bucketCol), col(idCol).as("a_id"))
      .join(small.select(col(bucketCol), col(idCol).as("b_id")), Seq(bucketCol))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
    // rep = bucket min, so (rep, id != rep) already satisfies a_id < b_id
    val starPairs = withStats
      .filter(col("__bn") > cap && col(idCol) =!= col("__rep"))
      .select(col("__rep").as("a_id"), col(idCol).as("b_id"))
    allPairs.unionByName(starPairs)
  }

  /** IVF coarse quantizer: Lloyd's k-means over the vector column.
    * Deterministic and cross-engine-reproducible by construction —
    * init = the first `nCentroids` vectors by id; per-dimension means use
    * exact DECIMAL(28,6) sums (order-independent, so executor partitioning
    * cannot change the centroids); assignment ties break on centroid id;
    * empty clusters keep their previous centroid. Each iteration is one
    * narrow assignment projection + one (cid, dim) aggregation; only
    * nCentroids×dim rows ever reach the driver.
    */
  /** `exactMeans = true` accumulates per-dimension sums in exact
    * DECIMAL(28,6) arithmetic (org.apache.spark.sql.graft.VectorSum's
    * scaled-long twin of the decimal sum) — order-independent, so the fit
    * is bit-reproducible across engines and partitionings (the mode the
    * sim3 oracle twin replicates). The default `false` is the production
    * mode: native double sums — the centroid drift from summation order
    * is fp-noise that does not move ANN quality.
    *
    * Each Lloyd iteration is one narrow assignment projection + ONE
    * whole-vector aggregation (VectorSum): the shuffle carries
    * #partitions·#centroids array rows, never the n·dim exploded
    * (cid, pos, val) rows of the naive shape — the exploded decimal
    * aggregation was 88% of the sim3 sf10 spot-bench (≈38 s of 44 s;
    * 3.5 s with VectorSum, identical centroids). */
  def ivfCentroids(vectors: DataFrame, vecCol: String, idCol: String,
                   nCentroids: Int, iters: Int,
                   exactMeans: Boolean = false): Array[Array[Double]] = {
    import org.apache.spark.sql.graft.VectorSum
    // null vectors contribute nothing to the fit (the former posexplode
    // formulation dropped them by construction; IvfAssign's null cid group
    // would otherwise surface as a null sum and NPE the driver loop)
    // persisted across the Lloyd iterations: each round is one
    // assign+aggregate job over the SAME rows, and without the persist
    // every round re-ran the scan (and any upstream repartition) — the
    // fit is eager, so the blocks are released in the finally before the
    // caller's encode/score passes run
    // already-cached input (the knn* entry points persist their shared
    // base across fit/encode/score actions): a second cache layer here
    // would double the memory for zero saved work — compute through it
    val inputCached =
      vectors.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val base0 = vectors.filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), asDouble(col(vecCol)).as("v"))
    val base = if (inputCached) base0 else base0.persist()
    try {
      var cents: Array[Array[Double]] = base.orderBy("id").limit(nCentroids)
        .collect().map(_.getSeq[Double](1).toArray)
      for (_ <- 1 to iters) {
        val rows = base.withColumn("cid", ivfAssign(col("v"), cents))
          .groupBy("cid")
          .agg(VectorSum.sums(col("v"), exactMeans).as("s"),
            count(lit(1)).as("n"))
          .collect()
        val next = cents.map(_.clone())
        rows.foreach { r =>
          val s = r.getSeq[Double](r.fieldIndex("s"))
          val n = r.getLong(r.fieldIndex("n")).toDouble
          // same IEEE division as the former sum.cast(double) / count plan
          next(r.getAs[Int]("cid")) = s.map(_ / n).toArray
        }
        cents = next
      }
      cents
    } finally { if (!inputCached) { base.unpersist(blocking = false) }; () }
  }

  /** Nearest-centroid id by squared L2 distance (|v|² − 2v·c + |c|²),
    * centroid-id tiebreak. Native expression with the centroid matrix as a
    * reference object (org.apache.spark.sql.graft.IvfAssign) — code size is
    * independent of nCentroids, so IVF-realistic centroid counts (10⁴–10⁵)
    * stay inside whole-stage codegen. Bit-identical to its built-ins twin
    * (array_min over literal centroid structs; asserted in IvfSpec). */
  def ivfAssign(vec: Column, cents: Array[Array[Double]]): Column =
    org.apache.spark.sql.graft.IvfAssign.assign(vec, cents)

  /** IVF ANN top-k for a small query-id set: fit centroids, assign every
    * vector to its bucket, probe the `nProbe` nearest centroids per query
    * (driver math — centroids are tiny), exact cosine on the probed
    * buckets only. The scale shape: candidate generation is a broadcast
    * join on centroid id over ~nProbe/nCentroids of the table, never a
    * full scan per query. */
  def knnIvf(vectors: DataFrame, vecCol: String, idCol: String,
             queryIds: Seq[Long], nCentroids: Int, iters: Int,
             nProbe: Int, k: Int, exactMeans: Boolean = false): DataFrame = {
    val spark = vectors.sparkSession
    // spread: the sf-scale embeddings file is a handful of splits, and
    // every stage from the fit to the encode/score pass is CPU-bound per
    // row — without the repartition the whole ANN pass runs on ≤3 of 32
    // cores (round-12 sf10 profile); a no-op on inputs already wider
    // than the cores, and hash-safe (every query-path fit is exact /
    // order-independent). The FIT reads the spread base too (round-13
    // advisor fix: fitting from the unspread input pinned every Lloyd
    // round of the CPU-bound k-means to the raw split count — the exact
    // stage the spread exists for). Value-identical where it is CLAIMED:
    // the oracle-hashed path (sim3) fits with exactMeans=true, whose
    // DECIMAL sums are partitioning-independent; the default
    // exactMeans=false mode sums native doubles, so the repartition can
    // move centroids by summation-order fp-noise — explicitly the
    // documented contract of that mode (see ivfCentroids: "centroid
    // drift from summation order is fp-noise that does not move ANN
    // quality"), and CompressionCurve grades recall on exact cosine of
    // whatever cells result, so its tiers stay internally consistent.
    // persisted for the QUERY's lifetime (fit rounds + query-row collect +
    // the final score pass all read it; without the persist each of those
    // actions re-ran the scan + spread exchange + array decode). Released
    // by the caller's clearCache — the d3/d7 persisted-intermediate
    // lifecycle this engine's harnesses (Bench.runOne, Verify) already
    // implement.
    val base = graft.Tables.spread(vectors)
      .select(col(idCol).cast("long").as("id"),
        asDouble(col(vecCol)).as("v"))
      .persist()
    val cents = ivfCentroids(base, "v", "id", nCentroids, iters, exactMeans)
    val assigned = base.withColumn("cid", ivfAssign(col("v"), cents))
      .withColumn("vn", l2Norm(col("v")))
    val qRows = base.filter(col("id").isin(queryIds: _*)).collect()
    val probes = qRows.flatMap { r =>
      val qid = r.getLong(0)
      val qv = r.getSeq[Double](1).toArray
      var qq = 0.0; var j = 0
      while (j < qv.length) { qq += qv(j) * qv(j); j += 1 }
      cents.zipWithIndex.map { case (c, i) =>
        var vc = 0.0; var cn = 0.0; var m = 0
        while (m < c.length) { vc += qv(m) * c(m); cn += c(m) * c(m); m += 1 }
        (qid, i, qq - 2.0 * vc + cn)
      }.sortBy { case (_, cid, d) => (d, cid) }
        .take(nProbe).map { case (q, cid, _) => (q, cid) }
    }
    val probesDf = spark.createDataFrame(probes.toIndexedSeq).toDF("q_id", "cid")
    val qSide = base.filter(col("id").isin(queryIds: _*))
      .select(col("id").as("q_id"), col("v").as("qv"),
        l2Norm(col("v")).as("qn"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("id"))
    assigned.join(broadcast(probesDf), "cid")
      .filter(col("q_id") =!= col("id"))
      .join(broadcast(qSide), "q_id")
      .withColumn("score",
        round(dot(col("qv"), col("v")) / (col("qn") * col("vn")), 5) + 0.0)
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("id").as("vec_id"), col("score"), col("rk"))
  }

  /** Product-quantization codebooks: the vector space split into `m`
    * contiguous subspaces of dim/m dimensions, one [[ivfCentroids]] k-means
    * (same deterministic discipline: first-rows init, centroid-id
    * tiebreaks, empty clusters keep their centroid, optional exact DECIMAL
    * means) fit per subspace. PQ is THE 100-TB ANN memory lever: an
    * encoded vector is `m` small codes (m bytes at ksub ≤ 256) instead of
    * dim·8 bytes — a 64-dim double vector compresses 128× at m=4 — which
    * is what lets a billion-vector index live in executor memory while
    * the exact vectors stay on disk for reranking. */
  def pqCodebooks(vectors: DataFrame, vecCol: String, idCol: String,
                  dim: Int, m: Int, ksub: Int, iters: Int,
                  exactMeans: Boolean = false): Array[Array[Array[Double]]] = {
    require(m > 0 && dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val dsub = dim / m
    import org.apache.spark.sql.graft.PqFit
    // FUSED fit: one PqFit aggregate pass per Lloyd round covers ALL m
    // subspaces (the per-subspace form scheduled m·iters assign+aggregate
    // jobs over the same rows — pure job-floor at local[32], m× the scans
    // anywhere). Assignment/mean arithmetic is bit-identical to the
    // per-subspace ivfCentroids path (PqFitSpec asserts codebook equality
    // cell for cell; the sim4/sim5/sim8 oracle hashes are the
    // cross-engine witness). Persisted across rounds; fits are eager,
    // blocks released before the caller encodes.
    val inputCached =
      vectors.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val base0 = vectors.filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), asDouble(col(vecCol)).as("v"))
    val base = if (inputCached) base0 else base0.persist()
    try {
      val head = base.orderBy("id").limit(ksub).collect()
        .map(_.getSeq[Double](1).toArray)
      // fewer rows than ksub initializes that many cells — the
      // per-subspace path's limit(ksub) behavior, kept identical
      val kEff = head.length
      require(kEff > 0, "pqCodebooks: no non-null vectors to fit")
      var books: Array[Array[Array[Double]]] = Array.tabulate(m)(j =>
        head.map(v => java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub)))
      for (_ <- 1 to iters) {
        val st = base.agg(PqFit.fit(col("v"), books, exactMeans).as("f"))
          .head().getStruct(0)
        val s = st.getSeq[Double](0)
        val n = st.getSeq[Long](1)
        val next = books.map(_.map(_.clone()))
        var j = 0
        while (j < m) {
          var c = 0
          while (c < kEff) {
            val cnt = n(j * kEff + c)
            if (cnt > 0) {
              // same IEEE division as the per-subspace driver loop
              val nd = cnt.toDouble
              val cell = new Array[Double](dsub)
              var i = 0
              while (i < dsub) {
                cell(i) = s((j * kEff + c) * dsub + i) / nd; i += 1
              }
              next(j)(c) = cell
            }
            c += 1
          }
          j += 1
        }
        books = next
      }
      books
    } finally { if (!inputCached) { base.unpersist(blocking = false) }; () }
  }

  /** PQ encode: array of `m` subspace code ids (nearest sub-centroid per
    * subspace, [[ivfAssign]] semantics). Narrow projection — at scale this
    * pipelines into the index write; pack to BinaryType for the byte-tight
    * serving form ([[org.apache.spark.sql.graft.PackedVectors]] pattern). */
  def pqCodes(vec: Column, codebooks: Array[Array[Array[Double]]],
              dim: Int): Column = {
    val m = codebooks.length
    val dsub = dim / m
    array((0 until m).map(j =>
      ivfAssign(slice(vec, j * dsub + 1, dsub), codebooks(j))): _*)
  }

  /** Per-query ADC lookup table T[j][c] = ⟨q_j, codebook_j[c]⟩, flattened
    * subspace-major (T[j][c] at j·ksub + c, the layout the codegen
    * AdcPacked loop reads). ONE function for [[knnPq]], [[knnIvfPq]] and
    * the IVF serving PQ tier: the left-to-right accumulation order is
    * pinned by the sim4/sim5/sim8 oracle hashes. */
  def adcTable(q: Array[Double], books: Array[Array[Array[Double]]]): Array[Double] = {
    val ksub = books(0).length
    val dsub = books(0)(0).length
    val t = new Array[Double](books.length * ksub)
    var j = 0
    while (j < books.length) {
      var c = 0
      while (c < ksub) {
        val cent = books(j)(c)
        var s = 0.0; var i = 0
        while (i < dsub) { s += q(j * dsub + i) * cent(i); i += 1 }
        t(j * ksub + c) = s
        c += 1
      }
      j += 1
    }
    t
  }

  /** Per-query SQ8 lookup table T[i][c] = (mn_i + c·Δ_i/255)·q_i — the
    * dequantization grid folded into the byte-lookup table (T[i][c] at
    * i·256 + c). ONE function for [[knnSq]] and the IVF serving SQ8 tier;
    * the op order ((c·Δ)/255, +mn, ·q_i) is the oracle's dequant, pinned by
    * the sim6 hash. */
  def sqTable(q: Array[Double], mins: Array[Double], maxs: Array[Double]): Array[Double] = {
    val t = new Array[Double](mins.length * 256)
    var i = 0
    while (i < mins.length) {
      val mn = mins(i); val d = maxs(i) - mn
      var c = 0
      while (c < 256) { t(i * 256 + c) = (mn + c * d / 255.0) * q(i); c += 1 }
      i += 1
    }
    t
  }

  /** PQ ANN top-k by ASYMMETRIC DISTANCE COMPUTATION for a small query-id
    * set: fit codebooks, encode every vector to `m` codes, and score a row
    * WITHOUT touching its original vector — per query, the inner-product
    * table T[j][c] = ⟨q_j, codebook_j[c]⟩ (m·ksub doubles, driver math) is
    * broadcast and the approximate score is Σ_j T[j][code_j], a pure
    * lookup-sum over the codes. The scale shape: the scan reads m SMALL
    * codes per row instead of dim doubles — IO and memory shrink by the
    * compression factor, scoring is m array lookups + adds per row, and
    * ranking quality is the PQ approximation (recall vs exact asserted in
    * PqSpec; re-rank the top candidates against exact vectors to recover
    * the tail, the standard FAISS IVFPQ + refine recipe). Composes with
    * [[knnIvf]]/[[graft.serve.IvfIndex]]: coarse cells prune IO, PQ codes
    * shrink what's read. */
  def knnPq(vectors: DataFrame, vecCol: String, idCol: String,
            queryIds: Seq[Long], dim: Int, m: Int, ksub: Int, iters: Int,
            k: Int, exactMeans: Boolean = false): DataFrame = {
    val spark = vectors.sparkSession
    // spread: the sf-scale embeddings file is a handful of splits, and
    // every stage from the fit to the encode/score pass is CPU-bound per
    // row — without the repartition the whole ANN pass runs on ≤3 of 32
    // cores (round-12 sf10 profile); a no-op on inputs already wider
    // than the cores, and hash-safe (every query-path fit is exact /
    // order-independent)
    // persisted for the query's lifetime (see knnIvf's note)
    val base = graft.Tables.spread(vectors)
      .select(col(idCol).cast("long").as("id"),
        asDouble(col(vecCol)).as("v"))
      .persist()
    val books = pqCodebooks(base, "v", "id", dim, m, ksub, iters, exactMeans)
    // packed codes + the native ADC kernel (knnSq's scoring path): the
    // former aggregate(zip_with(...)) lookup-sum was an interpreted HOF
    // per candidate row; adcBytes is the same left-to-right accumulation
    // over the flattened subspace-major table, bit-identical scores
    val encoded = base.select(col("id"),
      org.apache.spark.sql.graft.PqCodes.pack(
        pqCodes(col("v"), books, dim)).as("codes"))
    val qRows = base.filter(col("id").isin(queryIds: _*)).collect()
    val qT = qRows.map(r => (r.getLong(0), adcTable(r.getSeq[Double](1).toArray, books).toSeq))
    val qDf = spark.createDataFrame(qT.toIndexedSeq).toDF("q_id", "t")
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("id"))
    encoded.crossJoin(broadcast(qDf))
      .filter(col("q_id") =!= col("id"))
      .withColumn("score", round(
        org.apache.spark.sql.graft.PqCodes.adcPacked(
          col("codes"), col("t"), books(0).length), 5) + 0.0)
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("id").as("vec_id"), col("score"), col("rk"))
  }

  /** The combined FAISS-IVFPQ query semantics in-memory: coarse probe
    * (nProbe nearest cells per query — candidate generation is a broadcast
    * join on cell id over ~nProbe/nCentroids of the table, [[knnIvf]]'s
    * shape) × PQ asymmetric-distance scoring on the candidates only
    * ([[knnPq]]'s lookup-sum — the candidate rows' codes, never their
    * vectors). The serving twin is [[graft.serve.IvfIndex]]'s partitioned
    * ADC path, where the probe becomes directory pruning and the codes
    * column pruning; here the whole pipeline stays a single lazy plan so
    * it can be differentially hash-checked (sim5). */
  def knnIvfPq(vectors: DataFrame, vecCol: String, idCol: String,
               queryIds: Seq[Long], dim: Int, nCentroids: Int, iters: Int,
               nProbe: Int, m: Int, ksub: Int, pqIters: Int, k: Int,
               exactMeans: Boolean = false, residual: Boolean = false): DataFrame = {
    val spark = vectors.sparkSession
    // spread: the sf-scale embeddings file is a handful of splits, and
    // every stage from the fit to the encode/score pass is CPU-bound per
    // row — without the repartition the whole ANN pass runs on ≤3 of 32
    // cores (round-12 sf10 profile); a no-op on inputs already wider
    // than the cores, and hash-safe (every query-path fit is exact /
    // order-independent)
    // persisted for the query's lifetime (see knnIvf's note)
    val base = graft.Tables.spread(vectors)
      .select(col(idCol).cast("long").as("id"),
        asDouble(col(vecCol)).as("v"))
      .persist()
    val cents = ivfCentroids(base, "v", "id", nCentroids, iters, exactMeans)
    val assigned = base.withColumn("cid", ivfAssign(col("v"), cents))
    // residual mode = the real FAISS IVFPQ: PQ encodes v − c_cid (the
    // within-cell displacement, whose spread is much tighter than the raw
    // space, so the same byte budget quantizes finer); scoring adds the
    // per-(query, cell) offset ⟨q, c_cid⟩ back, since
    // ⟨q, v⟩ = ⟨q, c_cid⟩ + ⟨q, r⟩ exactly.
    // native CentroidDelta kernel: the zip_with/element_at HOF form
    // re-evaluated its lambda interpretively per element, and this
    // un-persisted projection is swept by every PQ codebook-fit pass
    // plus the encode — pqIters + 1 interpreted sweeps (round-16's
    // known-HOF list item; CentroidDeltaSpec pins value parity)
    val pqInput =
      if (residual)
        assigned.withColumn("pqv", org.apache.spark.sql.graft.CentroidDelta
          .delta(col("v"), col("cid"), cents))
      else assigned.withColumn("pqv", col("v"))
    val books = pqCodebooks(pqInput, "pqv", "id", dim, m, ksub, pqIters, exactMeans)
    val encoded = pqInput
      .select(col("id"), col("cid"),
        // packed codes + native ADC, as in knnPq — bit-identical scores
        org.apache.spark.sql.graft.PqCodes.pack(
          pqCodes(col("pqv"), books, dim)).as("codes"))
    val qRows = base.filter(col("id").isin(queryIds: _*)).collect()
    // per-query probe list (with the ⟨q, c_cid⟩ offset) + lookup table,
    // both tiny driver math
    val probes = qRows.flatMap { r =>
      val qid = r.getLong(0)
      val qv = r.getSeq[Double](1).toArray
      cents.zipWithIndex.map { case (c, i) =>
        var d = 0.0; var o = 0.0; var j = 0
        while (j < c.length) {
          val t = qv(j) - c(j); d += t * t; o += qv(j) * c(j); j += 1
        }
        (qid, i, d, if (residual) o else 0.0)
      }.sortBy { case (_, cid, d, _) => (d, cid) }
        .take(nProbe).map { case (q, cid, _, o) => (q, cid, o) }
    }
    val probesDf = spark.createDataFrame(probes.toIndexedSeq)
      .toDF("q_id", "cid", "off")
    val qT = qRows.map(r => (r.getLong(0), adcTable(r.getSeq[Double](1).toArray, books).toSeq))
    val qtDf = spark.createDataFrame(qT.toIndexedSeq).toDF("q_id", "t")
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("id"))
    encoded.join(broadcast(probesDf), "cid")
      .filter(col("q_id") =!= col("id"))
      .join(broadcast(qtDf), "q_id")
      .withColumn("score", round(
        col("off") + org.apache.spark.sql.graft.PqCodes.adcPacked(
          col("codes"), col("t"), books(0).length), 5) + 0.0)
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("id").as("vec_id"), col("score"), col("rk"))
  }

  /** Scalar-quantization (SQ8) fit: per-dimension (min, max) over the
    * corpus — ONE aggregation pass (2·dim agg expressions, partial+final
    * combine), the FAISS ScalarQuantizer QT_8bit train step. Null vectors
    * are excluded (ivfCentroids convention). */
  def sqParams(vectors: DataFrame, vecCol: String,
               dim: Int): (Array[Double], Array[Double]) = {
    val v = asDouble(col(vecCol))
    val aggs = (0 until dim).map(i => min(element_at(v, i + 1))) ++
      (0 until dim).map(i => max(element_at(v, i + 1)))
    val r = vectors.filter(col(vecCol).isNotNull)
      .agg(aggs.head, aggs.tail: _*).head()
    (Array.tabulate(dim)(r.getDouble), Array.tabulate(dim)(i => r.getDouble(dim + i)))
  }

  /** SQ8 encode: code_i = round((v_i − mn_i) / (mx_i − mn_i) · 255) — an
    * array<int> of dim entries in [0, 255]; pack with
    * [[org.apache.spark.sql.graft.PqCodes.pack]] for the byte-tight form
    * (dim BYTES per vector: 8× smaller than doubles at near-exact recall,
    * the FAISS SQ8 trade vs PQ's 128×-but-lossier codes). A constant
    * dimension (mx == mn) encodes 0 and dequantizes to mn exactly. The
    * arithmetic order (sub, div, mul, round) is pinned — the sim6 oracle
    * twin states the identical expression. */
  def sqCodes(vec: Column, mins: Array[Double], maxs: Array[Double]): Column = {
    val v = asDouble(vec)
    array(mins.indices.map { i =>
      val d = maxs(i) - mins(i)
      if (d == 0.0) lit(0)
      else round((element_at(v, i + 1) - lit(mins(i))) / lit(d) * lit(255), 0)
        .cast("int")
    }: _*)
  }

  /** SQ8 ANN top-k by dequantized asymmetric scoring for a small query-id
    * set: fit per-dimension (min, max), encode every vector to dim packed
    * code BYTES, and score a row without touching its original vector.
    * SQ8 is exactly PQ with dsub = 1 / ksub = 256 whose per-dimension
    * codebook is the uniform grid mn + c·Δ/255 — so scoring REUSES the
    * packed-ADC codegen kernel: per query the lookup table
    * T[i][c] = (mn_i + c·Δ_i/255) · q_i (dim·256 doubles, driver math) is
    * broadcast and score = Σ_i T[i][code_i], a lookup-sum over the raw
    * bytes. The scale shape: the scan reads dim bytes per row instead of
    * dim doubles (8× IO/memory), the query side is a broadcast, ranking is
    * TakeOrderedAndProject-class per-query heaps via the window top-k;
    * quantization error is ≤ Δ_i/510 per dimension, so recall is
    * near-exact (asserted in SqSpec). Composes with [[knnIvf]]'s coarse
    * probe the same way [[knnPq]] does. */
  def knnSq(vectors: DataFrame, vecCol: String, idCol: String,
            queryIds: Seq[Long], dim: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.graft.PqCodes
    val spark = vectors.sparkSession
    // spread: the sf-scale embeddings file is a handful of splits, and
    // every stage from the fit to the encode/score pass is CPU-bound per
    // row — without the repartition the whole ANN pass runs on ≤3 of 32
    // cores (round-12 sf10 profile); a no-op on inputs already wider
    // than the cores, and hash-safe (every query-path fit is exact /
    // order-independent)
    // persisted for the query's lifetime (see knnIvf's note)
    val base = graft.Tables.spread(vectors)
      .select(col(idCol).cast("long").as("id"),
        asDouble(col(vecCol)).as("v"))
      .persist()
    val (mins, maxs) = sqParams(base, "v", dim)
    val encoded = base.select(col("id"),
      PqCodes.pack(sqCodes(col("v"), mins, maxs)).as("sq"))
    val qRows = base.filter(col("id").isin(queryIds: _*)).collect()
    val qT = qRows.map(r =>
      (r.getLong(0), sqTable(r.getSeq[Double](1).toArray, mins, maxs).toSeq))
    val qDf = spark.createDataFrame(qT.toIndexedSeq).toDF("q_id", "t")
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("id"))
    encoded.crossJoin(broadcast(qDf))
      .filter(col("q_id") =!= col("id"))
      .withColumn("score",
        round(PqCodes.adcPacked(col("sq"), col("t"), 256), 5) + 0.0)
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("id").as("vec_id"), col("score"), col("rk"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023): k-means
    * cluster the embeddings, then mark near-duplicates WITHIN each cell
    * only — the clustering bounds the pairwise cost (Σ|cell|² instead of
    * n²), which is what makes embedding dedup tractable at corpus scale;
    * at 100 TB the operator runs with nCentroids sized so cells hold
    * ~10³ rows and the per-cell join stays a cheap shuffle on `cid`.
    * Policy: deterministic lowest-id-wins — a row is a duplicate iff some
    * LOWER-id row in its cell has rounded cosine ≥ tau with it; `dup_of`
    * = the lowest such id (st3's −1 sentinel when kept). Norms are
    * hoisted to the per-ROW side (d5's trick) so the pair join computes
    * one dot product per candidate pair. */
  def semanticDedup(vectors: DataFrame, vecCol: String, idCol: String,
                    nCentroids: Int, iters: Int, tau: Double,
                    exactMeans: Boolean = false): DataFrame = {
    // spread: the sf-scale embeddings file is a handful of splits, and
    // every stage from the fit to the encode/score pass is CPU-bound per
    // row — without the repartition the whole ANN pass runs on ≤3 of 32
    // cores (round-12 sf10 profile); a no-op on inputs already wider
    // than the cores, and hash-safe (every query-path fit is exact /
    // order-independent)
    // persisted for the query's lifetime (see knnIvf's note) — the cell
    // self-join references `assigned` twice and the keeper join a third
    // time, on top of the fit rounds
    val base = graft.Tables.spread(vectors)
      .select(col(idCol).cast("long").as("id"),
        asDouble(col(vecCol)).as("v"))
      .persist()
    val cents = ivfCentroids(base, "v", "id", nCentroids, iters, exactMeans)
    val assigned = base
      .withColumn("cid", ivfAssign(col("v"), cents).cast("long"))
      .withColumn("n", l2Norm(col("v")))
    val a = assigned.select(col("cid"), col("id").as("a_id"),
      col("v").as("a_v"), col("n").as("a_n"))
    val b = assigned.select(col("cid"), col("id").as("b_id"),
      col("v").as("b_v"), col("n").as("b_n"))
    val dupOf = a.join(b, Seq("cid"))
      .filter(col("a_id") < col("b_id"))
      .filter(round(dot(col("a_v"), col("b_v")) / (col("a_n") * col("b_n")), 5)
        >= tau)
      .groupBy(col("b_id")).agg(min(col("a_id")).as("dup_of"))
    assigned.join(dupOf, assigned("id") === dupOf("b_id"), "left")
      .select(col("id").as("vec_id"), col("cid"),
        col("dup_of").isNull.as("kept"),
        coalesce(col("dup_of"), lit(-1L)).as("dup_of"))
      .orderBy("vec_id")
  }

  /** Binary-quantization fit: the per-dimension mean threshold — ONE
    * aggregation pass (dim exact-DECIMAL(28,6) sums + a count; the sim3
    * exact-means discipline, so the fit is order-independent and
    * bit-reproducible cross-engine). The mean is the balance point that
    * splits each dimension ~50/50, the standard binarization threshold
    * (ITQ/LSH sign quantization trains a rotation first; the thresholded
    * sign is the rotation-free baseline). */
  def bqThresholds(vectors: DataFrame, vecCol: String,
                   dim: Int): Array[Double] = {
    import org.apache.spark.sql.graft.VectorSum
    // ONE whole-vector exact aggregate instead of dim separate
    // sum(element_at(..)::DECIMAL) columns: the 64-decimal-agg form boxed
    // a Decimal per (row, dimension) — 3.0 s of sim7's 4.1 s sf10 solo;
    // VectorSum's exact mode sums scaled longs BIT-IDENTICALLY to
    // DECIMAL(28,6) (same quantization, same decimal→double eval), so
    // the thresholds — and the sim7 oracle hash — are unchanged.
    // Degenerate-input note (r12 advisor): this is parity under the
    // loader invariant "vectors carry no null ELEMENTS and a uniform
    // dim" — a null element now contributes 0 where the per-dim decimal
    // sums skipped it (an all-null dimension yielded SQL NULL), and the
    // dim require below rejects ragged vectors the element_at form
    // silently padded with nulls. Neither shape exists in any embedding
    // source this library loads; the require turns the latter from a
    // silent wrong answer into a loud error.
    val r = vectors.filter(col(vecCol).isNotNull)
      .agg(VectorSum.sums(asDouble(col(vecCol)), exact = true).as("s"),
        count(lit(1)).cast("long").as("n")).head()
    val sums = r.getSeq[Double](0)
    require(sums.length == dim,
      s"bqThresholds: vector dim ${sums.length} != declared $dim")
    val n = r.getLong(1).toDouble
    // same IEEE division as the oracle's sum(::DECIMAL)::DOUBLE / count(*)
    Array.tabulate(dim)(i => sums(i) / n)
  }

  /** Binary signature: bit i set iff v_i > threshold_i (strict — ties are
    * deterministic on both engines), packed 64 dimensions per BIGINT word
    * (array of ⌈dim/64⌉ longs). THE maximal compression tier: 1 bit per
    * dimension — 64× smaller than doubles (a 64-dim vector is ONE long), a
    * billion 64-dim vectors = 8 GB of signatures. Bit 63 is the long's
    * sign bit (1L << 63 = Long.MinValue); Hamming arithmetic is
    * sign-agnostic. Native expression with the thresholds as a reference
    * object (org.apache.spark.sql.graft.BqSignature) — code size is
    * independent of dim, so fused-vector widths (405+) stay inside
    * whole-stage codegen. Bit-identical to its built-ins twin (one
    * when-branch per dimension; asserted in BinarySpec). */
  def bqSignatures(vec: Column, thresholds: Array[Double]): Column =
    org.apache.spark.sql.graft.BqSignature.pack(asDouble(vec), thresholds)

  /** Hamming distance between two packed signature arrays: per-word
    * xor + popcount, summed. Native kernel — the former
    * aggregate(zip_with(bit_count(xor))) fold ran its lambdas
    * interpretively per word per candidate row (HOFs never codegen; see
    * WordNgrams); HammingSpec pins kernel == fold incl. null chains. */
  def hammingDistance(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.HammingDistance.hamming(a, b)

  /** Binary ANN top-k for a small query-id set — the FIFTH compression
    * lever (LSH buckets / IVF cells / PQ codes / SQ8 bytes / sign BITS):
    * fit per-dimension mean thresholds, pack every vector to ⌈dim/64⌉
    * signature words, Hamming-rank a shortlist of `shortlist` candidates
    * per query (xor + popcount per row — the cheapest possible scoring),
    * then exact-cosine refine the shortlist only. The 100-TB shape: the
    * shortlist phase scans ONLY (id, sig) — 64× less IO than the vectors —
    * and the exact vectors are read for the |queries|·shortlist survivors
    * alone via an id join; both rankings break ties on id, so the whole
    * fit→pack→Hamming→refine pipeline is deterministic and differentially
    * hash-checkable (sim7). */
  def knnBinary(vectors: DataFrame, vecCol: String, idCol: String,
                queryIds: Seq[Long], dim: Int, k: Int,
                shortlist: Int): DataFrame = {
    // spread: the sf-scale embeddings file is a handful of splits, and
    // every stage from the fit to the encode/score pass is CPU-bound per
    // row — without the repartition the whole ANN pass runs on ≤3 of 32
    // cores (round-12 sf10 profile); a no-op on inputs already wider
    // than the cores, and hash-safe (every query-path fit is exact /
    // order-independent)
    // persisted for the query's lifetime (see knnIvf's note) — the single
    // final action here references `sigs` twice (shortlist + refine) and
    // `base` three times; without the cache each reference re-ran the
    // scan + spread + decode subtree inside the one job
    val base = graft.Tables.spread(vectors)
      .select(col(idCol).cast("long").as("id"),
        asDouble(col(vecCol)).as("v"))
      .persist()
    val th = bqThresholds(base, "v", dim)
    // narrow (id, sig) projection — at scale this is the serving scan
    val sigs = base.select(col("id"), bqSignatures(col("v"), th).as("sig"))
    val q = sigs.filter(col("id").isin(queryIds: _*))
      .select(col("id").as("q_id"), col("sig").as("q_sig"))
    val wH = Window.partitionBy(col("q_id")).orderBy(col("hamming"), col("id"))
    val short = sigs.crossJoin(broadcast(q))
      .filter(col("q_id") =!= col("id"))
      .withColumn("hamming", hammingDistance(col("sig"), col("q_sig")))
      .withColumn("hrk", row_number().over(wH))
      .filter(col("hrk") <= shortlist)
      .select(col("q_id"), col("id"), col("hamming"))
    // exact refine: vectors are read ONLY for the shortlist (broadcast id
    // join against the full table — shortlist is |queries|·shortlist rows)
    val qv = base.filter(col("id").isin(queryIds: _*))
      .select(col("id").as("q_id"), col("v").as("qv"))
    val wS = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("id"))
    base.join(broadcast(short), "id")
      .join(broadcast(qv), "q_id")
      .withColumn("score", round(cosine(col("qv"), col("v")), 5) + 0.0)
      .withColumn("rk", row_number().over(wS).cast("long"))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("id").as("vec_id"), col("hamming"),
        col("score"), col("rk"))
  }

  /** Matryoshka / prefix-truncated two-stage retrieval (Kusupati et al.
    * 2022, "Matryoshka Representation Learning", §4 adaptive retrieval):
    * shortlist by cosine over the FIRST `prefixDim` coordinates, then
    * exact full-dimension cosine rerank of the shortlist only.
    *
    * The 100-TB story: the prefix is the engine's cheapest compression
    * tier that needs NO fit at all (no codebook, no thresholds, no
    * centroids — a column projection). At scale the prefix ships as its
    * own narrow column (prefixDim/dim of the exhaustive pass's bytes and
    * FLOPs — 4× here), the shortlist is |queries|·shortlist rows, and the
    * full vectors are re-read only for that shortlist via a broadcast id
    * join — the same pruned-refine shape as [[knnBinary]]. Emits the
    * prefix score so the shortlist stage itself sits under the oracle
    * hash, not just the reranked survivors.
    */
  def knnMrl(vectors: DataFrame, vecCol: String, idCol: String,
             queryIds: Seq[Long], prefixDim: Int, k: Int,
             shortlist: Int): DataFrame = {
    // persisted for the query's lifetime (see knnIvf's note): the one
    // final action references base/pre four times across shortlist + refine
    val base = vectors.select(col(idCol).cast("long").as("id"),
      asDouble(col(vecCol)).as("v"))
      .persist()
    // narrow (id, prefix) projection — at scale this is the serving scan
    val pre = base.select(col("id"), slice(col("v"), 1, prefixDim).as("p"))
    val qp = pre.filter(col("id").isin(queryIds: _*))
      .select(col("id").as("q_id"), col("p").as("q_p"))
    val wP = Window.partitionBy(col("q_id")).orderBy(col("pscore").desc, col("id"))
    val short = pre.crossJoin(broadcast(qp))
      .filter(col("q_id") =!= col("id"))
      .withColumn("pscore", round(cosine(col("p"), col("q_p")), 5) + 0.0)
      .withColumn("prk", row_number().over(wP))
      .filter(col("prk") <= shortlist)
      .select(col("q_id"), col("id"), col("pscore"))
    val qv = base.filter(col("id").isin(queryIds: _*))
      .select(col("id").as("q_id"), col("v").as("qv"))
    val wS = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("id"))
    base.join(broadcast(short), "id")
      .join(broadcast(qv), "q_id")
      .withColumn("score", round(cosine(col("qv"), col("v")), 5) + 0.0)
      .withColumn("rk", row_number().over(wS).cast("long"))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("id").as("vec_id"), col("pscore"),
        col("score"), col("rk"))
  }

  /** ANN top-k via multi-table LSH: candidates = vectors sharing ANY
    * table's bucket with the query (deduplicated), then exact cosine on the
    * candidate set only. Recall vs knnBruteForce asserted in tests. */
  def knnLsh(vectors: DataFrame, queries: DataFrame, vecCol: String,
             idCol: String, qVecCol: String, qIdCol: String,
             dim: Int, nBits: Int, k: Int, nTables: Int = 8,
             seed: Long = 42L): DataFrame = {
    val vb = lshBuckets(vectors, vecCol, dim, nBits, nTables, seed)
    val qb = lshBuckets(queries, qVecCol, dim, nBits, nTables, seed)
      .withColumnRenamed("bucket", "q_bucket")
    val candidates = vb.join(broadcast(qb), col("bucket") === col("q_bucket"))
      .filter(col(qIdCol) =!= col(idCol))
      .select(col(qIdCol), col(idCol), col(qVecCol), col(vecCol))
      .dropDuplicates(qIdCol, idCol)
    val w = Window.partitionBy(col(qIdCol))
      .orderBy(col("score").desc, col(idCol))
    candidates
      .withColumn("score",
        round(cosine(asDouble(col(qVecCol)), asDouble(col(vecCol))), 5) + 0.0)
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col(qIdCol), col(idCol), col("score"), col("rk"))
  }
}
