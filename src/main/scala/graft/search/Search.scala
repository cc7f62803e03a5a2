package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/** Exact inner-product / cosine search (reference K1, `src/app.py:78`,
  * `src/eval/faiss_experiment.py:66-68`). The reference's FAISS
  * `IndexFlatIP` is a brute-force scan. Every exact score top-k in the
  * engine runs through one of two bodies that keep one contract (5-dp
  * rounded or raw score, (score desc, id asc) ties in IEEE total order,
  * null vectors never returned, k ≥ 1):
  *  - [[topK]], one query: a lazy narrow projection under a root
  *    `TakeOrderedAndProject` (per-partition heap, driver merge — no
  *    shuffle of the full table);
  *  - [[multiTopKRows]], P queries: one scan with P per-partition heaps.
  * The caller's shape selects the body. [[knn]]'s window top-k is the ANN
  * spine's (every tier, shortlist refine).
  *
  * The dot product is the native kernel `graft_dot`
  * (org.apache.spark.sql.graft.DotProduct): one primitive loop inside
  * whole-stage codegen, with a literal query bound once per task into a
  * `double[]` — its built-in higher-order-function twin lives in the test
  * sources.
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

  def asDouble(a: Column): Column = a.cast("array<double>")

  /** The 5-dp score of the exact top-k contract, IEEE −0.0 collapsed to
    * 0.0 (the two hash differently). */
  def rounded(score: Column): Column = round(score, 5) + 0.0

  /** The exact top-k of one query — K1, the hard-filter oracle and the
    * serving index's probe. The contract, shared with the batched form
    * ([[multiTopKRows]]):
    *  - `score` is taken as given: [[rounded]] for the 5-dp contract, or
    *    a raw score (the oracle's dot);
    *  - rows rank by (score desc, id asc), the score in IEEE total order
    *    (NaN above +∞ above every finite score);
    *  - a row whose `vecCol` is null is never returned;
    *  - k < 1 is [[requireTopK]]'s error.
    * Lazy; (id, score, `out`…) for the k best rows, in that order. Plan:
    * scan → filter(vector not null) → project(score) → root
    * TakeOrderedAndProject (per-partition k-heaps, driver merge, no
    * shuffle), whose projection evaluates `out` for the k answer rows
    * only. The null rule filters the vector below the projection: Catalyst
    * pushes a score filter below the projection too and computes the
    * score twice per row, and a filter above the limit leaves
    * TakeOrderedAndProject non-root, which adds a shuffle stage. */
  def topK(vectors: DataFrame, vecCol: String, idCol: String, score: Column,
           k: Int, out: Seq[Column] = Nil): DataFrame = {
    requireTopK(k, shortlist = 0)
    vectors.filter(col(vecCol).isNotNull)
      .withColumn("score", score)
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
      .select(col(idCol) +: col("score") +: out: _*)
  }

  /** K1: [[topK]] of a literal query vector by the rounded inner product
    * (reference `IndexFlatIP.search`, src/app.py:78). */
  def fusedTopK(vectors: DataFrame, vecCol: String, idCol: String,
                q: Array[Double], k: Int, out: Seq[Column] = Nil): DataFrame =
    topK(vectors, vecCol, idCol, rounded(dot(asDouble(col(vecCol)), typedLit(q))), k, out)

  /** The exact top-k of P queries in ONE scan of the vector table — the
    * batched form of [[topK]]'s contract, for the sweep oracle and
    * subject and `FuseRankEngine.searchBatch`. The reference's experiment
    * harness issues one FAISS search per sweep point
    * (src/eval/evaluate.py:182-189); on Spark that shape costs a full scan
    * JOB per point, and the ~0.1-0.3 s per-job floor dominates long before
    * the scan does. Query i's result is its top k rows among those whose
    * `eligible(i)` holds.
    *
    * `score(q)` is query q's score column, taken as given like
    * [[topK]]'s — by default [[rounded]] native codegen dot over `vecCol`
    * — so a batch returns the rows and order of P [[topK]] calls with the
    * same score (a raw −0.0 reports as 0.0; rounded scores are
    * bit-identical). A row whose `vecCol` is null is never returned.
    * Identical query vectors are deduplicated: their dot is computed once
    * per row (the sweep oracle issues P copies of the same text query
    * under P different filters).
    *
    * Scale shape: narrow projection (id, scores, mask) → per-partition
    * bounded k-heaps per query over the scan's internal rows → ≤ q·k
    * candidate rows per partition → driver merges numPartitions·q·k rows.
    * No shuffle, no per-query jobs: P searches cost one scan. Ids must be
    * integral: ties break on the ascending long id. */
  def multiTopK(vectors: DataFrame, vecCol: String, idCol: String,
                queries: Seq[Array[Double]], k: Int,
                eligible: Seq[Column] = Nil,
                score: Array[Double] => Column = null): IndexedSeq[Seq[(Long, Double)]] =
    multiTopKRows(vectors, vecCol, idCol, queries, k, Nil, eligible, score)._2
      .map(_.map(h => (h.id, h.score)))

  /** One kept row of [[multiTopKRows]]: its id, score and the values of
    * the `out` columns (null without them). */
  final case class Hit(id: Long, score: Double, out: InternalRow)

  /** The batched exact top-k body ([[multiTopK]] is its id-and-score
    * view): the hits also carry the values of the `out` columns (the
    * answer rows themselves), so a batch needs no gather back to its
    * source — the scan reads them, and a row's values are copied only
    * when it enters a heap. Returns the `out` columns' schema and, per
    * query, its hits in (score desc, id asc) order. */
  def multiTopKRows(vectors: DataFrame, vecCol: String, idCol: String,
                    queries: Seq[Array[Double]], k: Int, out: Seq[Column],
                    eligible: Seq[Column] = Nil,
                    score: Array[Double] => Column = null)
      : (StructType, IndexedSeq[Seq[Hit]]) = {
    requireTopK(k, shortlist = 0)
    require(eligible.isEmpty || eligible.size == queries.size,
      s"eligible size ${eligible.size} != queries size ${queries.size}")
    // the tie-break is by LONG id: a non-integral id would cast to null
    // or reorder ties vs the single form's orderBy — refuse loudly
    // instead
    val idType = vectors.schema(idCol).dataType
    require(idType == LongType || idType == IntegerType ||
      idType == ShortType || idType == ByteType,
      s"multiTopK needs an integral id column; '$idCol' is $idType")
    val nq = queries.size
    if (nq == 0) return (vectors.select(out: _*).schema, IndexedSeq.empty)
    // one score column per DISTINCT query vector
    val distinctQ = scala.collection.mutable.LinkedHashMap.empty[Seq[Double], Int]
    val qIdx: Array[Int] = queries.map(q =>
      distinctQ.getOrElseUpdate(q.toSeq, distinctQ.size)).toArray
    val scoreOf: Array[Double] => Column =
      if (score != null) score else q => rounded(dot(asDouble(col(vecCol)), typedLit(q)))
    val scoreCols = distinctQ.keysIterator.map(q => coalesce(scoreOf(q.toArray), lit(0.0)))
      .toIndexedSeq
    // a null vector nulls every score — fold that into the mask so every
    // score element is non-null. With no eligibility predicates every
    // element would be the identical null-check: evaluate it ONCE per
    // row, not nq times
    val sharedMask = eligible.isEmpty
    val present = col(vecCol).isNotNull
    val maskElems =
      if (sharedMask) IndexedSeq(present)
      else (0 until nq).map { i =>
        coalesce(eligible(i).cast("boolean"), lit(false)) && present
      }
    val rows = vectors.select(Seq(col(idCol).cast("long"), array(scoreCols: _*),
      array(maskElems: _*)) ++ (if (out.isEmpty) Nil else Seq(struct(out: _*))): _*)
    val outType = if (out.isEmpty) new StructType()
      else rows.schema(3).dataType.asInstanceOf[StructType]
    val nOut = outType.length
    val qIdxB = qIdx; val kB = k; val nqB = nq; val sharedB = sharedMask
    val idName = idCol
    // All score comparisons use java.lang.Double.compare — the IEEE total
    // order Spark's `desc` sort applies — so a non-finite score (NaN dot
    // from a NaN/∞ vector element) ranks exactly like the single form's
    // desc sort: NaN above +∞ above every finite score. Naive `>`/`==`
    // would silently never admit NaN once the heap fills.
    // PriorityQueue dequeues its MAX; order so the max is the WORST kept
    // entry (lowest score in total order, then highest id)
    val byWorst: Ordering[Hit] = new Ordering[Hit] {
      def compare(a: Hit, b: Hit): Int = {
        val c = java.lang.Double.compare(b.score, a.score)
        if (c != 0) c else java.lang.Long.compare(a.id, b.id)
      }
    }
    // one SQL execution, as a Dataset action would be: its jobs and scan
    // metrics are reported against the plan
    val qe = rows.queryExecution
    val candidates = SQLExecution.withNewExecutionId(qe, Some("multiTopK"))(qe.toRdd.mapPartitions { it =>
      val heaps = Array.fill(nqB)(scala.collection.mutable.PriorityQueue.empty[Hit](byWorst))
      // the scan reuses its row: copy the out values of a row a heap keeps
      def hit(row: InternalRow, id: Long, s: Double) =
        Hit(id, s, if (nOut == 0) null else row.getStruct(3, nOut).copy())
      it.foreach { row =>
        if (row.isNullAt(0)) throw new IllegalArgumentException(s"multiTopK: null id in '$idName'")
        val id = row.getLong(0)
        val scores = row.getArray(1)
        val mask = row.getArray(2)
        var i = 0
        while (i < nqB) {
          if (mask.getBoolean(if (sharedB) 0 else i)) {
            val s = scores.getDouble(qIdxB(i)) + 0.0 // −0.0 → 0.0: the single form's sort ties them
            val h = heaps(i)
            if (h.size < kB) h.enqueue(hit(row, id, s))
            else {
              val w = h.head
              val c = java.lang.Double.compare(s, w.score)
              if (c > 0 || (c == 0 && id < w.id)) {
                h.dequeue(); h.enqueue(hit(row, id, s))
              }
            }
          }
          i += 1
        }
      }
      heaps.iterator.zipWithIndex.flatMap { case (h, i) => h.iterator.map(i -> _) }
    }.collect())
    val grouped = candidates.groupBy(_._1)
    (outType, (0 until nq).map { i =>
      grouped.getOrElse(i, Array.empty[(Int, Hit)]).map(_._2)
        .sortWith { (a, b) =>
          val c = java.lang.Double.compare(b.score, a.score) // desc, NaN first
          c < 0 || (c == 0 && a.id < b.id)
        }
        .take(k).toSeq
    })
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

  /** IVF coarse quantizer: the [[pqCodebooks]] k-means with one
    * subspace (m = 1, ksub = `nCentroids`), its dim taken from the init
    * rows. Fewer non-null rows than `nCentroids` fit that many cells. */
  def ivfCentroids(vectors: DataFrame, vecCol: String, idCol: String,
                   nCentroids: Int, iters: Int,
                   exactMeans: Boolean = false): Array[Array[Double]] =
    lloyd(vectors, vecCol, idCol, None, 1, nCentroids, iters, exactMeans).head

  /** Nearest-centroid id by squared L2 distance (|v|² − 2v·c + |c|²),
    * centroid-id tiebreak. Native expression with the centroid matrix as a
    * reference object (org.apache.spark.sql.graft.IvfAssign) — code size is
    * independent of nCentroids, so IVF-realistic centroid counts (10⁴–10⁵)
    * stay inside whole-stage codegen. Bit-identical to its built-ins twin
    * (array_min over literal centroid structs; asserted in IvfSpec). */
  def ivfAssign(vec: Column, cents: Array[Array[Double]]): Column =
    org.apache.spark.sql.graft.IvfAssign.assign(vec, cents)

  /** The `n` cells nearest `q`, by [[ivfAssign]]'s arithmetic
    * (|q|² − 2·q·c + |c|², each dot accumulated left to right) and tie
    * rule (equal distances keep the lower cell id) — so a query's first
    * cell is the one its own row was assigned to. The one probe order of
    * the [[knn]] spine's coarse stage and the serving index. */
  def nearestCells(q: Array[Double], cents: Array[Array[Double]], n: Int): Seq[Int] = {
    val qq = ip(q, q)
    cents.indices.map(i => (qq - 2.0 * ip(q, cents(i)) + ip(cents(i), cents(i)), i))
      .sorted.take(n).map(_._2)
  }

  /** Driver-side inner product, accumulated left to right (DotProduct's
    * order). */
  private[search] def ip(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var j = 0
    while (j < a.length) { s += a(j) * b(j); j += 1 }
    s
  }

  /** The one (id, v) prelude of every ANN pass — the [[knn]] spine,
    * [[semanticDedup]] and the serving index's write: null vectors
    * dropped, ids cast to long, `extra` columns carried, persisted because
    * the fit rounds, the query-row collect and the score or write pass all
    * read it. The knn spine's caller releases it with clearCache (the
    * d3/d7 lifecycle of Bench.runOne and Verify).
    *
    * The query paths pass `Tables.spread(vectors)`: the sf-scale
    * embeddings file is a handful of splits, and every stage from the fit
    * to the score pass is CPU-bound per row — without the repartition the
    * whole pass runs on ≤3 of 32 cores (round-12 sf10 profile).
    * Value-identical where it is claimed: the oracle-hashed fits use
    * exact DECIMAL means, which are partitioning-independent; the default
    * native-double means can move by summation-order fp-noise (see
    * [[pqCodebooks]]). The write keeps its input's partitioning, since
    * the parquet writer emits one file per (task, cell). */
  private[graft] def vectorRows(vectors: DataFrame, vecCol: String, idCol: String,
                                extra: Seq[String] = Nil): DataFrame =
    vectors.filter(col(vecCol).isNotNull)
      .select(Seq(col(idCol).cast("long").as("id"),
        asDouble(col(vecCol)).as("v")) ++ extra.map(col): _*)
      .persist()

  /** The top-k argument contract shared by [[knn]] and the serving
    * probes: a silent short or empty answer is a named error instead. */
  private[graft] def requireTopK(k: Int, shortlist: Int): Unit = {
    require(k >= 1, s"k must be positive: $k")
    require(shortlist == 0 || shortlist >= k, s"shortlist $shortlist smaller than k=$k")
  }

  /** The IVF coarse stage of [[knn]]: fit `nCentroids` cells by
    * [[ivfCentroids]] and score only the rows of each query's `nProbe`
    * [[nearestCells]]. `residual` is the FAISS IVFPQ encoding: the tier
    * fits and encodes v − c_cid (the within-cell displacement, whose
    * spread is far tighter, so the same code budget quantizes finer) and
    * the score adds ⟨q, c_cid⟩ back, since ⟨q, v⟩ = ⟨q, c_cid⟩ + ⟨q, r⟩. */
  final case class Coarse(nCentroids: Int, iters: Int, nProbe: Int,
                          exactMeans: Boolean = false, residual: Boolean = false) {
    require(nProbe >= 1, s"nProbe must be positive: $nProbe")
  }

  /** In-memory ANN top-k for a small query-id set — the one spine behind
    * the flat/IVF, PQ, IVF-PQ, SQ8, binary and Matryoshka queries
    * (sim3–sim9):
    *  1. one spread, persisted (id, v) base ([[vectorRows]]) and one
    *     collect of the query rows;
    *  2. optionally the coarse stage: the rows of each query's probed
    *     cells, reached by a broadcast join on the cell id — never a full
    *     scan per query;
    *  3. the tier's [[Quantizer.score]] against its broadcast per-query
    *     side, so a compressed tier reads its codes, never the vectors;
    *  4. a window top-k on (score desc, id asc), the query's own row
    *     excluded;
    *  5. with `shortlist > 0`, the exact-cosine refine of the shortlist
    *     only: the vectors are re-read for |queries|·shortlist rows by a
    *     broadcast id join, and the output carries the tier's first-pass
    *     score ([[Quantizer.firstPass]]) beside the exact one.
    * Output: (q_id, vec_id[, first-pass score], score, rk). A query id
    * absent from the table is an error, not a silently missing query. */
  def knn(vectors: DataFrame, vecCol: String, idCol: String,
          queryIds: Seq[Long], k: Int, fit: Quantizer.Fit,
          coarse: Option[Coarse] = None, shortlist: Int = 0): DataFrame = {
    requireTopK(k, shortlist)
    require(queryIds.nonEmpty, "queryIds must be non-empty")
    val spark = vectors.sparkSession
    import spark.implicits._
    val base = vectorRows(graft.Tables.spread(vectors), vecCol, idCol)
    // fitted first, so a table without a non-null vector is the fit's
    // named error rather than an absent query id
    val cents = coarse.map(c => ivfCentroids(base, "v", "id", c.nCentroids, c.iters, c.exactMeans))
    val qs = base.filter(col("id").isin(queryIds: _*))
      .as[(Long, Array[Double])].collect().toSeq
    val absent = queryIds.distinct.filterNot(qs.map(_._1).toSet)
    require(absent.isEmpty, s"queryIds absent from the table: ${absent.mkString(", ")}")
    val residual = coarse.exists(_.residual)
    val assigned = cents.fold(base)(cs => base.withColumn("cid", ivfAssign(col("v"), cs)))
    // native CentroidDelta kernel: one compiled loop per row, swept by
    // every codebook-fit round and the encode
    val coded = if (!residual) assigned else assigned.withColumn("v",
      org.apache.spark.sql.graft.CentroidDelta.delta(col("v"), col("cid"), cents.get))
    val tier = fit(if (residual) coded else base, qs.head._2.length)
    val sides = broadcast(tier.sides(spark, qs))
    val scan = cents.fold(tier.encode(coded).crossJoin(sides)) { cs =>
      val probes = qs.flatMap { case (id, q) =>
        nearestCells(q, cs, coarse.get.nProbe)
          .map(cid => (id, cid, if (residual) ip(q, cs(cid)) else 0.0))
      }
      tier.encode(coded).join(broadcast(probes.toDF("q_id", "cid", "off")), "cid")
        .join(sides, "q_id")
    }
    val score = if (residual) col("off") + tier.score(col("qs")) else tier.score(col("qs"))
    val byScore = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("id"))
    def top(df: DataFrame, s: Column, n: Int): DataFrame =
      df.withColumn("score", rounded(s))
        .withColumn("rk", row_number().over(byScore).cast("long"))
        .filter(col("rk") <= n)
    val first = top(scan.filter(col("q_id") =!= col("id")), score,
      if (shortlist == 0) k else shortlist)
    if (shortlist == 0)
      first.select(col("q_id"), col("id").as("vec_id"), col("score"), col("rk"))
    else {
      val short = first.select(col("q_id"), col("id"), tier.firstPass(col("score")))
      val refined = Quantizer.Flat.encode(base.join(broadcast(short), "id")
        .join(broadcast(Quantizer.Flat.sides(spark, qs)), "q_id"))
      top(refined, Quantizer.Flat.score(col("qs")), k)
        .select(col("q_id"), col("id").as("vec_id"), col(short.columns.last),
          col("score"), col("rk"))
    }
  }

  /** Product-quantization codebooks: the vector space split into `m`
    * contiguous subspaces of dim/m dimensions, a `ksub`-cell k-means fit
    * per subspace. PQ is THE 100-TB ANN memory lever: an encoded vector is
    * `m` small codes (m bytes at ksub ≤ 256) instead of dim·8 bytes — a
    * 64-dim double vector compresses 128× at m=4 — which is what lets a
    * billion-vector index live in executor memory while the exact vectors
    * stay on disk for reranking.
    *
    * The fit is Lloyd's k-means, deterministic by construction: init =
    * the first `ksub` non-null vectors by id; assignment ties break on
    * the lowest cell id; empty cells keep their previous centroid. Each
    * round is ONE [[org.apache.spark.sql.graft.PqFit]] aggregate job over
    * all m subspaces; only m·ksub·dsub sums reach the driver.
    * `exactMeans = true` sums in exact DECIMAL(28,6) arithmetic —
    * order-independent, so the fit is bit-reproducible across engines and
    * partitionings (the mode the sim3–sim5, sim8 and d9 oracle twins
    * replicate). The default `false` sums native doubles: the centroid
    * drift from summation order is fp-noise that does not move ANN
    * quality. No non-null vector is a named error. */
  def pqCodebooks(vectors: DataFrame, vecCol: String, idCol: String,
                  dim: Int, m: Int, ksub: Int, iters: Int,
                  exactMeans: Boolean = false): Array[Array[Array[Double]]] = {
    require(m > 0 && dim % m == 0, s"dim $dim not divisible into $m subspaces")
    lloyd(vectors, vecCol, idCol, Some(dim), m, ksub, iters, exactMeans)
  }

  /** The one Lloyd k-means body behind [[pqCodebooks]] and
    * [[ivfCentroids]]; `dim` None takes it from the init rows. */
  private def lloyd(vectors: DataFrame, vecCol: String, idCol: String,
                    dim: Option[Int], m: Int, ksub: Int, iters: Int,
                    exactMeans: Boolean): Array[Array[Array[Double]]] = {
    import org.apache.spark.sql.graft.PqFit
    // persisted across the rounds, each a pass over the SAME rows (sim8
    // hands in an uncached CentroidDelta frame); the fit is eager, so the
    // blocks are released before the caller encodes. An already-cached
    // input (vectorRows) is computed through: a second cache layer would
    // double the memory for zero saved work
    val inputCached =
      vectors.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val base0 = vectors.filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), asDouble(col(vecCol)).as("v"))
    val base = if (inputCached) base0 else base0.persist()
    try {
      val head = base.orderBy("id").limit(ksub).collect()
        .map(_.getSeq[Double](1).toArray)
      // fewer rows than ksub initializes that many cells
      val kEff = head.length
      require(kEff > 0, "pqCodebooks: no non-null vectors to fit")
      val dsub = dim.getOrElse(head(0).length) / m
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
              // the IEEE division of the oracle's sum / count
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
    // the cell self-join references `assigned` twice and the keeper join
    // a third time, on top of the fit rounds
    val base = vectorRows(graft.Tables.spread(vectors), vecCol, idCol)
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

  /** ANN top-k via multi-table LSH: candidates = vectors sharing ANY
    * table's bucket with the query (deduplicated), then exact cosine on the
    * candidate set only. Recall vs the exact top-k asserted in tests. */
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
        rounded(cosine(asDouble(col(qVecCol)), asDouble(col(vecCol)))))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col(qIdCol), col(idCol), col("score"), col("rk"))
  }
}
