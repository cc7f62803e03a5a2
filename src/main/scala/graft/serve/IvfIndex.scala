package graft.serve

import graft.search.{Quantizer, Search}
import graft.search.Quantizer.{Bq, Flat, Mrl, Pq, Sq}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.json4s._

/** IVF-partitioned serving index (VERDICT r8 ask #8): the 100-TB serving
  * story for ANN retrieval. At cluster scale the index lives on disk
  * PARTITIONED BY the coarse cell so a probed query only READS
  * nProbe/nCentroids of the files — Spark's partition pruning
  * (directory-level, before any IO) is then the file-skipping an IVF
  * serving system does with its inverted lists.
  *
  * Layout: one parquet dataset partitioned by `cid` (id, v, vn per row —
  * norms precomputed at build time so serving never recomputes them),
  * with the fitted centroids in a `_centroids.json` sidecar (underscore
  * prefix: invisible to Spark's file listing) so a serving session opens
  * the index without refitting or rescanning. A compressed tier (a
  * [[Quantizer]], the same one the in-memory [[Search.knn]] spine uses)
  * adds its code columns beside (id, v, vn) and its fit in one more
  * sidecar; the exact vectors stay, so every tier can refine a shortlist.
  *
  * Serving is ONE spine for every tier: [[probedTopK]] (one query, a lazy
  * DataFrame) and [[probedTopKBatch]] (P queries, one pruned scan per
  * stage). Both read the probed cells only, score with the tier's
  * [[Quantizer.score]] against the query's side as a literal, keep
  * (score desc, id asc), and optionally re-score a `shortlist` of
  * survivors with the exact cosine — so single and batched answers are
  * bit-identical by construction.
  */
object IvfIndex {

  /** What serving adds to a [[Quantizer]]: the columns its scan reads (the
    * first is the one a null disqualifies a row on; directory pruning via
    * `cid IN (probes)` composes with column pruning of everything else)
    * and its sidecar. */
  private def scanCols(t: Quantizer): Seq[String] =
    if (t == Flat) Seq("v", "vn") else t.columns.map(_._1)

  private def sidecar(t: Quantizer): Option[(String, String)] = t match {
    case Flat => None
    case Pq(books) => Some("_pq.json" -> s"""{"dim": ${books.length * books(0)(0).length}, "books": ${
      books.map(matrixJson).mkString("[", ",", "]")}}""")
    case Sq(mins, maxs) => Some("_sq.json" -> s"""{"dim": ${mins.length}, "mins": ${
      mins.mkString("[", ",", "]")}, "maxs": ${maxs.mkString("[", ",", "]")}}""")
    case Bq(th) => Some("_bq.json" ->
      s"""{"dim": ${th.length}, "thresholds": ${th.mkString("[", ",", "]")}}""")
    case Mrl(prefixDim) => Some("_mrl.json" -> s"""{"prefixDim": $prefixDim}""")
  }

  /** An open index. `schema` is the dataset's read schema, recorded at
    * [[write]]/[[open]] so a probe lists files but never re-infers it. */
  final case class Handle(path: String, centroids: Array[Array[Double]],
                          tier: Quantizer, schema: StructType) {
    def dim: Int = centroids.head.length
  }

  /** Fit nCentroids (and the tier) on the vectors, assign every row, write
    * partitioned by cell. The write shuffles nothing: assignment and the
    * tier's codes are narrow projections and the parquet writer splits
    * files by partition value. Sidecars ride the SAME filesystem as the
    * parquet dataset (Hadoop FileSystem resolved from the path + session
    * Hadoop conf) — java.nio would silently write a driver-local file when
    * `path` is hdfs://, s3a:// etc., separating index and centroids on the
    * very deployments the layout exists for. */
  def write(vectors: DataFrame, vecCol: String, idCol: String, path: String,
            nCentroids: Int, iters: Int, metaCols: Seq[String] = Nil,
            tier: Quantizer.Fit = Quantizer.flat): Handle = {
    val spark = vectors.sparkSession
    def requireFree(reserved: Iterable[String]): Unit = {
      val hit = metaCols.toSet.intersect(reserved.toSet)
      require(hit.isEmpty, s"metaCols ${hit.mkString(", ")} collide with the index " +
        "layout's reserved columns — rename them before indexing")
    }
    requireFree(Seq("id", "v", "vn", "cid"))
    val base = Search.vectorRows(vectors, vecCol, idCol, metaCols)
    try {
      val cents = Search.ivfCentroids(base, "v", "id", nCentroids, iters)
      val t = tier(base, cents.head.length)
      requireFree(t.columns.map(_._1))
      t.encode(Flat.encode(base)).withColumn("cid", Search.ivfAssign(col("v"), cents))
        .write.mode("overwrite").partitionBy("cid").parquet(path)
      writeSidecar(spark, path, "_centroids.json", matrixJson(cents))
      sidecar(t).foreach { case (name, json) => writeSidecar(spark, path, name, json) }
      Handle(path, cents, t, spark.read.parquet(path).schema)
    } finally { base.unpersist(blocking = false); () }
  }

  /** Crash-safe cell swap used by [[delete]] and [[compact]]: the freshly
    * written `tmp` replaces the live `dir` with NO window where the cell's
    * only copy sits in a hidden dot-directory that Spark reads skip.
    * Ordering: move the live dir aside (`cid=N` → `.old-cid=N`), rename
    * the tmp in, then delete the old copy; if the rename-in fails the old
    * copy is restored so the index keeps serving its pre-swap state. A
    * crash at any point leaves a recoverable copy — [[recover]] (run by
    * [[open]] and at the start of every maintenance call) sweeps the
    * leftovers.
    *
    * Atomicity caveat (single maintenance writer assumed): HDFS/posix
    * `rename` is atomic; on object stores (s3a) rename is copy+delete, so
    * the swap is crash-SAFE (no state becomes unrecoverable) but not
    * crash-ATOMIC — a reader racing a mid-copy crash can see a partial
    * cell until [[recover]] runs. Reopen (or call [[recover]]) after any
    * maintenance crash before serving. */
  private def swapCell(fs: org.apache.hadoop.fs.FileSystem,
                       root: org.apache.hadoop.fs.Path,
                       dir: org.apache.hadoop.fs.Path,
                       tmp: org.apache.hadoop.fs.Path): Unit = {
    val old = new org.apache.hadoop.fs.Path(root, s".old-${dir.getName}")
    if (fs.exists(old)) fs.delete(old, true) // stale leftover, already superseded
    if (!fs.rename(dir, old))
      throw new java.io.IOException(s"move-aside $dir -> $old failed")
    if (!fs.rename(tmp, dir)) {
      fs.rename(old, dir) // restore the live copy before failing
      throw new java.io.IOException(s"rename $tmp -> $dir failed; live cell restored")
    }
    fs.delete(old, true)
  }

  /** Sweep the leftovers of a maintenance crash (see [[swapCell]]):
    * `.old-cid=N` with a live `cid=N` → the swap committed, drop the old
    * copy; `.old-cid=N` without one → the swap never committed, restore
    * it; a bare `.tmp-cid=N` → uncommitted write, drop it. Idempotent and
    * free on a clean index (one directory listing). Returns the swept
    * entry names. */
  def recover(spark: SparkSession, path: String): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return Nil
    val entries = fs.listStatus(root).toSeq.map(_.getPath)
    val swept = scala.collection.mutable.ArrayBuffer.empty[String]
    entries.filter(_.getName.startsWith(".old-cid=")).foreach { old =>
      val live = new org.apache.hadoop.fs.Path(root, old.getName.stripPrefix(".old-"))
      if (fs.exists(live)) fs.delete(old, true)
      else if (!fs.rename(old, live))
        throw new java.io.IOException(s"recovery rename $old -> $live failed")
      swept += old.getName
    }
    entries.filter(_.getName.startsWith(".tmp-cid=")).foreach { tmp =>
      fs.delete(tmp, true)
      swept += tmp.getName
    }
    swept.toSeq
  }

  /** Each tier sidecar and its strict parser; `dim` is the centroids'. */
  private val tierSidecars: Seq[(String, (JValue, Int) => Quantizer)] = Seq(
    "_pq.json" -> { (j, dim) =>
      val books = items(j \ "books").map(b => items(b).map(doubles).toArray).toArray
      requireDim(j, dim, books.length * books(0)(0).length)
      Pq(books)
    },
    "_sq.json" -> { (j, dim) =>
      val t = Sq(doubles(j \ "mins"), doubles(j \ "maxs"))
      requireDim(j, dim, t.mins.length, t.maxs.length)
      t
    },
    "_bq.json" -> { (j, dim) =>
      val t = Bq(doubles(j \ "thresholds"))
      requireDim(j, dim, t.thresholds.length)
      t
    },
    "_mrl.json" -> { (j, _) =>
      j \ "prefixDim" match {
        case JInt(p) => Mrl(p.toInt)
        case x => throw new IllegalArgumentException(s"bad prefixDim $x")
      }
    })

  /** Reopen a written index from its sidecars — no refit, no data scan
    * (one footer read records the schema). The tier is the one whose
    * sidecar is present (none → [[Flat]]; several → an error). Sweeps any
    * maintenance-crash leftovers first ([[recover]]). */
  def open(spark: SparkSession, path: String): Handle = {
    recover(spark, path)
    val cents = items(parseSidecar(spark, path, "_centroids.json"))
      .map(doubles).toArray
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val tier = tierSidecars.filter { case (name, _) =>
      fs.exists(new org.apache.hadoop.fs.Path(root, name))
    } match {
      case Seq() => Flat
      case Seq((name, parse)) => parse(parseSidecar(spark, path, name), cents.head.length)
      case several => throw new IllegalStateException(
        s"$path holds several tier sidecars: ${several.map(_._1).mkString(", ")}")
    }
    Handle(path, cents, tier, spark.read.parquet(path).schema)
  }

  /** The nProbe nearest cells to `q` ([[Search.nearestCells]]: the
    * assignment's ordering, so the first is the cell `q`'s own row lives
    * in). */
  def probeCells(h: Handle, q: Array[Double], nProbe: Int): Seq[Int] =
    Search.nearestCells(q, h.centroids, nProbe)

  /** The pruned dataset a probe set reads: `cid IN (cells)` is a partition
    * filter, so non-probed directories are skipped before any IO. Read
    * with the handle's recorded schema — the file listing still runs on
    * every call (appends stay visible), schema inference never does.
    * Shared by the single and batched paths; exposed so specs can pin the
    * scan's numFiles metric on the exact DataFrame the serving paths
    * score. */
  def prunedScan(spark: SparkSession, h: Handle, cells: Seq[Int]): DataFrame =
    spark.read.schema(h.schema).parquet(h.path)
      .filter(col("cid").isin(cells.map(Integer.valueOf): _*))

  /** The argument contract of both probe paths, checked before any work:
    * a silent empty answer (k or nProbe below 1) or a query of the wrong
    * dimension (cells picked from a prefix, a truncated dot) is a named
    * IllegalArgumentException instead. */
  private def validate(h: Handle, queries: Seq[Array[Double]], nProbe: Int,
                       k: Int, shortlist: Int): Unit = {
    Search.requireTopK(k, shortlist)
    require(nProbe >= 1, s"nProbe must be positive: $nProbe")
    queries.foreach(q => require(q.length == h.dim,
      s"query dimension ${q.length} != index dimension ${h.dim}"))
  }

  /** Probed top-k of one query, as a lazy (vec_id, score) DataFrame: the
    * `cid IN (probes)` partition filter prunes the non-probed directories
    * before a byte is read (IvfServeSpec pins numFiles), the scan projects
    * only the tier's [[scanCols]] (the compressed tiers never read
    * `v`/`vn`), and [[Search.topK]] ranks by the tier's rounded score with
    * ascending-id ties.
    *
    * `pred` is the "metadata filter + ANN" query vector databases
    * special-case: metadata columns ride the index ([[write]]'s
    * `metaCols`), the predicate lands in the probed scan's PushedFilters
    * (row-group skipping inside the already-pruned directories) and is
    * evaluated BEFORE scoring, so a selective predicate can never starve k
    * the way a post-filter over an unfiltered shortlist does.
    *
    * `shortlist > 0` is the FAISS "refine" recipe: the tier's scan picks
    * `shortlist` candidates (one collect), then ONE id-pruned read of the
    * exact vectors over the same probed directories re-scores just those
    * rows with the true cosine — bounded by the shortlist, not the data. */
  def probedTopK(spark: SparkSession, h: Handle, q: Array[Double],
                 nProbe: Int, k: Int, shortlist: Int = 0,
                 pred: Option[Column] = None): DataFrame = {
    validate(h, Seq(q), nProbe, k, shortlist)
    val cells = probeCells(h, q, nProbe)
    val scan = pred.foldLeft(prunedScan(spark, h, cells))(_.filter(_))
      .select(("id" +: scanCols(h.tier)).map(col): _*)
    def ranked(rows: DataFrame, tier: Quantizer, n: Int) =
      Search.topK(rows, scanCols(tier).head, "id", Search.rounded(tier.score(tier.sideLit(q))), n)
        .select(col("id").as("vec_id"), col("score"))
    if (shortlist == 0) ranked(scan, h.tier, k)
    else {
      val ids = ranked(scan, h.tier, shortlist).collect()
        .map(r => java.lang.Long.valueOf(r.getLong(0)))
      ranked(prunedScan(spark, h, cells).filter(col("id").isin(ids: _*)), Flat, k)
    }
  }

  /** Batched probed top-k (VERDICT r9 ask #3): P queries answered by one
    * pruned scan per stage instead of P jobs (the per-job floor dominates
    * at serving latencies). The probed cells are UNIONED across the batch,
    * the non-probed directories pruned once, and all P queries scored in
    * that scan via [[Search.multiTopK]]'s per-partition k-heaps.
    *
    * Bit-identical to P sequential [[probedTopK]] calls with the same
    * arguments (spec-asserted for every tier): the same [[Quantizer.score]],
    * the same 5-dp round / −0.0 collapse and (score desc, id asc)
    * tie-break, and each query's `eligible` mask restricts it to ITS OWN
    * probed cells and `preds(i)` — a row read only because some other
    * query probed its cell can never leak into this query's top-k. The
    * refine stage reads the UNION of shortlists once, masked per query to
    * its own shortlist.
    *
    * Scale shape: IO = union of probed directories (≤ min(P·nProbe,
    * nCentroids) cells — hot cells dedupe), compute = one pass with P
    * bounded heaps, driver merge of ≤ partitions·P·k rows. */
  def probedTopKBatch(spark: SparkSession, h: Handle,
                      queries: Seq[Array[Double]], nProbe: Int, k: Int,
                      shortlist: Int = 0, preds: Seq[Column] = Nil)
      : IndexedSeq[Seq[(Long, Double)]] = {
    require(preds.isEmpty || preds.size == queries.size,
      s"preds size ${preds.size} != queries size ${queries.size}")
    validate(h, queries, nProbe, k, shortlist)
    if (queries.isEmpty) return IndexedSeq.empty
    val cellsPer = queries.map(q => probeCells(h, q, nProbe))
    val inCells = cellsPer.map(cs => col("cid").isin(cs.map(Integer.valueOf): _*))
    val union = cellsPer.flatten.distinct.sorted
    def scored(scan: DataFrame, tier: Quantizer, n: Int, eligible: Seq[Column]) =
      Search.multiTopK(scan, scanCols(tier).head, "id", queries, n,
        eligible = eligible, score = q => Search.rounded(tier.score(tier.sideLit(q))))
    val first = scored(prunedScan(spark, h, union), h.tier,
      if (shortlist == 0) k else shortlist,
      if (preds.isEmpty) inCells else inCells.zip(preds).map { case (c, p) => c && p })
    if (shortlist == 0) first
    else {
      val idsPer = first.map(_.map(t => java.lang.Long.valueOf(t._1)))
      scored(
        prunedScan(spark, h, union).filter(col("id").isin(idsPer.flatten.distinct: _*)),
        Flat, k, inCells.zip(idsPer).map { case (c, ids) => c && col("id").isin(ids: _*) })
    }
  }

  /** STREAMING index maintenance: append an arriving vector stream into
    * the same cid-partitioned layout — the narrow assignment projection
    * against the FIXED centroids (no refit; the standard IVF maintenance
    * contract — refit offline when centroid drift matters, atomically
    * swapping the directory). Uses foreachBatch + the BATCH parquet
    * writer on purpose: the file-sink's `_spark_metadata` log would make
    * subsequent batch reads see ONLY sink-written files, silently hiding
    * the base index — the classic mixed-writer trap. The trade is
    * at-least-once on batch replay (serving tolerates a duplicate id: it
    * scores identically and the id tie-break dedupes at top-k grain).
    * New files land in existing or new cid= directories, so partition
    * pruning covers streamed rows with zero extra machinery. */
  def appendStream(stream: DataFrame, vecCol: String, idCol: String,
                   h: Handle, checkpoint: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val assigned = stream.filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("id"),
        Search.asDouble(col(vecCol)).as("v"))
      .withColumn("vn", Search.l2Norm(col("v")))
      .withColumn("cid", Search.ivfAssign(col("v"), h.centroids))
    assigned.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").partitionBy("cid").parquet(h.path)
      }
  }

  /** Serving-index DELETE — the other half of the maintenance contract
    * next to [[appendStream]]: remove rows by id, rewriting ONLY the cell
    * directories that contain them. The doomed ids' cells are found with
    * one pruned-by-nothing (id, cid) projection — at scale an id→cid map
    * usually rides in the caller's metadata, so `cids` can be passed to
    * skip even that scan — then each affected cid= directory is read,
    * filtered, and swapped in crash-safe order ([[swapCell]]: move live
    * aside, rename tmp in, drop the old copy — the live cell is never the
    * only copy of the data). Untouched directories' files are never
    * opened: delete IO is proportional to the affected cells, not the
    * index. Returns the number of affected cells. */
  def delete(spark: SparkSession, h: Handle, ids: Seq[Long],
             cids: Option[Seq[Int]] = None): Int = {
    if (ids.isEmpty) return 0
    recover(spark, h.path)
    val idSet = ids.map(java.lang.Long.valueOf)
    val affected: Seq[Int] = cids.getOrElse {
      spark.read.parquet(h.path)
        .filter(col("id").isin(idSet: _*))
        .select("cid").distinct().collect().map(_.getInt(0)).toSeq
    }.sorted
    val conf = spark.sessionState.newHadoopConf()
    affected.foreach { cid =>
      val dir = new org.apache.hadoop.fs.Path(h.path, s"cid=$cid")
      val fs = dir.getFileSystem(conf)
      if (fs.exists(dir)) {
        val tmp = new org.apache.hadoop.fs.Path(h.path, s".tmp-cid=$cid")
        // read the single cell, drop the doomed rows, rewrite; the `cid`
        // partition column is directory-encoded, so the survivors keep
        // their (id, v, vn, ...) schema and land back under cid=<cid>
        val survivors = spark.read.parquet(dir.toString)
          .filter(!col("id").isin(idSet: _*))
        survivors.write.mode("overwrite").parquet(tmp.toString)
        swapCell(fs, new org.apache.hadoop.fs.Path(h.path), dir, tmp)
      }
    }
    affected.size
  }

  /** Serving-index COMPACTION — closes the maintenance triangle
    * (append / delete / compact): [[appendStream]] lands one small file
    * per (micro-batch × cell), and probed-query latency degrades with
    * file count (per-file open + footer read inside the probed
    * directories). Rewrite every cell whose file count exceeds
    * `maxFilesPerCell` down to `targetFiles` files, with the same
    * crash-safe swap as [[delete]] ([[swapCell]]) — cells under the
    * threshold are never opened, so compaction IO is proportional to the
    * fragmented cells only. Returns the compacted cell ids. */
  def compact(spark: SparkSession, h: Handle, maxFilesPerCell: Int,
              targetFiles: Int = 1): Seq[Int] = {
    require(maxFilesPerCell >= 1 && targetFiles >= 1,
      s"bad compaction bounds: max=$maxFilesPerCell target=$targetFiles")
    recover(spark, h.path)
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(h.path)
    val fs = root.getFileSystem(conf)
    val cells = fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("cid="))
      .map(st => st.getPath)
    val fragmented = cells.filter { dir =>
      fs.listStatus(dir).count(f => f.getPath.getName.endsWith(".parquet")) >
        maxFilesPerCell
    }
    fragmented.map { dir =>
      val cid = dir.getName.stripPrefix("cid=").toInt
      val tmp = new org.apache.hadoop.fs.Path(h.path, s".tmp-${dir.getName}")
      spark.read.parquet(dir.toString)
        .repartition(targetFiles)
        .write.mode("overwrite").parquet(tmp.toString)
      swapCell(fs, root, dir, tmp)
      cid
    }.sorted
  }

  private def writeSidecar(spark: SparkSession, path: String, name: String,
                           json: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path, name)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(p, true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def parseSidecar(spark: SparkSession, path: String, name: String): JValue = {
    val p = new org.apache.hadoop.fs.Path(path, name)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val in = fs.open(p)
    try org.json4s.jackson.JsonMethods.parse(in)
    finally in.close()
  }

  // strict readers for the sidecars' number arrays: anything else throws
  private def items(j: JValue): List[JValue] = j match {
    case JArray(xs) if xs.nonEmpty => xs
    case x => throw new IllegalArgumentException(s"expected a non-empty array, got $x")
  }
  private def doubles(j: JValue): Array[Double] = items(j).map {
    case JDouble(d) => d
    case JInt(i) => i.toDouble
    case x => throw new IllegalArgumentException(s"expected a number, got $x")
  }.toArray
  private def requireDim(j: JValue, dim: Int, lengths: Int*): Unit =
    require(j \ "dim" == JInt(dim) && lengths.forall(_ == dim),
      s"sidecar dimension ${j \ "dim"} / ${lengths.mkString(",")} != centroid dimension $dim")
  private def matrixJson(m: Array[Array[Double]]): String =
    m.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")

  /** Recall@k of `got` against the `truth` id sets, averaged over the
    * queries (an empty truth set counts as recalled). */
  private[serve] def recall(got: IndexedSeq[Seq[(Long, Double)]],
                            truth: IndexedSeq[Set[Long]]): Double =
    got.zip(truth).map { case (g, e) =>
      if (e.isEmpty) 1.0 else g.count(t => e(t._1)).toDouble / e.size
    }.sum / truth.size

  /** The smallest level in [start, max] whose recall meets `target`, for a
    * recall monotone in the level: a doubling sweep brackets it (tracking
    * the largest KNOWN-failing level as the floor) and a binary search
    * pins it — O(log max) measurements. An infeasible target is VISIBLE:
    * reaching `max` without meeting it throws instead of returning a
    * level a caller would deploy believing the target met. */
  private[serve] def minimalLevel(start: Int, max: Int, target: Double)
                                 (recallAt: Int => Double): Int = {
    var lo = start - 1
    var hi = start
    while (hi < max && recallAt(hi) < target) { lo = hi; hi = math.min(hi * 2, max) }
    while (lo + 1 < hi) {
      val mid = (lo + hi) / 2
      if (recallAt(mid) >= target) hi = mid else lo = mid
    }
    val achieved = recallAt(hi) // the chosen level is always measured
    if (achieved < target)
      throw new IllegalStateException(
        f"recall target $target%.3f infeasible: recall at $max is $achieved%.3f " +
          "— raise the ceiling, nProbe, or the tier's fidelity")
    hi
  }

  /** Recall-calibrated knob selection — the FAISS-autotune step for this
    * index: measure recall@k of batched serving on a SAMPLE of queries and
    * return the SMALLEST level whose mean recall meets `target`, plus
    * every (level, recall) point measured on the way. Each level is ONE
    * batched call ([[probedTopKBatch]]), so the cost is sample-bounded and
    * independent of corpus size — a few hundred held-out queries re-tune a
    * 100-TB index.
    *
    * The knob is nProbe by default, graded against the tier's OWN
    * exhaustive probe (the quantization error is the separate, fixed
    * axis). With `maxShortlist > 0` it is the refine shortlist in
    * [k, maxShortlist] at the fixed `nProbe`, graded against the exact
    * ranking at that probe count — the binary and MRL tiers' lever. Both
    * recalls are monotone in their knob ([[minimalLevel]]). */
  def calibrate(spark: SparkSession, h: Handle, sample: Seq[Array[Double]],
                k: Int, target: Double, nProbe: Int = 0, maxShortlist: Int = 0)
      : (Int, Seq[(Int, Double)]) = {
    require(sample.nonEmpty, "calibration needs at least one sample query")
    require(target > 0.0 && target <= 1.0, s"recall target $target outside (0,1]")
    require(maxShortlist >= k || (maxShortlist == 0 && nProbe == 0),
      s"maxShortlist $maxShortlist below k=$k (nProbe is fixed only for a shortlist knob)")
    val n = h.centroids.length
    val (truth, probe, start, max) =
      if (maxShortlist == 0)
        (probedTopKBatch(spark, h, sample, n, k),
          (p: Int) => probedTopKBatch(spark, h, sample, p, k), 1, n)
      else
        (probedTopKBatch(spark, h.copy(tier = Flat), sample, nProbe, k),
          (s: Int) => probedTopKBatch(spark, h, sample, nProbe, k, shortlist = s),
          k, maxShortlist)
    val truthIds = truth.map(_.map(_._1).toSet)
    val measured = scala.collection.mutable.LinkedHashMap.empty[Int, Double]
    val chosen = minimalLevel(start, max, target)(l =>
      measured.getOrElseUpdate(l, recall(probe(l), truthIds)))
    (chosen, measured.toSeq.sortBy(_._1))
  }
}
