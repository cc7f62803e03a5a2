package graft.incremental

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.hadoop.fs.{FileSystem, Path}

/** Persistable FROZEN BASE STATE for the incremental curation path — the
  * artifacts a deployment carries between ingest batches, so screening a
  * new crawl re-derives NOTHING base-sided (x31's cold path recomputes
  * all of this per run; the warm path loads it):
  *
  *   - the char-trigram LM model: 27³ trigram counts (`n3`; the 27²
  *     prefix sums `n2` are re-derived on load — they are a projection of
  *     `n3`, persisting them would just be a second copy to keep
  *     consistent) and the scorable-document count — x30's "what a 100-TB
  *     deployment serializes": corpus-size-INDEPENDENT, ~154 KB;
  *   - the frozen rank-cut threshold tuple (score, doc_id), stored as raw
  *     IEEE-754 bits so the reload compares bit-identically;
  *   - the base survivors' content-hash set (`hashes/`, one md5 string
  *     per distinct kept text) — the exact-dedup anti-join side;
  *   - the base exact keepers (`exact/`: doc_id, text) — the corpus the
  *     d10 screen verifies against (and what serving would re-embed);
  *   - the keepers' shingle relation (`shingles/`: doc_id, sh) and
  *     MinHash band-bucket relation (`buckets/`: doc_id, bucket) — the
  *     base-sided raw inputs of the d10 screen (buckets is also what
  *     compact re-derives the partner relation from);
  *   - the CAPPED PARTNER relation (`partners/`: bucket, base_id, cnt —
  *     `NearDup.partners`' foldable form): the
  *     pre-aggregated, skew-capped join input of the warm screen, so a
  *     batch's screening runs NO per-batch aggregation over the
  *     corpus-sized bucket relation (the groupBy is paid once at
  *     save/compact, amortized over every batch until the next one);
  *   - the contamination probe's distinct 5-gram hashes (`probe/`: g
  *     string) — the benchmark-set side of the decontamination join.
  *     Frozen fixture content (doc_id < ProbeCap), formerly re-derived
  *     per warm batch: one documents scan + distinct shuffle per ingest
  *     for a set that never changes between refits.
  *
  * LAYOUT FOR PRUNED READS (format v4): the corpus-sized relations are
  * hash-partitioned into a fixed mod space (`pmod` in the sidecar,
  * [[DefaultPMod]] dirs) — `buckets/` and `partners/` by
  * `pb = pmod(hash(bucket), pmod)`, `shingles/` by
  * `pd = pmod(hash(doc_id), pmod)`, `hashes/` by
  * `ph = pmod(hash(bh), pmod)` — so a batch's bounded bucket /
  * candidate-id / content-hash sets push down as PARTITION FILTERS and
  * a small batch reads a small subset of state files instead of
  * scanning the corpus relations whole
  * (`IncrementalDedup.screenPartitioned`; the exact-dedup anti-join
  * prunes via `Pipeline.prunedBaseHashes`). At 100 TB
  * raise `pMod` at build time (it rides the sidecar; readers adapt) and
  * salt the writer's repartition if `pMod` exceeds the write
  * parallelism you want.
  *
  * CANONICAL vs DIRTY: [[advance]] appends batch rows (including
  * `cnt = 1` partner partials) and drops a `_dirty` marker; readers of
  * a dirty state re-fold the partner cap over the batch's touched
  * buckets (exact — `NearDup.partners`' invariant), while a
  * canonical state (fresh [[save]]/[[compact]]/[[remove]], which never
  * stage the marker) serves partner rows AS-IS with zero aggregation.
  * The marker is dropped BEFORE the first append, so no appended row is
  * ever read under a canonical flag; a crash between marker and append
  * leaves a dirty-but-canonical state, on which the fold is the
  * identity.
  *
  * Layout and durability follow the IvfIndex sidecar discipline: scalars
  * in a `_state.json` sidecar (underscore → ignored by parquet listings),
  * relations as parquet subdirectories, everything staged into a
  * uniquely-suffixed `.tmp-` sibling and RENAMED in (move live aside →
  * rename tmp → drop old), so a reader never observes a half-written
  * state and a crash mid-save leaves the previous state restorable.
  * The publish protocol assumes HDFS-like ATOMIC DIRECTORY RENAME; on a
  * rename-by-copy object store (raw S3) point the state at an
  * HDFS-semantics layer instead.
  *
  * Writer/reader contract: WRITERS ([[save]], [[advance]], [[compact]],
  * [[remove]]) are single-writer-at-a-time — ENFORCED by a best-effort
  * lock file (`.lock-<name>` beside the state): a writer that finds the
  * lock held fails LOUDLY naming the holder instead of racing (a
  * compact racing an advance would otherwise load the live relations,
  * rewrite them, and publish over the advance's appends — silent data
  * loss). The lock is advisory in the filesystem sense (create-if-absent
  * is atomic on HDFS-like stores, best-effort on raw local/object
  * stores) and a crashed holder's lock is broken after [[StageTtlMs]];
  * an operator can delete it manually after a confirmed crash. Writers
  * also sweep crash leftovers
  * before acting (restore a moved-aside `.old-` live state, drop
  * unpublished `.tmp-` stages that are OLDER than the stage TTL — a
  * young stage may be a live concurrent writer's, and deleting it
  * mid-write could otherwise let that writer publish a partial state;
  * the unique tmp suffix additionally means racing builders never
  * interleave rows in one stage, and [[save]] verifies its stage is
  * complete before publishing as the final backstop). READERS
  * ([[load]], [[exists]], [[stats]]) are STRICTLY READ-ONLY: a load
  * racing an in-flight publish can never delete the writer's stage or
  * roll its renames back — if the live state is mid-swap (moved aside,
  * tmp not yet published) the reader answers from the `.old-` sibling
  * read-only; the next writer restores it. The one reader-side hazard
  * left is benign and stated: a reader that resolved `.old-` holds lazy
  * scans on that path, and the writer's subsequent restore/publish can
  * invalidate them mid-query — a retryable read failure, never a wrong
  * or half state.
  *
  * At 100 TB the relations here are a few percent of the corpus (keepers'
  * text dominates; shingles/buckets are id+hash rows) and every consumer
  * reads them as ordinary pruned parquet scans — no driver materialization
  * anywhere on the load path; only the 19 684 scalar longs ride the JSON
  * sidecar.
  */
object IncrementalState {

  /** A reopened state: model arrays driver-side, relations lazy scans.
    * The partitioned frames (`*P`) carry their partition column for the
    * pruned warm path; the plain accessors project it away for
    * consumers that only want the relation. `canonical` = no appends
    * since the last save/compact (partner rows usable without a fold).
    *
    * The relation fields are LAZY (by-name constructor args): building a
    * `DataFrame` over a mod-partitioned directory pays partition
    * discovery — a recursive file listing whose driver cost grows with
    * `pMod` × fragmentation — so a consumer must only pay it for the
    * relations it actually reads. The warm screen touches hashes /
    * shingles / partners (+ the tiny probe) and never exact / buckets;
    * an eager load made it list all six (measured: ~2 s of the ~4 s
    * per-batch load at pMod = 512 was the two unread relations'
    * listings). */
  final class Loaded(
      val n3: Array[Long], val n2: Array[Long], val nScorable: Long,
      val threshold: Option[(Double, Long)],
      baseHashesP0: => DataFrame,  // (bh string, ph int)
      baseExact0: => DataFrame,    // (doc_id long, text string)
      baseShP0: => DataFrame,      // (doc_id long, sh array<string>, pd int)
      baseBucketsP0: => DataFrame, // (doc_id long, bucket string, pb int)
      basePartnersP0: => DataFrame,// (bucket string, base_id long, cnt long, pb int)
      probeGrams0: => DataFrame,   // (g string) — distinct contamination-probe grams
      val pMod: Int,        // the layout's partition-mod (sidecar `pmod`)
      val bucketCap: Int,   // the cap BAKED into partners/ at the last publish
      val canonical: Boolean) {
    lazy val baseHashesP: DataFrame = baseHashesP0
    lazy val baseExact: DataFrame = baseExact0
    lazy val baseShP: DataFrame = baseShP0
    lazy val baseBucketsP: DataFrame = baseBucketsP0
    lazy val basePartnersP: DataFrame = basePartnersP0
    lazy val probeGrams: DataFrame = probeGrams0
    def baseHashes: DataFrame = baseHashesP.select("bh")
    def baseSh: DataFrame = baseShP.select("doc_id", "sh")
    def baseBuckets: DataFrame = baseBucketsP.select("doc_id", "bucket")
    def basePartners: DataFrame = basePartnersP.select("bucket", "base_id", "cnt")
  }

  private val Sidecar = "_state.json"
  private val DirtyMarker = "_dirty"
  private val Relations = Seq("hashes", "exact", "shingles", "buckets", "partners", "probe")

  /** Default partition-mod for the v3 pruned layout — 32 directories per
    * corpus relation balances prune granularity against per-advance file
    * fan-out at the tested scales; a 100-TB deployment raises it at
    * build time (the value rides the sidecar, readers adapt). */
  val DefaultPMod = 32

  /** Stages younger than this are presumed IN-FLIGHT by another writer
    * and left alone by [[sweep]]; older ones are crash leftovers and are
    * reclaimed. Leftovers under the TTL cost bytes only (they are never
    * read); size it above the longest expected staging time. */
  private val StageTtlMs = 24L * 3600 * 1000

  /** The on-disk format version [[save]] stamps and [[load]] REQUIRES —
    * a sidecar carrying any other version fails loudly instead of being
    * field-matched through as if it were this layout (a v2 state whose
    * fields happen to parse would otherwise serve silently wrong
    * answers). Bump on ANY layout/semantics change; callers that key a
    * state cache by path should fold this into the directory name (the
    * x32 bench cache does) so old states are never even probed.
    * v3: mod-partitioned buckets/shingles, the persisted capped partner
    * relation (`partners/`), `pmod` in the sidecar. v4: `hashes/` joins
    * the partitioned layout (`ph = pmod(hash(bh), pmod)`) so the warm
    * exact-dedup anti-join prunes too. */
  val CurrentVersion = 4

  /** The single-writer lock every mutating entry point takes around its
    * WHOLE read-modify-write (not just the publish): a compact that read
    * the live relations while an advance appends would otherwise publish
    * a rewrite missing the appended batch — last rename wins, silently.
    * Acquire = create-if-absent of `.lock-<name>` (atomic on HDFS-like
    * stores); held → a LOUD error naming the holder; a lock older than
    * [[StageTtlMs]] is a crashed holder's and is broken (best-effort —
    * two breakers can in principle both win; the staged-swap publish
    * keeps even that worst case a lost-update, never a torn state). */
  private def withWriterLock[A](fs: FileSystem, live: Path)(body: => A): A = {
    val lock = new Path(live.getParent, s".lock-${live.getName}")
    fs.mkdirs(live.getParent)
    def tryAcquire(): Boolean =
      try {
        val out = fs.create(lock, false)
        try out.write(
          (s"${java.lang.management.ManagementFactory.getRuntimeMXBean.getName}" +
            s" thread=${Thread.currentThread().getName}" +
            s" since=${System.currentTimeMillis()}")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        true
      } catch { case _: java.io.IOException => false }
    if (!tryAcquire()) {
      val stale =
        try fs.getFileStatus(lock).getModificationTime <
          System.currentTimeMillis() - StageTtlMs
        catch { case _: java.io.IOException => false }
      if (stale) fs.delete(lock, false)
      if (!(stale && tryAcquire())) {
        val holder =
          try {
            val in = fs.open(lock)
            try {
              val buf = new Array[Byte](512)
              val n = in.read(buf)
              if (n > 0) new String(buf, 0, n, java.nio.charset.StandardCharsets.UTF_8)
              else "unknown"
            } finally in.close()
          } catch { case _: java.io.IOException => "unknown" }
        throw new java.io.IOException(
          s"incremental state at $live is locked by another writer [$holder] — " +
            "a concurrent save/advance/compact/remove would silently drop its " +
            s"work; retry after it finishes, or delete $lock if the holder crashed")
      }
    }
    try body finally { fs.delete(lock, false); () }
  }

  def save(spark: SparkSession, path: String,
           n3: Array[Long], nScorable: Long,
           threshold: Option[(Double, Long)],
           baseHashes: DataFrame, baseExact: DataFrame,
           baseSh: DataFrame, baseBuckets: DataFrame,
           probeGrams: DataFrame,
           pMod: Int = DefaultPMod,
           bucketCap: Int = graft.search.Search.LshBucketCap): Unit = {
    val live = new Path(path)
    val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
    withWriterLock(fs, live) {
      saveLocked(spark, path, n3, nScorable, threshold,
        baseHashes, baseExact, baseSh, baseBuckets, probeGrams, pMod, bucketCap)
    }
  }

  /** [[save]]'s body, called with the writer lock already held (compact/
    * remove hold it across their whole load→rewrite→publish). Lays the
    * corpus relations out in the v3 pruned format and derives the capped
    * partner relation from the just-written bucket files (one extra scan
    * of small parquet, and a guarantee `partners/` ≡ `buckets/` at every
    * publish). The `repartition(partCol)` before each partitioned write
    * bounds the file fan-out to ≤ one file per partition dir — without
    * it every write task would fan into every dir (tasks × pMod files). */
  private def saveLocked(spark: SparkSession, path: String,
                         n3: Array[Long], nScorable: Long,
                         threshold: Option[(Double, Long)],
                         baseHashes: DataFrame, baseExact: DataFrame,
                         baseSh: DataFrame, baseBuckets: DataFrame,
                         probeGrams: DataFrame,
                         pMod: Int = DefaultPMod,
                         bucketCap: Int = graft.search.Search.LshBucketCap): Unit = {
    import org.apache.spark.sql.functions.col
    import graft.dedup.IncrementalDedup.{pbOf, pdOf, phOf}
    import graft.dedup.NearDup.{members, partners}
    val live = new Path(path)
    val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
    sweep(fs, live) // writer-side crash recovery: restore .old-, drop stale stages
    // unique stage name: two racing builders never interleave writes into
    // one stage (a racer's sweep also leaves a YOUNG stage alone — the
    // age gate in [[sweep]])
    val tmp = new Path(live.getParent,
      s".tmp-${live.getName}-${java.util.UUID.randomUUID().toString.take(8)}")
    baseHashes.select("bh")
      .withColumn("ph", phOf(col("bh"), pMod))
      .repartition(col("ph")).write.partitionBy("ph")
      .parquet(new Path(tmp, "hashes").toString)
    baseExact.select("doc_id", "text").write.parquet(new Path(tmp, "exact").toString)
    baseSh.select(col("doc_id"), col("sh"))
      .withColumn("pd", pdOf(col("doc_id"), pMod))
      .repartition(col("pd")).write.partitionBy("pd")
      .parquet(new Path(tmp, "shingles").toString)
    baseBuckets.select(col("doc_id"), col("bucket"))
      .withColumn("pb", pbOf(col("bucket"), pMod))
      .repartition(col("pb")).write.partitionBy("pb")
      .parquet(new Path(tmp, "buckets").toString)
    partners(members(readBuckets(spark, new Path(tmp, "buckets"))), bucketCap)
      .withColumn("pb", pbOf(col("bucket"), pMod))
      .repartition(col("pb")).write.partitionBy("pb")
      .parquet(new Path(tmp, "partners").toString)
    probeGrams.select("g").write.parquet(new Path(tmp, "probe").toString)
    val thrJson = threshold.fold("") { case (ts, ti) =>
      s""","tsBits":${java.lang.Double.doubleToLongBits(ts)},"ts":$ts,"ti":$ti""" }
    val json =
      s"""{"version":$CurrentVersion,"pmod":$pMod,"cap":$bucketCap,"nScorable":$nScorable$thrJson,"n3":[${n3.mkString(",")}]}"""
    val out = fs.create(new Path(tmp, Sidecar), true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // completeness gate: if anything (a misconfigured racer's sweep, a
    // partial delete) removed part of the stage while it was written, a
    // parquet write after the deletion would have RECREATED the stage dir
    // and the publish would land a state missing whole relations while
    // dropping the previous good one — verify every artifact is present
    // and fail loudly instead
    (Relations :+ Sidecar).foreach { a =>
      if (!fs.exists(new Path(tmp, a)))
        throw new java.io.IOException(
          s"stage $tmp lost $a before publish (a concurrent writer or external " +
            "delete raced this save) — aborting; the live state is untouched")
    }
    // atomic publish: live (if any) aside, tmp in, old dropped
    val old = new Path(live.getParent, s".old-${live.getName}")
    fs.delete(old, true)
    val hadLive = fs.exists(live)
    if (hadLive && !fs.rename(live, old))
      throw new java.io.IOException(s"rename $live -> $old failed")
    if (!fs.rename(tmp, live)) {
      if (hadLive) fs.rename(old, live) // restore before failing
      throw new java.io.IOException(s"rename $tmp -> $live failed; previous state restored")
    }
    fs.delete(old, true)
  }

  /** True when a state can be answered from `path` — the live sidecar,
    * or (crash between [[save]]'s two renames) the intact moved-aside
    * `.old-` sibling a writer would restore. Read-only: callers that
    * would otherwise trigger a full rebuild (x32's first touch) must not
    * rebuild over a restorable state. */
  def exists(spark: SparkSession, path: String): Boolean = {
    val live = new Path(path)
    val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
    resolveReadable(fs, live).isDefined
  }

  private def readSidecar(fs: FileSystem, root: Path): String = {
    val in = fs.open(new Path(root, Sidecar))
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      new String(buf.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** Readers AND mutating writers both refuse a foreign layout — an
    * advance into a v1 state would mix two formats on disk (no probe/
    * relation, rows every later load rejects anyway). */
  private def requireCurrentVersion(raw: String, path: String): Unit = {
    val version = """"version":(-?\d+)""".r.findFirstMatchIn(raw).map(_.group(1).toLong)
      .getOrElse(throw new java.io.IOException(
        s"corrupt $Sidecar: no version field in $path"))
    if (version != CurrentVersion)
      throw new java.io.IOException(
        s"incremental state at $path has format version $version, this binary " +
          s"reads version $CurrentVersion — rebuild the state (Pipeline.buildState) " +
          "or use a matching binary; refusing to field-match a foreign layout")
  }

  /** Where a READ should resolve: the live dir if its sidecar exists,
    * else the `.old-` sibling a crashed save left (readable as-is —
    * restoring it is the next WRITER's job, a reader must not rename). */
  private def resolveReadable(fs: FileSystem, live: Path): Option[Path] = {
    if (fs.exists(new Path(live, Sidecar))) Some(live)
    else {
      val old = new Path(live.getParent, s".old-${live.getName}")
      if (fs.exists(new Path(old, Sidecar))) Some(old) else None
    }
  }

  // Explicit schemas for the partitioned relations: schema inference on
  // a partitioned dir needs at least one data file, so an explicit
  // schema keeps degenerate (empty-corpus) states readable, and pins the
  // partition column's type to what the writer computed (int).
  private def readBuckets(spark: SparkSession, dir: Path): DataFrame =
    spark.read.schema("doc_id BIGINT, bucket STRING, pb INT").parquet(dir.toString)
  private def readShingles(spark: SparkSession, dir: Path): DataFrame =
    spark.read.schema("doc_id BIGINT, sh ARRAY<STRING>, pd INT").parquet(dir.toString)
  private def readPartners(spark: SparkSession, dir: Path): DataFrame =
    spark.read.schema("bucket STRING, base_id BIGINT, cnt BIGINT, pb INT")
      .parquet(dir.toString)
  private def readHashes(spark: SparkSession, dir: Path): DataFrame =
    spark.read.schema("bh STRING, ph INT").parquet(dir.toString)

  /** Open a state READ-ONLY. Never deletes, renames, or sweeps — a load
    * racing an in-flight save/compact cannot corrupt the publish (the
    * writers own crash recovery). Fails loudly on a missing state or a
    * sidecar whose `version` is not [[CurrentVersion]]. */
  def load(spark: SparkSession, path: String): Loaded = {
    val live = new Path(path)
    val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
    val root = resolveReadable(fs, live).getOrElse(
      throw new java.io.IOException(s"no incremental state at $path (no live or .old- sidecar)"))
    val raw = readSidecar(fs, root)
    requireCurrentVersion(raw, path)
    // strict parse of the flat object written above (no nesting beyond n3)
    def longField(name: String): Option[Long] =
      s""""$name":(-?\\d+)""".r.findFirstMatchIn(raw).map(_.group(1).toLong)
    val nScorable = longField("nScorable").getOrElse(
      throw new java.io.IOException(s"corrupt $Sidecar: no nScorable in $path"))
    val pMod = longField("pmod").getOrElse(
      throw new java.io.IOException(s"corrupt $Sidecar: no pmod in $path")).toInt
    val cap = longField("cap").getOrElse(
      throw new java.io.IOException(s"corrupt $Sidecar: no cap in $path")).toInt
    val threshold = for { bits <- longField("tsBits"); ti <- longField("ti") }
      yield (java.lang.Double.longBitsToDouble(bits), ti)
    val n3 = """"n3":\[([^\]]*)\]""".r.findFirstMatchIn(raw)
      .map(_.group(1).split(",").map(_.trim.toLong))
      .getOrElse(throw new java.io.IOException(s"corrupt $Sidecar: no n3 in $path"))
    if (n3.length != 27 * 27 * 27)
      throw new java.io.IOException(
        s"corrupt $Sidecar: n3 carries ${n3.length} cells, the char-trigram " +
          s"model has ${27 * 27 * 27} — a truncated or foreign sidecar")
    val n2 = new Array[Long](27 * 27)
    var i = 0
    while (i < n3.length) { n2(i / 27) += n3(i); i += 1 }
    new Loaded(n3, n2, nScorable, threshold,
      readHashes(spark, new Path(root, "hashes")),
      spark.read.parquet(new Path(root, "exact").toString),
      readShingles(spark, new Path(root, "shingles")),
      readBuckets(spark, new Path(root, "buckets")),
      readPartners(spark, new Path(root, "partners")),
      spark.read.parquet(new Path(root, "probe").toString),
      pMod, cap,
      canonical = !fs.exists(new Path(root, DirtyMarker)))
  }

  /** ADVANCE the state by one accepted batch — the between-batches step
    * that closes the ingest loop: the documents a batch's screen let
    * through become part of the BASE the next batch screens against
    * (without it, two arriving batches could each be "novel" against the
    * settled corpus while duplicating each other across batches).
    * `accepted` is the batch's surviving (doc_id, text); its hash /
    * keeper / shingle / band-bucket / partner-partial rows (and a
    * `_dirty` marker, dropped before the first append — readers of a
    * dirty state re-fold the partner cap) are APPENDED to the
    * relations as new parquet files (the IvfIndex.appendStream
    * discipline), so advance IO is **O(batch)** — never a rewrite of the
    * corpus-sized relations, which would hand back exactly the
    * O(corpus)-per-ingest cost this operator exists to avoid. The LM
    * model, threshold and scorable count stay FROZEN by design — quality
    * refit is an offline decision (`Pipeline.buildState` again), not a
    * per-batch side effect, or each batch would move its own bar; the
    * sidecar is never touched here.
    *
    * Durability contract (the appendStream trade): single writer,
    * advance BETWEEN batches — a screen racing an in-flight advance can
    * observe the batch partially folded (hash landed, buckets not yet)
    * and miss a near-dup of a just-accepted doc for that one read.
    * Replaying an advance after a crash is at-least-once-safe: the hash
    * anti-join is existence-only and candidate pairs are deduped before
    * verification, so duplicate rows cost bytes, not correctness — the
    * one observable effect is that re-counted bucket rows can push a hot
    * bucket over `bucketCap` sooner, degrading it to its representative
    * (the d3 cap semantics, stated, not a wrong answer). [[compact]]
    * reclaims the bytes and the replay duplicates. */
  def advance(spark: SparkSession, path: String,
              accepted: DataFrame, idCol: String, textCol: String): Unit = {
    import org.apache.spark.sql.functions.{col, md5}
    val live = new Path(path)
    val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
    withWriterLock(fs, live) {
    sweep(fs, live)
    // appending into a void would fabricate a sidecar-less orphan that
    // every later load rejects — fail at the cause, not the symptom; and
    // appending into a FOREIGN-version layout would mix two formats, so
    // the version gate guards mutation exactly like it guards reads
    if (!fs.exists(new Path(live, Sidecar)))
      throw new java.io.IOException(
        s"no incremental state at $path to advance — build one first (Pipeline.buildState)")
    val raw = readSidecar(fs, live)
    requireCurrentVersion(raw, path)
    val pMod = s""""pmod":(-?\\d+)""".r.findFirstMatchIn(raw)
      .getOrElse(throw new java.io.IOException(s"corrupt $Sidecar: no pmod in $path"))
      .group(1).toInt
    // the dirty marker lands BEFORE the first append: a reader must
    // never see appended partner rows under a canonical flag (crash
    // between marker and append = dirty-but-canonical, fold = identity)
    fs.create(new Path(live, DirtyMarker), true).close()
    val batch = accepted.select(col(idCol).cast("long").as("doc_id"),
      col(textCol).as("text")).persist()
    try {
      val newSh = graft.dedup.IncrementalDedup
        .shingled(batch, "doc_id", "text").persist()
      try {
        val newBk = graft.dedup.IncrementalDedup.bucketsOf(newSh).persist()
        try {
          import graft.dedup.IncrementalDedup.{pbOf, pdOf, phOf}
          batch.select(md5(col("text")).as("bh"))
            .withColumn("ph", phOf(col("bh"), pMod))
            .repartition(col("ph")).write.mode("append").partitionBy("ph")
            .parquet(new Path(live, "hashes").toString)
          batch.write.mode("append").parquet(new Path(live, "exact").toString)
          newSh.withColumn("pd", pdOf(col("doc_id"), pMod))
            .repartition(col("pd")).write.mode("append").partitionBy("pd")
            .parquet(new Path(live, "shingles").toString)
          val bkP = newBk.withColumn("pb", pbOf(col("bucket"), pMod))
          bkP.repartition(col("pb")).write.mode("append").partitionBy("pb")
            .parquet(new Path(live, "buckets").toString)
          // the batch's partner PARTIALS: one cnt=1 row per member — the
          // foldable form readers re-cap over touched buckets until the
          // next compact canonicalizes (NearDup.partners' invariant)
          graft.dedup.NearDup.members(newBk).withColumn("pb", pbOf(col("bucket"), pMod))
            .repartition(col("pb")).write.mode("append").partitionBy("pb")
            .parquet(new Path(live, "partners").toString)
        } finally { newBk.unpersist(); () }
      } finally { newSh.unpersist(); () }
    } finally { batch.unpersist(); () }
    }
  }

  /** COMPACT the state — the maintenance half of the append/compact
    * pair, like the serving index's: many [[advance]]s fragment the
    * relations into one small file set per batch (probe latency and
    * footer parses grow with file count), and a replayed advance leaves
    * duplicate rows. Rewrite each relation deduped (hashes by value,
    * keepers/shingles by doc_id, buckets by (doc_id, bucket)) through
    * [[save]]'s staged swap — the live state stays readable for the
    * whole rewrite and is replaced atomically; the frozen model rides
    * along unchanged. Unlike [[Pipeline.buildState]], nothing is
    * re-derived from the corpus: compaction IO is one read + one write
    * of the relations. */
  def compact(spark: SparkSession, path: String): Unit = {
    val live = new Path(path)
    val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
    withWriterLock(fs, live) { // held across load→rewrite→publish: a racing
      sweep(fs, live)          // advance's appends can't be silently dropped
      val st = load(spark, path)
      saveLocked(spark, path, st.n3, st.nScorable, st.threshold,
        st.baseHashes.distinct(),
        st.baseExact.dropDuplicates("doc_id"),
        st.baseSh.dropDuplicates("doc_id"),
        st.baseBuckets.dropDuplicates("doc_id", "bucket"),
        st.probeGrams.distinct(),
        st.pMod, st.bucketCap) // a maintenance pass preserves the layout
    }
  }

  /** Per-relation file/byte footprint of a state — the fragmentation
    * signal an operator watches to SCHEDULE [[compact]] (each advance
    * lands one small file set per relation; probe latency and footer
    * parses grow with file count). Driver-side filesystem metadata only:
    * no Spark job, no row counts — cheap enough to call every batch.
    * Read-only (resolves a crashed-save `.old-` like any reader). */
  final case class RelationStats(files: Int, bytes: Long)

  def stats(spark: SparkSession, path: String): Map[String, RelationStats] = {
    val live = new Path(path)
    val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
    val root = resolveReadable(fs, live).getOrElse(
      throw new java.io.IOException(s"no incremental state at $path"))
    Relations.map { rel =>
      val dir = new Path(root, rel)
      // recursive via plain listStatus: the v3 partitioned relations nest
      // their files under pb=/pd= dirs — count data files wherever they
      // sit. NOT fs.listFiles(dir, recursive = true): that returns
      // LocatedFileStatus, and materializing one on the local filesystem
      // loads per-file permission/block info (an exec per entry on
      // RawLocalFileSystem) — measured 15 s for a pMod = 512 state's
      // ~2.5K dirs + 2K files, vs milliseconds for the plain recursion.
      // listStatus keeps the walk at one listing call per directory and
      // never touches the fields that trigger the per-file work.
      var files = 0
      var bytes = 0L
      def walk(p: Path): Unit =
        (try fs.listStatus(p)
         catch { case _: java.io.FileNotFoundException =>
           Array.empty[org.apache.hadoop.fs.FileStatus] })
          .foreach { st =>
            if (st.isDirectory) walk(st.getPath)
            else if (st.getPath.getName.endsWith(".parquet")) {
              files += 1; bytes += st.getLen
            }
          }
      if (fs.exists(dir)) walk(dir)
      rel -> RelationStats(files, bytes)
    }.toMap
  }

  /** REMOVE documents from the state — the maintenance op [[advance]]
    * and [[compact]] don't cover: a licensing take-down / opt-out means
    * a settled keeper must stop shielding its future copies (the next
    * crawl of the same text must screen as NOVEL again, or the corpus
    * can never re-admit it). Drops the ids' rows from the keeper /
    * shingle / bucket relations AND their content hashes from the
    * exact-dedup set (the hash rides the keeper: each hash value has
    * exactly one keeper row, so removing the keeper's md5(text) removes
    * precisely its shield). Published through [[save]]'s staged swap —
    * the live state serves throughout; the frozen model/threshold ride
    * along unchanged (removal is not a refit, exactly like advance is
    * not one — re-freeze offline via `Pipeline.buildState` when the bar
    * should move).
    *
    * Cost model, stated: the relations are not partitioned by doc_id,
    * so removal rewrites them — one read + one write of the state, the
    * same IO class as [[compact]] (an offline maintenance pass, batched
    * over many take-downs). A deployment with frequent removals should
    * bucket the relations by id range to localize the rewrite (the
    * IvfIndex.delete cell discipline); at the measured state sizes the
    * uniform rewrite is the simpler correct baseline.
    *
    * Plan shape, stated: a SMALL id set (≤ [[IsinRemoveMax]]) rides the
    * plan as `isin` literals (codegen'd, no extra join); a LARGE one (a
    * bulk licensing event, thousands of ids) would bloat the plan
    * linearly and re-evaluate the literal set per row across four
    * relation rewrites — those become broadcast `left_anti` joins
    * against an ids DataFrame (plan size O(1), one broadcast of the id
    * set). Both shapes are output-identical (spec-pinned). */
  def remove(spark: SparkSession, path: String, ids: Seq[Long]): Unit = {
    import org.apache.spark.sql.functions.{broadcast, col, md5}
    if (ids.isEmpty) return
    val live = new Path(path)
    val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
    withWriterLock(fs, live) {
      sweep(fs, live)
      val st = load(spark, path)
      val doomed: DataFrame => DataFrame =
        if (ids.size <= IsinRemoveMax) {
          val idSet = ids.map(java.lang.Long.valueOf)
          df => df.filter(col("doc_id").isin(idSet: _*))
        } else {
          import spark.implicits._
          val idsDf = ids.toDF("doc_id")
          df => df.join(broadcast(idsDf), Seq("doc_id"), "left_semi")
        }
      val keep: DataFrame => DataFrame =
        if (ids.size <= IsinRemoveMax) {
          val idSet = ids.map(java.lang.Long.valueOf)
          df => df.filter(!col("doc_id").isin(idSet: _*))
        } else {
          import spark.implicits._
          val idsDf = ids.toDF("doc_id")
          df => df.join(broadcast(idsDf), Seq("doc_id"), "left_anti")
        }
      val doomedHashes = doomed(st.baseExact).select(md5(col("text")).as("bh"))
      saveLocked(spark, path, st.n3, st.nScorable, st.threshold,
        st.baseHashes.join(doomedHashes, Seq("bh"), "left_anti"),
        keep(st.baseExact),
        keep(st.baseSh),
        keep(st.baseBuckets),
        st.probeGrams,
        st.pMod, st.bucketCap)
    }
  }

  /** Above this many take-down ids, [[remove]] switches from `isin`
    * literal predicates to a broadcast anti-join (see its scaladoc). */
  private val IsinRemoveMax = 64

  /** Crash recovery, run by WRITERS ONLY (readers must never mutate —
    * a reader-side sweep racing an in-flight save could delete the
    * writer's stage mid-write and permanently drop relations): a `.old-`
    * sibling means a save died after moving the live state aside —
    * restore it if nothing took its place; `.tmp-` siblings are
    * unpublished stages — drop the ones older than [[StageTtlMs]].
    * Two gates keep a sweep from sabotaging anyone:
    *   - EXACT-NAME match (`.tmp-<name>-<8 hex>`): a sibling state whose
    *     directory name merely EXTENDS this one ("state" vs "state-eu")
    *     must never have its stage reclaimed by this state's writer;
    *   - AGE gate: a stage younger than the TTL may belong to a LIVE
    *     concurrent writer — deleting it mid-write would let that
    *     writer's later parquet calls recreate the dir and publish a
    *     state missing whole relations. Young leftovers cost bytes
    *     only and are reclaimed by any write after the TTL. (The
    *     publish-side completeness gate in [[save]] is the backstop if
    *     something still deletes a stage mid-write.)
    * A stage's age is judged by the NEWEST mtime among the stage dir and
    * its direct children, not the dir mtime alone: object stores (S3A)
    * report synthetic-directory mtimes as 0, which would make every
    * in-flight stage look expired and get swept out from under its
    * writer. (The whole publish protocol additionally assumes HDFS-like
    * atomic directory rename — stated in the class doc.) */
  private def sweep(fs: FileSystem, live: Path): Unit = {
    val old = new Path(live.getParent, s".old-${live.getName}")
    if (fs.exists(old)) {
      if (!fs.exists(live)) fs.rename(old, live)
      else fs.delete(old, true)
    }
    val parent = live.getParent
    if (fs.exists(parent)) {
      val stageRe = ("\\.tmp-" + java.util.regex.Pattern.quote(live.getName) +
        "(-[0-9a-f]{8})?").r
      val cutoff = System.currentTimeMillis() - StageTtlMs
      def newestMtime(st: org.apache.hadoop.fs.FileStatus): Long = {
        val children =
          try fs.listStatus(st.getPath).map(_.getModificationTime)
          catch { case _: java.io.IOException => Array.empty[Long] }
        (st.getModificationTime +: children.toSeq).max
      }
      fs.listStatus(parent)
        .filter(st => stageRe.pattern.matcher(st.getPath.getName).matches() &&
          newestMtime(st) < cutoff)
        .foreach(st => fs.delete(st.getPath, true))
    }
  }
}
