package graft

import graft.dedup.IncrementalDedup
import graft.incremental.IncrementalState
import graft.queries.{Pipeline, Registry}
import org.apache.spark.sql.functions.{col, md5}

/** Persistable frozen-state contract (IncrementalState + Pipeline's warm
  * path): save→load is a faithful roundtrip (model bits, threshold bits,
  * relations), screening against LOADED artifacts decides bit-identically
  * to the in-session path, the whole warm x31 equals the cold x31 row for
  * row on a real fixture, and the swap discipline keeps a live state
  * readable across re-saves and crash leftovers. */
class IncrementalStateSpec extends SparkSpec {
  import spark.implicits._

  private val baseA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
  private val baseB = "one two three four five six seven eight nine ten eleven"

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).resolve("state").toString

  private def saveTiny(dir: String, n3: Array[Long], nScorable: Long,
                       threshold: Option[(Double, Long)]): Unit = {
    val hashes = Seq("aa", "bb").toDF("bh")
    val exact = Seq((1L, baseA), (2L, baseB)).toDF("doc_id", "text")
    val sh = IncrementalDedup.shingled(exact, "doc_id", "text")
    IncrementalState.save(spark, dir, n3, nScorable, threshold,
      hashes, exact, sh, IncrementalDedup.bucketsOf(sh),
      Seq("g1", "g2").toDF("g"))
  }

  test("save→load roundtrips the model, the threshold bits, and the relations") {
    val dir = freshDir("incr-roundtrip")
    val n3 = Array.tabulate(27 * 27 * 27)(i => (i * 7 % 13).toLong)
    // a threshold whose double must survive BIT-exactly (not via decimal text)
    val ts = 0.1 + 0.2 // 0.30000000000000004
    saveTiny(dir, n3, nScorable = 123L, threshold = Some((ts, 42L)))
    val st = IncrementalState.load(spark, dir)
    assert(st.n3.sameElements(n3))
    assert(st.nScorable == 123L)
    val (lts, lti) = st.threshold.getOrElse(fail("threshold lost"))
    assert(java.lang.Double.doubleToLongBits(lts) ==
      java.lang.Double.doubleToLongBits(ts), "threshold double must roundtrip bit-exactly")
    assert(lti == 42L)
    // n2 is re-derived: each prefix cell = sum of its 27 trigram cells
    (0 until 27 * 27).foreach { p =>
      assert(st.n2(p) == (0 until 27).map(c => n3(p * 27 + c)).sum)
    }
    assert(st.baseHashes.as[String].collect().sorted.toSeq == Seq("aa", "bb"))
    assert(st.baseExact.count() == 2 && st.baseSh.count() == 2)
    assert(st.baseBuckets.count() == 4, "2 docs × 2 band buckets")
    assert(st.probeGrams.as[String].collect().sorted.toSeq == Seq("g1", "g2"),
      "the contamination-probe gram relation must roundtrip")
  }

  test("a state with no threshold (k = 0 cohort) loads as None") {
    val dir = freshDir("incr-nothr")
    saveTiny(dir, new Array[Long](27 * 27 * 27), nScorable = 0L, threshold = None)
    assert(IncrementalState.load(spark, dir).threshold.isEmpty)
  }

  test("screenPrepared over LOADED artifacts decides bit-identically to the in-session screen") {
    val dir = freshDir("incr-screen")
    val base = (Seq((10L, baseA), (11L, baseA), (12L, baseB)) ++
      (20L to 69L).map(i => (i, baseA + " lambda mu"))).toDF("doc_id", "text")
    val delta = Seq((100L, baseA), (101L, baseA + " lambda mu"),
      (105L, "completely different words nowhere near the base corpus at all"))
      .toDF("doc_id", "text")
    val bsh = IncrementalDedup.shingled(base, "doc_id", "text")
    IncrementalState.save(spark, dir, new Array[Long](27 * 27 * 27), 0L, None,
      Seq.empty[String].toDF("bh"), base, bsh, IncrementalDedup.bucketsOf(bsh),
      Seq.empty[String].toDF("g"))
    val st = IncrementalState.load(spark, dir)
    def decisions(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2))).sortBy(_._1).toSeq
    val cold = decisions(IncrementalDedup.screen(base, delta, "doc_id", "text", 0.8, bucketCap = 10))
    val warm = decisions(IncrementalDedup.screenPrepared(
      st.baseSh, st.baseBuckets, delta, "doc_id", "text", 0.8, bucketCap = 10))
    assert(cold == warm, s"cold=$cold warm=$warm")
    assert(cold.map(_._1) == Seq(100L, 101L, 105L))
    spark.catalog.clearCache()
  }

  test("warm x31 from persisted state equals the cold x31 manifest row for row (sf0.001)") {
    val d = sf("sf0.001")
    val dir = freshDir("incr-x31")
    val cold = Registry.all.find(_.name == "x31_delta_manifest")
      .getOrElse(fail("x31 not registered")).fn(spark, d).collect().map(_.toSeq).toSeq
    spark.catalog.clearCache()
    Pipeline.buildState(spark, d, dir)
    spark.catalog.clearCache()
    val warm = Pipeline.x31Warm(spark, d, dir).collect().map(_.toSeq).toSeq
    spark.catalog.clearCache()
    assert(cold.nonEmpty, "empty manifest — fixture must survive the funnel")
    assert(cold == warm, "save→load→derive must be bit-identical to the in-session build")
  }

  test("advance folds an accepted batch into the state: the next batch screens against it") {
    val dir = freshDir("incr-advance")
    val novel1 = "quantum chromatic lattice verse mountain ember topaz river echo harbor"
    val base = Seq((10L, baseA)).toDF("doc_id", "text")
    val bsh = IncrementalDedup.shingled(base, "doc_id", "text")
    IncrementalState.save(spark, dir, new Array[Long](27 * 27 * 27), 0L, None,
      base.select(md5(col("text")).as("bh")), base, bsh,
      IncrementalDedup.bucketsOf(bsh), Seq.empty[String].toDF("g"))
    // batch 1: a novel doc survives its screen, then ADVANCES the state
    val batch1 = Seq((200L, novel1)).toDF("doc_id", "text")
    val st1 = IncrementalState.load(spark, dir)
    val dec1 = IncrementalDedup.screenPrepared(st1.baseSh, st1.baseBuckets,
        batch1, "doc_id", "text", 0.8)
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toMap
    assert(dec1(200L), "batch-1 doc must be novel against the settled base")
    IncrementalState.advance(spark, dir, batch1, "doc_id", "text")
    // batch 2: a copy of batch 1's survivor AND a copy of the old base
    val batch2 = Seq((300L, novel1), (301L, baseA)).toDF("doc_id", "text")
    val st2 = IncrementalState.load(spark, dir)
    def decisions(baseSh: org.apache.spark.sql.DataFrame,
                  baseBk: org.apache.spark.sql.DataFrame) =
      IncrementalDedup.screenPrepared(baseSh, baseBk, batch2, "doc_id", "text", 0.8)
        .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2)))
        .sortBy(_._1).toSeq
    val warm = decisions(st2.baseSh, st2.baseBuckets)
    assert(warm == Seq((300L, false, 200L), (301L, false, 10L)),
      s"cross-batch dup must map to the batch-1 keeper, base dup to the base keeper: $warm")
    // equivalence: the advanced state decides exactly like a cold screen
    // over base ∪ batch1
    val unioned = base.unionByName(batch1)
    val ush = IncrementalDedup.shingled(unioned, "doc_id", "text")
    assert(warm == decisions(ush, IncrementalDedup.bucketsOf(ush)),
      "advance must be indistinguishable from refreezing over the grown corpus")
    // the frozen scalars never move on advance
    assert(st2.nScorable == 0L && st2.threshold.isEmpty &&
      st2.n3.sameElements(st1.n3), "advance must not touch the frozen model")
    spark.catalog.clearCache()
  }

  test("advance is append-only: O(batch) IO, pre-existing relation files untouched") {
    val dir = freshDir("incr-appendonly")
    saveTiny(dir, new Array[Long](27 * 27 * 27), nScorable = 5L, threshold = None)
    val rels = Seq("hashes", "exact", "shingles", "buckets", "partners")
    // recursive: the v3 layout nests shingle/bucket/partner files under
    // pd=/pb= partition dirs — key by relation-relative path
    def files(rel: String): Map[String, Long] = {
      val root = java.nio.file.Paths.get(dir, rel)
      val out = scala.collection.mutable.Map.empty[String, Long]
      java.nio.file.Files.walk(root).forEach { p =>
        if (p.toString.endsWith(".parquet"))
          out(root.relativize(p).toString) = p.toFile.lastModified()
      }
      out.toMap
    }
    val before = rels.map(r => r -> files(r)).toMap
    IncrementalState.advance(spark, dir,
      Seq((500L, "silver canyon whisper orbit maple thunder")).toDF("doc_id", "text"),
      "doc_id", "text")
    rels.foreach { rel =>
      val after = files(rel)
      before(rel).foreach { case (name, mtime) =>
        assert(after.get(name).contains(mtime),
          s"$rel/$name was rewritten — advance must never touch corpus-sized files")
      }
      assert(after.size > before(rel).size,
        s"$rel gained no files — the batch's rows were not appended")
    }
    // and the sidecar is byte-identical (frozen model untouched)
    assert(IncrementalState.load(spark, dir).nScorable == 5L)
    spark.catalog.clearCache()
  }

  test("compact dedupes replayed-advance rows and shrinks the file sets, content preserved") {
    val dir = freshDir("incr-compact")
    saveTiny(dir, new Array[Long](27 * 27 * 27), nScorable = 9L,
      threshold = Some((0.25, 3L)))
    val batch = Seq((600L, "quantum chromatic lattice verse mountain ember"))
      .toDF("doc_id", "text")
    // the at-least-once scenario: the same advance lands twice
    IncrementalState.advance(spark, dir, batch, "doc_id", "text")
    IncrementalState.advance(spark, dir, batch, "doc_id", "text")
    val dirty = IncrementalState.load(spark, dir)
    assert(dirty.baseExact.filter(col("doc_id") === 600L).count() == 2,
      "fixture must actually carry the replay duplicate")
    def nFiles(rel: String): Int = new java.io.File(dir, rel)
      .listFiles().count(_.getName.endsWith(".parquet"))
    val filesBefore = nFiles("exact")
    IncrementalState.compact(spark, dir)
    val clean = IncrementalState.load(spark, dir)
    assert(clean.baseExact.filter(col("doc_id") === 600L).count() == 1,
      "compact must drop the replay duplicate")
    assert(clean.baseExact.count() == 3 && clean.baseSh.count() == 3,
      "compact must keep every distinct keeper (2 seed + 1 batch)")
    assert(clean.baseBuckets.count() == 6, "3 docs × 2 band buckets, deduped")
    assert(clean.probeGrams.as[String].collect().sorted.toSeq == Seq("g1", "g2"),
      "compact must carry the frozen probe relation through the swap")
    assert(clean.baseHashes.as[String].collect().sorted.toSeq ==
      (Seq("aa", "bb") :+ md5hex("quantum chromatic lattice verse mountain ember")).sorted)
    assert(nFiles("exact") < filesBefore,
      s"compaction must shrink the exact file set (was $filesBefore)")
    // frozen scalars ride along bit-exactly
    assert(clean.nScorable == 9L && clean.threshold.contains((0.25, 3L)))
    spark.catalog.clearCache()
  }

  test("re-save swaps atomically; readers are read-only around crash leftovers; writers sweep") {
    val dir = freshDir("incr-swap")
    val n3a = new Array[Long](27 * 27 * 27)
    saveTiny(dir, n3a, nScorable = 1L, threshold = None)
    saveTiny(dir, n3a, nScorable = 2L, threshold = Some((0.5, 7L))) // overwrite
    assert(IncrementalState.load(spark, dir).nScorable == 2L)
    // crash mid-save leaves a .tmp- sibling → a READER must leave it alone
    // (deleting it could destroy a LIVE writer's in-flight stage — the
    // r14 ADVICE race); the live state still answers. Make the leftover
    // OLDER than the stage TTL so the next WRITER reclaims it — a young
    // stage is presumed in-flight and survives writers too.
    val live = new java.io.File(dir)
    val tmp = new java.io.File(live.getParentFile, s".tmp-${live.getName}-dead1234")
    assert(tmp.mkdir())
    assert(tmp.setLastModified(System.currentTimeMillis() - 25L * 3600 * 1000))
    val young = new java.io.File(live.getParentFile, s".tmp-${live.getName}-feed5678")
    assert(young.mkdir()) // fresh mtime: a possibly-live writer's stage
    // a sibling state whose name EXTENDS this one must never be swept by
    // this state's writers, however old its stage is
    val sibling = new java.io.File(live.getParentFile, s".tmp-${live.getName}-eu-aaaa1111")
    assert(sibling.mkdir())
    assert(sibling.setLastModified(System.currentTimeMillis() - 25L * 3600 * 1000))
    assert(IncrementalState.exists(spark, dir))
    assert(IncrementalState.load(spark, dir).nScorable == 2L)
    assert(tmp.exists(), "load is read-only: it must NOT sweep stages (writers do)")
    // crash AFTER moving live aside (.old- present, live gone): readers
    // answer from .old- WITHOUT renaming; exists() must not report a
    // rebuild-needed hole
    val old = new java.io.File(live.getParentFile, s".old-${live.getName}")
    assert(live.renameTo(old))
    assert(IncrementalState.exists(spark, dir),
      "a restorable .old- state must count as existing (else first-touch rebuilds over it)")
    assert(IncrementalState.load(spark, dir).nScorable == 2L)
    assert(!live.exists() && old.exists(), "load must not rename — restoring is the writer's job")
    // the next WRITER restores the live state and drops the EXPIRED
    // stage — but leaves the young (possibly in-flight) stage and the
    // sibling state's stage strictly alone
    IncrementalState.advance(spark, dir,
      Seq((700L, "onyx crater violet summit")).toDF("doc_id", "text"), "doc_id", "text")
    assert(live.exists() && !old.exists() && !tmp.exists(),
      "a writer must restore the moved-aside live state and sweep expired stages")
    assert(young.exists(),
      "a stage younger than the TTL may be a live writer's — writers must not sweep it")
    assert(sibling.exists(),
      "a sibling state's stage must never be swept by this state's writer")
    assert(IncrementalState.load(spark, dir).nScorable == 2L)
    spark.catalog.clearCache()
  }

  test("remove: a taken-down keeper stops shielding its copies; everything else intact") {
    val dir = freshDir("incr-remove")
    val novel1 = "quantum chromatic lattice verse mountain ember topaz river echo harbor"
    val base = Seq((10L, baseA), (11L, baseB)).toDF("doc_id", "text")
    val bsh = IncrementalDedup.shingled(base, "doc_id", "text")
    IncrementalState.save(spark, dir, new Array[Long](27 * 27 * 27), 7L,
      Some((0.5, 3L)), base.select(md5(col("text")).as("bh")), base, bsh,
      IncrementalDedup.bucketsOf(bsh), Seq("g1").toDF("g"))
    IncrementalState.advance(spark, dir,
      Seq((600L, novel1)).toDF("doc_id", "text"), "doc_id", "text")
    // take down the baseA keeper
    IncrementalState.remove(spark, dir, Seq(10L))
    val st = IncrementalState.load(spark, dir)
    assert(st.baseExact.select("doc_id").as[Long].collect().sorted.toSeq == Seq(11L, 600L),
      "only the doomed keeper row may vanish")
    assert(st.baseSh.filter(col("doc_id") === 10L).count() == 0 &&
      st.baseBuckets.filter(col("doc_id") === 10L).count() == 0,
      "the doomed keeper's shingles and buckets must go with it")
    assert(st.baseHashes.as[String].collect().sorted.toSeq ==
      Seq(md5hex(baseB), md5hex(novel1)).sorted,
      "exactly the doomed keeper's content hash leaves the exact-dedup set")
    // its future copies screen as NOVEL again; everyone else still shields
    val rescreen = IncrementalDedup.screenPrepared(st.baseSh, st.baseBuckets,
        Seq((900L, baseA), (901L, baseB), (902L, novel1)).toDF("doc_id", "text"),
        "doc_id", "text", 0.8)
      .collect().map(r => r.getLong(0) -> ((r.getBoolean(1), r.getLong(2)))).toMap
    assert(rescreen(900L) == ((true, -1L)),
      "a copy of the removed doc must be novel — the take-down must not keep shielding it")
    assert(rescreen(901L) == ((false, 11L)) && rescreen(902L) == ((false, 600L)),
      s"surviving keepers must still shield their copies: $rescreen")
    // frozen scalars and the probe ride along unchanged; empty remove no-ops
    assert(st.nScorable == 7L && st.threshold.contains((0.5, 3L)) &&
      st.probeGrams.as[String].collect().toSeq == Seq("g1"))
    IncrementalState.remove(spark, dir, Seq.empty)
    assert(IncrementalState.load(spark, dir).baseExact.count() == 2)
    spark.catalog.clearCache()
  }

  test("stats reports the fragmentation signal; advance into a void fails loudly") {
    // no state yet → advance must fail at the cause (a sidecar-less
    // orphan dir would otherwise poison every later load)
    val empty = freshDir("incr-void")
    val e = intercept[java.io.IOException](IncrementalState.advance(spark, empty,
      Seq((1L, baseA)).toDF("doc_id", "text"), "doc_id", "text"))
    assert(e.getMessage.contains("no incremental state"), e.getMessage)
    // stats: driver-side FS metadata an operator polls to schedule compact
    val dir = freshDir("incr-stats")
    saveTiny(dir, new Array[Long](27 * 27 * 27), nScorable = 1L, threshold = None)
    val s0 = IncrementalState.stats(spark, dir)
    assert(s0.keySet == Set("hashes", "exact", "shingles", "buckets", "partners", "probe"))
    assert(s0.values.forall(r => r.files >= 1 && r.bytes > 0L), s0)
    IncrementalState.advance(spark, dir,
      Seq((700L, "onyx crater violet summit maple")).toDF("doc_id", "text"),
      "doc_id", "text")
    IncrementalState.advance(spark, dir,
      Seq((701L, "lantern spruce velvet marble cobalt")).toDF("doc_id", "text"),
      "doc_id", "text")
    val s1 = IncrementalState.stats(spark, dir)
    Seq("hashes", "exact", "shingles", "buckets", "partners").foreach { rel =>
      assert(s1(rel).files > s0(rel).files, s"$rel gained no files: $s0 vs $s1")
    }
    assert(s1("probe").files == s0("probe").files,
      "advance never touches the frozen probe relation")
    IncrementalState.compact(spark, dir)
    val s2 = IncrementalState.stats(spark, dir)
    assert(s2("exact").files < s1("exact").files,
      s"compact must shrink what stats reports: $s1 vs $s2")
    spark.catalog.clearCache()
  }

  test("load fails loudly on a sidecar from a different format version") {
    val dir = freshDir("incr-version")
    saveTiny(dir, new Array[Long](27 * 27 * 27), nScorable = 3L, threshold = None)
    val sidecar = java.nio.file.Paths.get(dir, "_state.json")
    val raw = new String(java.nio.file.Files.readAllBytes(sidecar),
      java.nio.charset.StandardCharsets.UTF_8)
    // drop the Hadoop local-FS checksum sidecar — this test tampers with
    // the file out-of-band, which is exactly what a foreign writer does
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(dir, "._state.json.crc"))
    // a v2 sidecar whose other fields happen to parse as v1 must NOT be
    // field-matched through — silent wrong answers are the failure mode
    java.nio.file.Files.write(sidecar,
      raw.replace(s""""version":${IncrementalState.CurrentVersion}""", """"version":99""")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val e = intercept[java.io.IOException](IncrementalState.load(spark, dir))
    assert(e.getMessage.contains("version 99") &&
      e.getMessage.contains(s"version ${IncrementalState.CurrentVersion}"),
      s"error must name both versions: ${e.getMessage}")
    // the gate guards MUTATION too: advancing a foreign layout would mix
    // two formats on disk, so it must fail the same way
    val eAdv = intercept[java.io.IOException](IncrementalState.advance(spark, dir,
      Seq((1L, baseA)).toDF("doc_id", "text"), "doc_id", "text"))
    assert(eAdv.getMessage.contains("version 99"), eAdv.getMessage)
    // and a sidecar with NO version field is corrupt, not implicitly v1
    java.nio.file.Files.write(sidecar,
      raw.replaceFirst(""""version":\d+,""", "")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val e2 = intercept[java.io.IOException](IncrementalState.load(spark, dir))
    assert(e2.getMessage.contains("no version field"), e2.getMessage)
  }

  test("writer lock: a racing writer fails LOUDLY naming the holder; the state stays valid") {
    val dir = freshDir("incr-lock")
    saveTiny(dir, new Array[Long](27 * 27 * 27), nScorable = 4L, threshold = None)
    // writer A mid-compact: its lock is on disk (the deterministic half of
    // the race — the lock file IS what a concurrent compact would hold)
    val live = new java.io.File(dir)
    val lock = new java.io.File(live.getParentFile, s".lock-${live.getName}")
    java.nio.file.Files.write(lock.toPath,
      "pid@hostA thread=writer-A since=12345".getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
    // every mutating entry point must refuse — compact/remove would load,
    // rewrite, and publish over writer A's in-flight work (silent loss)
    val eC = intercept[java.io.IOException](IncrementalState.compact(spark, dir))
    assert(eC.getMessage.contains("locked by another writer") &&
      eC.getMessage.contains("writer-A"),
      s"error must name the holder: ${eC.getMessage}")
    val eA = intercept[java.io.IOException](IncrementalState.advance(spark, dir,
      Seq((1L, baseA)).toDF("doc_id", "text"), "doc_id", "text"))
    assert(eA.getMessage.contains("locked by another writer"), eA.getMessage)
    val eR = intercept[java.io.IOException](
      IncrementalState.remove(spark, dir, Seq(1L)))
    assert(eR.getMessage.contains("locked by another writer"), eR.getMessage)
    // the loser must not have torn anything: lock intact, state loads
    assert(lock.exists(), "the loser must not delete the holder's lock")
    assert(IncrementalState.load(spark, dir).nScorable == 4L,
      "readers are lock-free and the state stays valid throughout")
    // a CRASHED holder's lock (older than the TTL) is broken, loudly-but-
    // automatically: the next writer proceeds
    assert(lock.setLastModified(System.currentTimeMillis() - 25L * 3600 * 1000))
    IncrementalState.compact(spark, dir)
    assert(IncrementalState.load(spark, dir).nScorable == 4L)
    assert(!lock.exists(), "the winning writer must release the lock on exit")
    // two writers racing through the PUBLIC api: exactly one order wins —
    // serialized (both succeed) or collided (the loser names the holder);
    // in every interleaving the state remains loadable
    val results = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val racers = (0 until 2).map(_ => new Thread(() =>
      results.add(
        try { IncrementalState.compact(spark, dir); "ok" }
        catch { case e: java.io.IOException
          if e.getMessage.contains("locked by another writer") => "lost-race" })))
    racers.foreach(_.start()); racers.foreach(_.join())
    import scala.jdk.CollectionConverters._
    val outcomes = results.asScala.toSeq
    assert(outcomes.forall(r => r == "ok" || r == "lost-race"), outcomes)
    assert(outcomes.contains("ok"), s"at least one racer must win: $outcomes")
    assert(IncrementalState.load(spark, dir).nScorable == 4L)
    spark.catalog.clearCache()
  }

  test("screenPartitioned ≡ screenPrepared: canonical, appended-over-cap (dirty fold), and recompacted") {
    val dir = freshDir("incr-partscreen")
    // a hot bucket NEAR the cap: 8 base copies of baseA (cap 10), so the
    // appended batch pushes it OVER — the dirty-state fold must collapse
    // it to the min-id representative exactly like NearDup.partners would
    val base = ((20L to 27L).map(i => (i, baseA)) :+ ((12L, baseB))).toDF("doc_id", "text")
    val bsh = IncrementalDedup.shingled(base, "doc_id", "text")
    IncrementalState.save(spark, dir, new Array[Long](27 * 27 * 27), 0L, None,
      base.select(md5(col("text")).as("bh")), base, bsh,
      IncrementalDedup.bucketsOf(bsh), Seq.empty[String].toDF("g"),
      bucketCap = 10)
    val delta = Seq((100L, baseA), (101L, baseB),
      (102L, "completely different words nowhere near the base corpus at all"))
      .toDF("doc_id", "text")
    def both(st: IncrementalState.Loaded, prune: Boolean) = {
      def dec(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2))).sortBy(_._1).toSeq
      val part = dec(IncrementalDedup.screenPartitioned(
        st.baseShP, st.basePartnersP, st.pMod, st.canonical,
        delta, "doc_id", "text", 0.8, prune, st.bucketCap))
      val prep = dec(IncrementalDedup.screenPrepared(
        st.baseSh, st.baseBuckets, delta, "doc_id", "text", 0.8, st.bucketCap))
      (part, prep)
    }
    // canonical (fresh save): partner rows serve AS-IS — and must decide
    // exactly like the per-batch aggregation path, pruned or not
    val st0 = IncrementalState.load(spark, dir)
    assert(st0.canonical, "a fresh save must load canonical")
    assert(st0.pMod == IncrementalState.DefaultPMod && st0.bucketCap == 10,
      "layout params must ride the sidecar")
    Seq(true, false).foreach { p =>
      val (part, prep) = both(st0, p)
      assert(part == prep, s"canonical prune=$p: $part vs $prep")
      assert(part == Seq((100L, false, 20L), (101L, false, 12L), (102L, true, -1L)), part)
    }
    // release the screens' persisted joints BETWEEN state publishes: a
    // cached plan over the state's paths is canonically identical to the
    // post-compact one and would serve the swapped-away file list (the
    // documented retryable-reader hazard, exercised here determinstically)
    spark.catalog.clearCache()
    // advance 6 more copies: the hot bucket's true count is now 14 > 10 —
    // a DIRTY state whose fold must degrade it to rep 20, never lose it
    IncrementalState.advance(spark, dir,
      (30L to 35L).map(i => (i, baseA)).toDF("doc_id", "text"), "doc_id", "text")
    val st1 = IncrementalState.load(spark, dir)
    assert(!st1.canonical, "an advanced state must load dirty (fold required)")
    Seq(true, false).foreach { p =>
      val (part, prep) = both(st1, p)
      assert(part == prep, s"dirty prune=$p: $part vs $prep")
      assert(part.head == ((100L, false, 20L)),
        s"over-cap bucket must degrade to its min-id rep, not vanish: $part")
    }
    spark.catalog.clearCache() // see above: release before the next publish
    // compact canonicalizes: the rep row now carries cnt=14 on disk
    IncrementalState.compact(spark, dir)
    val st2 = IncrementalState.load(spark, dir)
    assert(st2.canonical, "compact must publish a canonical state")
    assert(st2.basePartners.filter(col("cnt") > 1L).count() >= 1,
      "the over-cap bucket must persist as a single collapsed rep row")
    Seq(true, false).foreach { p =>
      val (part, prep) = both(st2, p)
      assert(part == prep, s"recompacted prune=$p: $part vs $prep")
    }
    spark.catalog.clearCache()
  }

  test("pruned base-hash anti-join is bit-identical to the unpruned one (copies cut, novel kept)") {
    val dir = freshDir("incr-hashprune")
    val novel1 = "quantum chromatic lattice verse mountain ember topaz river echo harbor"
    val base = Seq((10L, baseA), (11L, baseB)).toDF("doc_id", "text")
    val bsh = IncrementalDedup.shingled(base, "doc_id", "text")
    IncrementalState.save(spark, dir, new Array[Long](27 * 27 * 27), 0L, None,
      base.select(md5(col("text")).as("bh")), base, bsh,
      IncrementalDedup.bucketsOf(bsh), Seq.empty[String].toDF("g"))
    val st = IncrementalState.load(spark, dir)
    // a copy of a base keeper (its hash must survive the prune and cut
    // the copy) and a novel doc (must pass the anti-join untouched)
    val batch = Seq((100L, baseA), (101L, novel1)).toDF("doc_id", "text")
    def anti(hashes: org.apache.spark.sql.DataFrame): Seq[Long] = batch
      .withColumn("__h", md5(col("text")))
      .join(hashes, col("__h") === col("bh"), "left_anti")
      .select("doc_id").as[Long].collect().sorted.toSeq
    val pruned = Pipeline.prunedBaseHashes(st, batch, "text")
    assert(anti(pruned) == anti(st.baseHashes),
      "pruning must not change the anti-join's outcome")
    assert(anti(pruned) == Seq(101L),
      "the base copy must be cut, the novel doc kept")
    spark.catalog.clearCache()
  }

  test("remove with a LARGE id set takes the broadcast anti-join path, output-identical to isin") {
    val novel1 = "quantum chromatic lattice verse mountain ember topaz river echo harbor"
    val base = Seq((10L, baseA), (11L, baseB), (12L, novel1)).toDF("doc_id", "text")
    val bsh = IncrementalDedup.shingled(base, "doc_id", "text")
    def build(tag: String): String = {
      val dir = freshDir(tag)
      IncrementalState.save(spark, dir, new Array[Long](27 * 27 * 27), 7L,
        Some((0.5, 3L)), base.select(md5(col("text")).as("bh")), base, bsh,
        IncrementalDedup.bucketsOf(bsh), Seq("g1").toDF("g"))
      dir
    }
    // the same take-down through both plan shapes: 1 real id via isin
    // literals, and the SAME id buried in 10K others (a bulk licensing
    // event) via the broadcast anti-join — no 10K-literal plan
    val small = build("incr-rm-small")
    IncrementalState.remove(spark, small, Seq(10L))
    val big = build("incr-rm-big")
    IncrementalState.remove(spark, big, 10L +: (1000000L to 1009999L).toSeq)
    def snapshot(dir: String) = {
      val st = IncrementalState.load(spark, dir)
      (st.baseExact.select("doc_id").as[Long].collect().sorted.toSeq,
        st.baseSh.select("doc_id").as[Long].collect().sorted.toSeq,
        st.baseBuckets.select("doc_id").as[Long].collect().sorted.toSeq,
        st.baseHashes.as[String].collect().sorted.toSeq)
    }
    val (sa, sb) = (snapshot(small), snapshot(big))
    assert(sa == sb, s"isin and anti-join removals must be output-identical:\n$sa\n$sb")
    assert(sa._1 == Seq(11L, 12L), s"exactly the doomed keeper leaves: $sa")
    spark.catalog.clearCache()
  }
}
