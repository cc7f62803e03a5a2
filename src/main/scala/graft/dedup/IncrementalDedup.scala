package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Incremental near-duplicate screening: dedup a DELTA batch against an
  * already-curated BASE corpus — the production shape of dedup at 100 TB,
  * where yesterday's corpus is settled and only the new crawl must be
  * screened (re-pairing base↔base on every ingest would redo O(corpus)
  * work per batch; this operator's work is O(delta + touched buckets)).
  *
  * Scheme: the [[NearDup]] spine x26 and d3 hash-check, on BOTH sides —
  * word-bigram shingles, MinHash band buckets, candidates = delta docs
  * joining base docs on a shared bucket, shingle Jaccard ≥ τ — then per
  * delta doc the min-id matching base doc.
  *
  * Scale shape, stated:
  * - the base side's banding is a relation a deployment PERSISTS between
  *   batches (the bucket table on disk — [[graft.incremental.IncrementalState]]
  *   is the save/load path); only the delta's banding is computed per
  *   ingest, and the candidate join is an equi-join on bucket — never a
  *   cross product;
  * - base-side skew is capped by [[NearDup.partners]] BEFORE the
  *   candidate join (an over-cap bucket contributes only its min-id
  *   representative, which still gives every delta doc in it a verified
  *   decision against the cluster's keeper);
  * - the delta side needs no cap: each delta doc probes exactly its own
  *   band buckets;
  * - verification is [[NearDup.verify]]'s side-tagged form: the shingle
  *   relation crosses the wire once, and ids need NOT be disjoint across
  *   base and delta.
  *
  * Output: one row per DELTA doc — (doc_id, novel, dup_of), where dup_of
  * is the smallest base doc_id whose shingle Jaccard ≥ τ, or −1 when
  * novel. Intermediates persist until the caller's clearCache (the d3/d7
  * lifecycle).
  */
object IncrementalDedup {

  /** The `(doc_id, sh)` word-bigram shingle relation of a corpus side —
    * the verification-time artifact a deployment persists for the base
    * ([[graft.incremental.IncrementalState]]). */
  private[graft] def shingled(df: DataFrame, idCol: String, textCol: String): DataFrame =
    NearDup.shingles(df, idCol, textCol, 2)

  /** The `(doc_id, bucket)` band-bucket relation of a shingle relation. */
  private[graft] def bucketsOf(sh: DataFrame): DataFrame = NearDup.buckets(sh)

  def screen(base: DataFrame, delta: DataFrame,
             idCol: String, textCol: String,
             tau: Double,
             bucketCap: Int = graft.search.Search.LshBucketCap): DataFrame = {
    // base shingles are scanned twice (banding + verification)
    val bsh = shingled(base, idCol, textCol).persist()
    val bb = bucketsOf(bsh).persist() // scanned twice: stats + partner join
    screenPrepared(bsh, bb, delta, idCol, textCol, tau, bucketCap)
  }

  /** [[screen]] against PRE-BUILT base artifacts — the warm ingest path:
    * `baseSh` and `baseBuckets` come from a persisted
    * [[graft.incremental.IncrementalState]] (parquet scans), so a batch's
    * screening re-derives NOTHING base-sided. It is [[screenPartitioned]]
    * over the canonical fold of `baseBuckets`, unpruned: only the
    * provenance of the base relations differs from [[screen]]. */
  def screenPrepared(baseSh: DataFrame, baseBuckets: DataFrame,
                     delta: DataFrame,
                     idCol: String, textCol: String,
                     tau: Double,
                     bucketCap: Int = graft.search.Search.LshBucketCap): DataFrame =
    screenPartitioned(baseSh,
      NearDup.partners(NearDup.members(baseBuckets), bucketCap),
      pMod = 1, canonical = true, delta, idCol, textCol, tau, prune = false, bucketCap)

  /** The state's mod-space partition keys — the ONE definition both the
    * write side ([[graft.incremental.IncrementalState]] lays `buckets/`,
    * `partners/` out by [[pbOf]] and `shingles/` by [[pdOf]]) and the
    * read side ([[screenPartitioned]] turns a batch's bounded bucket /
    * candidate-id sets into partition `isin` filters) must share, or a
    * pruned scan silently drops the files the batch needed. Murmur3
    * (`hash`) is seed-fixed and stable across sessions and JVMs. */
  private[graft] def pbOf(bucket: Column, pMod: Int): Column =
    pmod(hash(bucket), lit(pMod)).cast("int")
  private[graft] def pdOf(docId: Column, pMod: Int): Column =
    pmod(hash(docId), lit(pMod)).cast("int")
  private[graft] def phOf(bh: Column, pMod: Int): Column =
    pmod(hash(bh), lit(pMod)).cast("int")

  /** The one screen body, against the state's PARTITIONED artifacts — the
    * 100-TB warm path. Two O(corpus)-per-ingest terms of a plain warm
    * screen disappear here:
    *
    *  1. no per-batch base aggregation: `partnersP` is the PERSISTED
    *     capped partner relation (maintained by the state — see
    *     [[NearDup.partners]]' foldable invariant), so the
    *     whole-relation `groupBy(bucket)` of the cap is already on disk.
    *     When the state is CANONICAL (no appends since the last
    *     save/compact) the rows are used AS-IS — zero aggregation; after
    *     appends ([[canonical]] = false) the cap is re-folded EXACTLY, but
    *     only over the batch's touched buckets;
    *  2. pruned reads (`prune = true`): the batch's band buckets map to
    *     a bounded `pb` set and its verified candidates to a bounded `pd`
    *     set — pushed down as partition filters, so a small batch READS
    *     a small subset of the corpus-sized relations' files instead of
    *     scanning them whole (the one surviving O(corpus) read term).
    *     Computing the two sets costs two bounded driver actions over
    *     batch-derived frames — O(batch), never O(corpus) — which is why
    *     the flag exists: a fixture-shaped batch that is a double-digit
    *     percentage OF the corpus touches every partition, pays the
    *     actions, and prunes nothing (x31Warm passes `prune = false`);
    *     a production trickle batch prunes almost everything
    *     (warmScreenAccepted passes `prune = true`). `pMod` is read only
    *     when pruning.
    *
    * Decisions are the same for any partner rows that fold to the same
    * relation (spec-pinned, including states whose appends pushed a
    * bucket over the cap). */
  def screenPartitioned(baseShP: DataFrame,   // (doc_id, sh[, pd])
                        partnersP: DataFrame, // (bucket, base_id, cnt[, pb])
                        pMod: Int, canonical: Boolean,
                        delta: DataFrame,
                        idCol: String, textCol: String,
                        tau: Double, prune: Boolean,
                        bucketCap: Int = graft.search.Search.LshBucketCap): DataFrame = {
    val dsh = shingled(delta, idCol, textCol).persist()
    val dbk = bucketsOf(dsh).select(col("bucket"), col("doc_id").as("delta_id"))
    val cand = prunedCandidates(partnersP, pMod, canonical, dbk, prune, bucketCap)
    val bsh =
      if (!prune) baseShP.select(col("doc_id"), col("sh"))
      else {
        // bounded action #2: the candidates' base ids → pd partition set
        // (cand is persisted inside prunedCandidates for exactly this)
        val pdVals = cand.select(pdOf(col("base_id"), pMod).as("pd"))
          .distinct().collect().map(_.getInt(0)).toSeq
        val pruned = if (pdVals.size >= pMod) baseShP
                     else baseShP.filter(col("pd").isin(pdVals: _*))
        pruned.select(col("doc_id"), col("sh"))
      }
    decide(bsh, dsh, cand, delta, idCol, tau)
  }

  /** The candidate (delta_id, base_id) pairs of a batch against the
    * persisted partner relation — [[screenPartitioned]]'s first half,
    * exposed for plan pinning. With `prune`, the result is PERSISTED
    * (the pd-set action and the verification both consume it). */
  private[graft] def prunedCandidates(partnersP: DataFrame, pMod: Int,
                                      canonical: Boolean, dbk: DataFrame,
                                      prune: Boolean, bucketCap: Int): DataFrame = {
    val pPruned =
      if (!prune) partnersP
      else {
        // bounded action #1: the batch's band buckets → pb partition set
        val pbVals = dbk.select(pbOf(col("bucket"), pMod).as("pb"))
          .distinct().collect().map(_.getInt(0)).toSeq
        if (pbVals.size >= pMod) partnersP
        else partnersP.filter(col("pb").isin(pbVals: _*))
      }
    val partners =
      if (canonical) pPruned
      else {
        // appended rows since the last save: re-fold the cap, but only
        // over the batch's touched buckets (broadcast semijoin keeps
        // whole buckets, so the fold stays exact)
        val touched = pPruned
          .join(broadcast(dbk.select("bucket").distinct()), Seq("bucket"), "left_semi")
        NearDup.partners(touched, bucketCap)
      }
    val cand = dbk.join(partners.select(col("bucket"), col("base_id")), "bucket")
      .select(col("delta_id"), col("base_id"))
      .distinct()
    if (prune) cand.persist() else cand
  }

  /** Verification + decision tail: [[NearDup.verify]]'s side-tagged form
    * (delta side `a`, base side `b` — overlapping ids stay apart), then
    * per delta doc the min-id verified base doc. */
  private def decide(bsh: DataFrame, dsh: DataFrame, cand: DataFrame,
                     delta: DataFrame, idCol: String, tau: Double): DataFrame = {
    val verified = NearDup.verify(
      cand.select(col("delta_id").as("a_id"), col("base_id").as("b_id")), dsh, bsh, tau)
    val matched = verified.groupBy(col("a_id"))
      .agg(min(col("b_id")).as("__dup"))
    delta.select(col(idCol).cast("long").as("doc_id"))
      .join(matched, col("doc_id") === col("a_id"), "left")
      .select(col("doc_id"), col("__dup").isNull.as("novel"),
        coalesce(col("__dup"), lit(-1L)).as("dup_of"))
  }
}
