package graft.dedup

import graft.search.Search
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The near-duplicate spine every dedup chain shares: shingle → MinHash
  * band → skew-capped candidates → Jaccard verify. One body per step;
  * where callers differ (token vs bigram grain, pair vs star candidates,
  * one corpus vs a base/delta split) the difference is an argument the
  * caller fixes, never a user option.
  *
  *  - [[shingles]]: the distinct word n-gram set of each document
  *    (n = 1 the token set of d3/d8, n = 2 the bigram set of d4, x26 and
  *    the incremental screen).
  *  - [[buckets]] / [[spanBuckets]]: MinHash band buckets, [[Seeds]]
  *    md5 minhashes in bands of [[BandSize]], band-salted so a cross-band
  *    md5 equality never pairs documents. The DuckDB twins spell the same
  *    scheme as `'<b>:' || md5(h… )`.
  *  - [[candidatePairs]]: co-bucket pairs under the per-bucket skew cap
  *    (`Search.cappedBandPairs`: all pairs up to the cap, bucket-min star
  *    pairs above it), deduped as packed longs by the spill-friendly sort
  *    (`Search.distinctLongs`); [[starPairs]] is the star form alone,
  *    which keeps the components of the full pair set (d8).
  *  - [[partners]]: the cross-relation form of the cap — a base bucket
  *    within the cap keeps its members, an over-cap bucket collapses to
  *    its min-id representative before the candidate join.
  *  - [[verify]]: candidate pairs explode into member rows, join the
  *    shingle relation once, regroup, keep [[jaccard]] ≥ τ — the
  *    corpus-sized shingle relation crosses the wire once, never once per
  *    pair side.
  */
private[graft] object NearDup {

  /** MinHash seeds per signature and hashes per band: 2 bands × 4. */
  val Seeds = 8
  val BandSize = 4

  /** `(doc_id long, sh)`: the distinct whitespace-token n-grams of
    * `textCol` (native `WordNgrams`: fewer than n tokens or a null text →
    * empty set). n = 1 is the distinct token set itself (null for a null
    * text). */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val toks = org.apache.spark.sql.graft.WsTokens.wsTokens(col(textCol))
    val grams = if (n == 1) toks else org.apache.spark.sql.graft.WordNgrams.wordNgrams(toks, n)
    df.select(col(idCol).cast("long").as("doc_id"), array_distinct(grams).as("sh"))
  }

  /** `(doc_id, bucket)`: one row per band of each non-empty shingle set
    * (native `MinHashBands`, one digest pass per set). An empty set would
    * band into a shared null bucket; it has no rows here. */
  def buckets(sh: DataFrame): DataFrame = sh.filter(size(col("sh")) > 0)
    .select(col("doc_id"),
      explode(org.apache.spark.sql.graft.MinHashBands.bands(col("sh"), Seeds, BandSize))
        .as("bucket"))

  /** `(doc_id, span_idx, bucket)`: [[buckets]]' banding applied to each
    * fixed `span`-token window's signature (native `SpanMinHash`, row-local;
    * the tail folds into the last span). */
  def spanBuckets(docs: DataFrame, span: Int): DataFrame = {
    val bands = (0 until Seeds / BandSize).map { b =>
      concat(lit(s"$b:"), md5(concat(
        (b * BandSize until (b + 1) * BandSize).map(j => col(s"sg.h$j")): _*)))
    }
    docs
      .select(col("doc_id"),
        explode(org.apache.spark.sql.graft.SpanMinHash.spanMinHash(col("text"), span)).as("sg"))
      .select(col("doc_id"), col("sg.span_idx").as("span_idx"),
        explode(array(bands: _*)).as("bucket"))
  }

  /** Distinct `(a_id, b_id)`, a_id < b_id, over a `(idCol, bucket)`
    * relation: every co-bucket pair of a bucket with at most `cap` rows,
    * star pairs (bucket min, member) above it. Persist `buckets` first:
    * it is scanned twice. */
  def candidatePairs(buckets: DataFrame, idCol: String,
                     cap: Int = Search.LshBucketCap): DataFrame =
    Search.distinctLongs(
        Search.cappedBandPairs(buckets, idCol, "bucket", cap)
          .select(Search.packPair(col("a_id"), col("b_id")).as("pair")),
        "pair")
      .select(Search.unpackPair(col("pair")): _*)

  /** Distinct star edges `(a_id = bucket min, b_id = member)` over a
    * `(doc_id, bucket)` relation: linear in bucket rows, with the same
    * connected components as the full co-bucket pair set. */
  def starPairs(buckets: DataFrame): DataFrame = {
    val reps = buckets.groupBy(col("bucket")).agg(min(col("doc_id")).as("rep"))
    buckets.join(reps, "bucket")
      .filter(col("doc_id") =!= col("rep"))
      .select(col("rep").as("a_id"), col("doc_id").as("b_id"))
      .distinct()
  }

  /** `(bucket, base_id, cnt = 1)` partner rows of a `(doc_id, bucket)`
    * table: the unfolded input of [[partners]]. */
  def members(bb: DataFrame): DataFrame =
    bb.select(col("bucket"), col("doc_id").as("base_id"), lit(1L).as("cnt"))

  /** The cap fold over `(bucket, base_id, cnt)` partner rows, where `cnt`
    * counts the members a row stands for: a bucket whose `sum(cnt)` is at
    * most `cap` keeps its rows, an over-cap bucket becomes one
    * `(bucket, min(base_id), sum(cnt))` row. So the candidate join sees at
    * most cap rows per bucket however hot it is.
    *
    * Foldable: over a saved fold plus any appended `cnt = 1` rows,
    * `sum(cnt)` is still the bucket's member count and `min(base_id)` its
    * min id (a rep row is its bucket's saved min and carries every member
    * it collapsed), and a bucket at or under the cap can hold no rep row
    * (a rep alone carries more than cap). Folding the grown rows therefore
    * equals folding the grown bucket table's [[members]] — the state's
    * append-only maintenance relies on it. Identity on a fold. */
  def partners(rows: DataFrame, cap: Int): DataFrame = {
    val stats = rows.groupBy(col("bucket"))
      .agg(sum(col("cnt")).as("bn"), min(col("base_id")).as("rep"))
    rows.join(stats.filter(col("bn") <= cap).select(col("bucket")), "bucket")
      .select(col("bucket"), col("base_id"), col("cnt"))
      .unionByName(stats.filter(col("bn") > cap)
        .select(col("bucket"), col("rep").as("base_id"), col("bn").as("cnt")))
  }

  /** |a ∩ b| / |a ∪ b| of two string sets; null when the union is empty. */
  def jaccard(a: Column, b: Column): Column =
    when(size(array_union(a, b)) > 0,
      size(array_intersect(a, b)).cast("double") / size(array_union(a, b)))

  /** The `(a_id, b_id)` candidate pairs whose shingle sets, both from the
    * one `(doc_id, sh)` relation `sh`, have [[jaccard]] ≥ `tau`. Each pair
    * explodes into its two member rows, which join `sh` once; the naive
    * pairs ⋈ sh(a) ⋈ sh(b) form shuffled the array column twice (the two
    * heaviest stages of x26 in the round-12 profile). */
  def verify(pairs: DataFrame, sh: DataFrame, tau: Double): DataFrame =
    regroup(pairs, sh, Seq("doc_id"), tau)

  /** [[verify]] with `a_id` drawn from `aSh` and `b_id` from `bSh`: the
    * side travels in the join key, so an id present in both relations
    * still compares the right two sets. */
  def verify(pairs: DataFrame, aSh: DataFrame, bSh: DataFrame, tau: Double): DataFrame =
    regroup(pairs,
      aSh.withColumn("__side", lit(0)).unionByName(bSh.withColumn("__side", lit(1))),
      Seq("doc_id", "__side"), tau)

  private def regroup(pairs: DataFrame, sh: DataFrame, keys: Seq[String],
                      tau: Double): DataFrame =
    pairs
      .select(col("a_id"), col("b_id"),
        explode(array(
          struct(col("a_id").as("doc_id"), lit(0).as("__side")),
          struct(col("b_id").as("doc_id"), lit(1).as("__side")))).as("m"))
      .select(col("a_id"), col("b_id"),
        col("m.doc_id").as("doc_id"), col("m.__side").as("__side"))
      .join(sh.select((keys :+ "sh").map(col): _*), keys)
      .groupBy(col("a_id"), col("b_id"))
      .agg(
        first(when(col("__side") === 0, col("sh")), ignoreNulls = true).as("a_sh"),
        first(when(col("__side") === 1, col("sh")), ignoreNulls = true).as("b_sh"))
      .filter(jaccard(col("a_sh"), col("b_sh")) >= tau)
      .select(col("a_id"), col("b_id"))
}
