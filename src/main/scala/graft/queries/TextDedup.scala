package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data-pipeline operators over `documents`: deduplication
  * (exact hash, MinHash+LSH banding, n-gram Jaccard) and text analysis
  * (token counting, quality scoring, fingerprinting). All are built on a
  * cross-engine-reproducible hash (md5) so DuckDB oracles check the full
  * pipeline, not just row counts.
  */
object TextDedup {

  private[graft] def tokens(text: Column): Column =
    org.apache.spark.sql.graft.WsTokens.wsTokens(text)

  // ---- dedup ----

  // D1 exact dedup: hash-groupBy on content hash; keeper = min id.
  private val d1 = Q(
    "d1_exact_dedup",
    (s, d) => Tables.documents(s, d)
      .select(col("doc_id"), md5(col("text")).as("h"))
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
      .orderBy("h"),
    Some("""SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n_dups
            FROM documents GROUP BY md5(text) ORDER BY h"""))

  /** MinHash signature column j: min over distinct tokens of
    * md5("<j>:" + token). md5 is identical across engines, so signatures
    * (and thus LSH bands) are oracle-checkable — unlike engine-native
    * hash functions.
    *
    * Computed ROW-LOCAL (array_min over the token array) — no
    * explode/distinct/groupBy shuffle. At 100 TB the signature stage is a
    * narrow map pipelined into the scan; only LSH banding shuffles.
    */
  private def sigCols(n: Int): Seq[Int] = 0 until n

  private def withDistinctToks(df: DataFrame): DataFrame =
    df.withColumn("__dtoks", array_distinct(tokens(col("text"))))

  // D2 MinHash signatures (8 hashes) — ONE native MinHashSigs pass (the
  // banding kernel's digest-min loop without the banding): the former 8
  // array_min(transform(md5)) columns each re-scanned the token array
  // with an interpreted lambda (HOFs never codegen; see WordNgrams).
  // Values are pinned identical in SigKernelSpec.
  private val d2 = Q(
    "d2_minhash_sig",
    (s, d) => withDistinctToks(Tables.spread(Tables.documents(s, d)))
      .withColumn("__sigs",
        org.apache.spark.sql.graft.MinHashBands.sigs(col("__dtoks"), 8))
      .select(col("doc_id") +:
        sigCols(8).map(j => element_at(col("__sigs"), j + 1).as(s"h$j")): _*)
      .orderBy("doc_id"),
    Some(s"""SELECT doc_id,
             ${sigCols(8).map(j => s"min(md5('$j:' || tok)) AS h$j").mkString(", ")}
             FROM (SELECT DISTINCT doc_id, unnest(string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+')) AS tok
                   FROM documents)
             GROUP BY doc_id ORDER BY doc_id"""))

  /** The token-set band buckets of the whole corpus — the candidate
    * input of d3 (pairs) and d8 (clustering), both [[graft.dedup.NearDup]]
    * at token grain. */
  private def bandBuckets(s: SparkSession, d: String): DataFrame =
    graft.dedup.NearDup.buckets(
      graft.dedup.NearDup.shingles(Tables.spread(Tables.documents(s, d)), "doc_id", "text", 1))

  /** Star edges of the MinHash-LSH candidate graph: one (bucket-min-doc →
    * member) edge per band-bucket membership — provably the same connected
    * components as the full co-bucket pair set while staying LINEAR in
    * bucket rows (every co-bucket pair is connected through the bucket's
    * rep). The dedup-clustering edge input (d8), public as the pipeline
    * building block; also the sf0.1-scale CC witness input in
    * ComponentsSpec. `docCap` restricts the cohort (d8's oracle pins one);
    * the default is the whole corpus. The bucket relation is persisted
    * (scanned for reps + the join); lifecycle = caller's clearCache, as
    * with d3/d7. */
  def starEdges(s: SparkSession, d: String,
                docCap: Long = Long.MaxValue): DataFrame =
    graft.dedup.NearDup.starPairs(
      bandBuckets(s, d).filter(col("doc_id") < docCap).persist())

  /** Row-local word n-gram shingles over a BOUND token-array attribute
    * (never the split expression itself — a textually repeated split
    * re-tokenizes the document per element access, O(n_grams × n_tokens)
    * per row; see x11). Guarded: fewer than n tokens → empty array (the
    * twins' `range(1, len − n + 2)` is empty there too; an unguarded
    * `sequence` would run DESCENDING and hit index 0). Shared by d4
    * (bigrams), x6 (trigrams) and x11 (5-grams). */
  // Native kernel (org.apache.spark.sql.graft.WordNgrams): HOF lambdas
  // evaluate interpretively per element — the former
  // transform(sequence(...), i => concat_ws(...)) form cost ~12 s wall
  // at sf0.1 for the 5-gram pass alone (19 µs/gram); the kernel is the
  // same semantics (incl. the null/short → empty-array guard and
  // concat_ws null-token skipping) as one compiled loop.
  private[graft] def wordNgrams(toks: Column, n: Int): Column =
    org.apache.spark.sql.graft.WordNgrams.wordNgrams(toks, n)

  // D3 LSH candidate pairs: docs sharing any token-set band bucket — a
  // join on band hash, never an O(n²) compare. Skew cap and packed
  // sort-dedup are NearDup.candidatePairs', mirrored in the oracle SQL.
  private val d3 = Q(
    "d3_minhash_lsh_pairs",
    (s, d) => {
      // persisted: the cap scans its input twice (bucket stats +
      // self-join); lifecycle = the harness clearCache, as with d7
      val buckets = bandBuckets(s, d).persist()
      // persist before the global sort: range-partitioning samples its
      // child, which would otherwise re-execute the pair pipeline
      val pairs = graft.dedup.NearDup.candidatePairs(buckets, "doc_id").persist()
      // the sort dedup's typed longs are NOT NULL; d3 publishes nullable
      // ids (its schema before that dedup), a tag with no runtime effect
      import org.apache.spark.sql.graft.GraftKernel.{column, expr}
      pairs.select(Seq("a_id", "b_id").map(c => column(
          org.apache.spark.sql.catalyst.expressions.KnownNullable(expr(col(c)))).as(c)): _*)
        .orderBy("a_id", "b_id")
    },
    Some("""WITH tok AS (SELECT DISTINCT doc_id,
                         unnest(string_split_regex(trim(text), '[ \t\n\x0b\f\r]+')) AS tok FROM documents),
                 sig AS (SELECT doc_id,
                         min(md5('0:' || tok)) AS h0, min(md5('1:' || tok)) AS h1,
                         min(md5('2:' || tok)) AS h2, min(md5('3:' || tok)) AS h3,
                         min(md5('4:' || tok)) AS h4, min(md5('5:' || tok)) AS h5,
                         min(md5('6:' || tok)) AS h6, min(md5('7:' || tok)) AS h7
                         FROM tok GROUP BY doc_id),
                 buck AS (SELECT doc_id, '0:' || md5(h0 || h1 || h2 || h3) AS bucket FROM sig
                          UNION ALL
                          SELECT doc_id, '1:' || md5(h4 || h5 || h6 || h7) FROM sig),
                 bs AS (SELECT bucket, count(*) AS bn, min(doc_id) AS rep
                        FROM buck GROUP BY 1),
                 pairs AS (
                   SELECT a.doc_id AS a_id, b.doc_id AS b_id FROM buck a
                   JOIN buck b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
                   JOIN bs s ON s.bucket = a.bucket WHERE s.bn <= 1000
                   UNION
                   SELECT s.rep, a.doc_id FROM buck a
                   JOIN bs s ON s.bucket = a.bucket
                   WHERE s.bn > 1000 AND a.doc_id <> s.rep)
            SELECT DISTINCT a_id, b_id FROM pairs ORDER BY a_id, b_id"""))

  // D4 n-gram (word-bigram shingle) Jaccard on a bounded pair set.
  private val d4 = Q(
    "d4_ngram_jaccard",
    (s, d) => {
      val sh = graft.dedup.NearDup.shingles(
        Tables.documents(s, d).filter(col("doc_id") < 40), "doc_id", "text", 2)
      val a = sh.select(col("doc_id").as("a_id"), col("sh").as("a_sh"))
      val b = sh.select(col("doc_id").as("b_id"), col("sh").as("b_sh"))
      a.crossJoin(b).filter(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"),
          // two sub-2-token docs both have EMPTY shingle sets: null
          // matches the twin's x/0
          round(graft.dedup.NearDup.jaccard(col("a_sh"), col("b_sh")), 6).as("jaccard"))
        .orderBy("a_id", "b_id")
    },
    Some("""WITH sh AS (
              SELECT doc_id,
                     list_distinct(list_transform(range(1, len(toks)),
                       i -> toks[i] || ' ' || toks[i + 1])) AS shingles
              FROM (SELECT doc_id, string_split_regex(trim(text), '[ \t\n\x0b\f\r]+') AS toks
                    FROM documents WHERE doc_id < 40))
            SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                   round(len(list_intersect(a.shingles, b.shingles))::DOUBLE /
                         len(list_distinct(list_concat(a.shingles, b.shingles))), 6) AS jaccard
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            ORDER BY a_id, b_id"""))

  // D6 SimHash: 16-bit signature. Bit j = majority vote over distinct
  // tokens of the j-th md5 nibble's high bit. Row-local (no shuffle);
  // md5-based so the oracle computes identical signatures.
  private val d6 = Q(
    "d6_simhash",
    (s, d) =>
      // native SimHash kernel: one digest pass per token drives all 16
      // bit counters (the former per-bit size(filter(...)) expressions
      // each re-scanned the md5 array interpretively — 16 HOF lambdas
      // per row; see WordNgrams). Values pinned identical in
      // SigKernelSpec, incl. the null-token and null-array chains.
      withDistinctToks(Tables.spread(Tables.documents(s, d)))
        .select(col("doc_id"),
          org.apache.spark.sql.graft.SimHash.simhash16(col("__dtoks")).as("simhash"))
        .orderBy("doc_id"),
    Some {
      val bits = (0 until 16).map { j =>
        s"""CASE WHEN 2 * len(list_filter(dtoks, t ->
           | substr(md5(t), ${j + 1}, 1) IN ('8','9','a','b','c','d','e','f')))
           | > len(dtoks) THEN ${1L << j} ELSE 0 END""".stripMargin.replace("\n", " ")
      }.mkString(" + ")
      s"""SELECT doc_id, ($bits)::BIGINT AS simhash
          FROM (SELECT doc_id,
                list_distinct(string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+')) AS dtoks
                FROM documents)
          ORDER BY doc_id"""
    })

  // D8 dedup clusters: connected components over the d3 MinHash-LSH
  // candidate graph — the pipeline step between candidate generation and
  // "keep one document per duplicate cluster" (filter comp_id = doc_id).
  //
  // The edge set is STAR EDGES, not materialized pairs: two docs are
  // candidates iff they share a band bucket, and (bucket-min-doc →
  // member) edges produce EXACTLY the same connected components as the
  // full co-bucket pair set while staying LINEAR in bucket rows — at
  // 100 TB the quadratic pair list exists only for pair-scoring queries
  // (d3/d7); clustering never needs it. Spark runs
  // graft.dedup.Components (min-label propagation + pointer jumping,
  // O(log diameter) shuffle rounds); the twin re-derives the identical
  // fixpoint as a recursive-CTE label closure over the same star edges.
  // The closure accumulates O(component²) label rows, so the query pins
  // a fixed cohort (full corpus at sf0.001/sf0.01, caps sf0.1+ — the
  // st3/rest1 fixed-input precedent for keeping the baseline honest).
  private val D8DocCap = 3000
  private val d8 = Q(
    "d8_dedup_components",
    (s, d) => {
      val docs = Tables.documents(s, d).filter(col("doc_id") < D8DocCap)
      // the SAME bucket relation as d3 (shared bandBuckets inside
      // starEdges), cohort-filtered (the doc_id predicate pushes below
      // the generate and the row-local signature projections to the
      // scan); buckets persist until the harness clearCache (d3/d7
      // accounting). Components releases superseded per-round
      // checkpoints itself; only the FINAL labels' block-set stays
      // pinned while this frame is consumed (a long-lived session done
      // with the result frees it via Components.release)
      // size-gated CC (the x26 path): labeling is identical to the
      // distributed loop (ComponentsSpec asserts equality on mixed
      // clique/chain/star graphs), so the hash is indifferent to the
      // gate — the fixed 3000-doc cohort's star-edge graph sits far
      // under the 1M-edge cap and skips ~4 s of per-round scheduling;
      // a 100-TB candidate graph trips the count gate and takes the
      // pointer-jumping loop automatically
      val edges = starEdges(s, d, D8DocCap)
      val comps = graft.dedup.Components.connectedComponentsAuto(edges, "a_id", "b_id")
      graft.dedup.Components.assign(docs, "doc_id", comps).orderBy("doc_id")
    },
    Some(s"""WITH RECURSIVE
         tok AS (SELECT DISTINCT doc_id,
                 unnest(string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+')) AS tok
                 FROM documents WHERE doc_id < $D8DocCap),
         sig AS (SELECT doc_id,
                 min(md5('0:' || tok)) AS h0, min(md5('1:' || tok)) AS h1,
                 min(md5('2:' || tok)) AS h2, min(md5('3:' || tok)) AS h3,
                 min(md5('4:' || tok)) AS h4, min(md5('5:' || tok)) AS h5,
                 min(md5('6:' || tok)) AS h6, min(md5('7:' || tok)) AS h7
                 FROM tok GROUP BY doc_id),
         buck AS (SELECT doc_id, '0:' || md5(h0 || h1 || h2 || h3) AS bucket FROM sig
                  UNION ALL
                  SELECT doc_id, '1:' || md5(h4 || h5 || h6 || h7) FROM sig),
         bs AS (SELECT bucket, min(doc_id) AS rep FROM buck GROUP BY 1),
         pairs AS (SELECT DISTINCT s.rep AS a_id, a.doc_id AS b_id
                   FROM buck a JOIN bs s USING (bucket)
                   WHERE a.doc_id <> s.rep),
         e2 AS (SELECT a_id AS src, b_id AS dst FROM pairs
                UNION SELECT b_id, a_id FROM pairs),
         lbl(id, comp) AS (
           SELECT doc_id, doc_id FROM documents WHERE doc_id < $D8DocCap
           UNION
           SELECT e.dst, l.comp FROM e2 e JOIN lbl l ON l.id = e.src),
         comp AS (SELECT id AS doc_id, min(comp) AS comp_id FROM lbl GROUP BY id),
         sizes AS (SELECT comp_id, count(*) AS comp_size FROM comp GROUP BY comp_id)
         SELECT c.doc_id, c.comp_id, s.comp_size
         FROM comp c JOIN sizes s USING (comp_id) ORDER BY doc_id"""))

  // ---- text analysis ----

  // X3 language-ID: char-trigram profile scoring (Cavnar–Trenkle / CLD
  // style — see LangId), deterministic priority argmax (en > de > es > fr
  // on ties). Engine expression and oracle SQL are generated from the SAME
  // profile tables.
  private val x3 = Q(
    "x3_language_id",
    (s, d) => LangId.annotate(Tables.documents(s, d), "text", "lang_pred")
      .select(col("doc_id"), col("lang_pred"))
      .orderBy("doc_id"),
    Some(LangId.langIdSql))

  // X8 language-ID parity on ACCENTED text. The sf0.01 corpus is 100%
  // ASCII, so x3 alone never exercises the accented branch of the shared
  // normalization (the exact gap VERDICT r5 #1 flagged). The multilingual
  // fixture lives in code and is inlined into the oracle as VALUES, so
  // DuckDB runs the identical KeepChars regex over the identical bytes.
  private val x8 = Q(
    "x8_langid_accented",
    (s, _) => {
      import s.implicits._
      LangId.annotate(
          LangId.fixture.zipWithIndex
            .map { case ((_, text), i) => (i.toLong, text) }
            .toDF("doc_id", "text"),
          "text", "lang_pred")
        .select(col("doc_id"), col("lang_pred"))
        .orderBy("doc_id")
    },
    Some(LangId.langIdSqlOver(LangId.fixtureRel)))

  // X5 BPE-ish regex token count (letter runs / digit runs / punct runs,
  // optionally space-prefixed — a GPT-2-style pre-tokenizer shape).
  private val x5 = Q(
    "x5_bpe_token_count",
    (s, d) => Tables.documents(s, d)
      .select(col("doc_id"),
        size(regexp_extract_all(lower(col("text")),
          lit(" ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+"), lit(0)))
          .cast("long").as("n_bpe_tokens"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id,
            len(regexp_extract_all(lower(text), ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+', 0))
              AS n_bpe_tokens
            FROM documents ORDER BY doc_id"""))

  // X1 token counting (whitespace tokenization).
  private val x1 = Q(
    "x1_token_count",
    (s, d) => Tables.documents(s, d)
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars_m"),
        // the native byte-scan count — == size(tokens(text)) by
        // TokenCountSpec's property test and this oracle hash
        org.apache.spark.sql.graft.TokenCount.tokenCount(col("text"))
          .cast("long").as("n_tokens"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id, length(text) AS n_chars_m,
            len(string_split_regex(trim(text), '[ \t\n\x0b\f\r]+')) AS n_tokens
            FROM documents ORDER BY doc_id"""))

  // X2 quality scoring: stopword ratio, alpha ratio, mean token length.
  private val x2 = Q(
    "x2_quality_score",
    (s, d) => {
      val toks = tokens(col("text"))
      val nTok = size(toks)
      val nStop = size(filter(toks, t => t.isin("the", "a")))
      val alpha = org.apache.spark.sql.graft.TextScrub.alphaCountCol(col("text"))
      Tables.documents(s, d)
        .select(col("doc_id"),
          round(nStop.cast("double") / nTok, 6).as("stop_ratio"),
          // empty text: ANSI division would THROW on length 0; null
          // matches the twin's x/0 = NULL (nTok is safe: split of '' is
          // [''], never empty)
          round(when(length(col("text")) > 0,
            alpha.cast("double") / length(col("text"))), 6).as("alpha_ratio"),
          round((length(col("text")) - nTok + 1).cast("double") / nTok, 6)
            .as("mean_tok_len"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
            round(len(list_filter(toks, t -> t IN ('the', 'a')))::DOUBLE / len(toks), 6) AS stop_ratio,
            round(CASE WHEN length(text) > 0 THEN length(regexp_replace(text, '[^a-z]', '', 'g'))::DOUBLE / length(text) END, 6) AS alpha_ratio,
            round((length(text) - len(toks) + 1)::DOUBLE / len(toks), 6) AS mean_tok_len
            FROM (SELECT doc_id, text, string_split_regex(trim(text), '[ \t\n\x0b\f\r]+') AS toks
                  FROM documents)
            ORDER BY doc_id"""))

  // X4 document fingerprint (key-collision method: sorted distinct tokens → md5).
  private val x4 = Q(
    "x4_fingerprint",
    (s, d) => Tables.documents(s, d)
      .select(col("doc_id"),
        md5(array_join(array_sort(array_distinct(tokens(col("text")))), " "))
          .as("fingerprint"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id,
            md5(array_to_string(list_sort(list_distinct(
              string_split_regex(trim(text), '[ \t\n\x0b\f\r]+'))), ' ')) AS fingerprint
            FROM documents ORDER BY doc_id"""))

  // X9 END-TO-END CURATION PIPELINE — the composition a training-data
  // user actually runs, as ONE hash-checked query: quality gate (alpha
  // ratio + min tokens, the x2 signals) → exact-dedup keeper (d1's
  // min-id-per-content-hash) → deterministic stratified mixture sample
  // (x7's per-source hash-order 30%). Every stage is a narrow map or a
  // single keyed shuffle; nothing materializes to the driver, so the
  // same plan runs at 100 TB. Proves the operators COMPOSE: filters
  // before shuffles (quality gate prunes the dedup shuffle), dedup
  // before sampling (sample fractions apply to unique docs).
  private val x9 = Q(
    "x9_curation_pipeline",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val quality = Tables.documents(s, d)
        // only the COUNT is consumed — the native byte scan, not a
        // materialized token array (same kernel as x1/x12)
        .withColumn("n_tokens",
          org.apache.spark.sql.graft.TokenCount.tokenCount(col("text")).cast("long"))
        .withColumn("alpha_ratio",
          // empty-text guard: see x2 — null (gate reject) instead of an
          // ANSI divide-by-zero throw
          when(length(col("text")) > 0,
            org.apache.spark.sql.graft.TextScrub.alphaCountCol(col("text")).cast("double") /
              length(col("text"))))
        .filter(col("alpha_ratio") >= 0.6 && col("n_tokens") >= 5)
      val deduped = quality
        .withColumn("h", md5(col("text")))
        .withColumn("keep_id", min(col("doc_id")).over(
          Window.partitionBy(col("h"))))
        .filter(col("doc_id") === col("keep_id"))
      val w = Window.partitionBy(col("source"))
        .orderBy(md5(concat_ws(":", col("doc_id"), lit("mix"))))
      deduped
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("source"))))
        .filter(col("rn") <= ceil(lit(0.3) * col("n")))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          (round(col("alpha_ratio"), 6) + 0.0).as("alpha_ratio"))
        .orderBy("doc_id")
    },
    Some("""WITH q AS (
              SELECT doc_id, source, text,
                     len(string_split_regex(trim(text), '[ \t\n\x0b\f\r]+')) AS n_tokens,
                     CASE WHEN length(text) > 0 THEN length(regexp_replace(text, '[^a-z]', '', 'g'))::DOUBLE
                       / length(text) END AS alpha_ratio
              FROM documents),
            qf AS (SELECT * FROM q WHERE alpha_ratio >= 0.6 AND n_tokens >= 5),
            dd AS (SELECT *,
                     min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
                   FROM qf),
            kept AS (SELECT * FROM dd WHERE doc_id = keep_id),
            r AS (SELECT *,
                    row_number() OVER (PARTITION BY source
                      ORDER BY md5(doc_id::VARCHAR || ':mix')) AS rn,
                    count(*) OVER (PARTITION BY source) AS n
                  FROM kept)
            SELECT doc_id, source, n_tokens,
                   round(alpha_ratio, 6) + 0.0 AS alpha_ratio
            FROM r WHERE rn <= ceil(0.3 * n) ORDER BY doc_id"""))

  // X11 benchmark-contamination screening: the decontamination step of a
  // training-data pipeline — for every corpus document, the fraction of
  // its word 5-gram shingles that appear ANYWHERE in a probe ("benchmark")
  // set. Shingles are row-local (d4's transform/sequence shape) and ride
  // as md5 hashes; the probe side collapses to its DISTINCT gram hashes.
  // Scale shape: the benchmark set is always tiny next to a 100-TB corpus,
  // so the membership test is a BROADCAST left-semi-shaped join on the
  // gram hash (here: broadcast + left join + count of hits) — the corpus
  // is scanned once, never shuffled on grams. Probe = doc_id < 20 (a
  // stand-in benchmark; the operator is id-set-parameterized in spirit).
  private val X11N = 5
  private val X11ProbeCap = 20
  /** Distinct md5 hashes of the document's word 5-grams ([[wordNgrams]];
    * `toks` MUST be a bound attribute — see the helper's aliasing note:
    * unaliased, this path measured 33 s instead of 0.3 s at sf0.1). */
  private[queries] def gramHashes(toks: Column): Column =
    org.apache.spark.sql.graft.WordNgrams.gramHashes(toks, X11N)
  private val x11 = Q(
    "x11_contamination",
    (s, d) => {
      val docs = Tables.documents(s, d)
        .withColumn("toks", tokens(col("text")))
        .withColumn("grams", gramHashes(col("toks")))
      val probe = docs.filter(col("doc_id") < X11ProbeCap)
        .select(explode(col("grams")).as("g")).distinct()
      val corpus = docs.filter(col("doc_id") >= X11ProbeCap)
        .select(col("doc_id"), size(col("grams")).cast("long").as("n_grams"),
          explode_outer(col("grams")).as("g"))
      corpus.join(broadcast(probe.withColumn("hit", lit(1L))), Seq("g"), "left")
        .groupBy(col("doc_id"), col("n_grams"))
        .agg(coalesce(sum(col("hit")), lit(0L)).as("n_contaminated"))
        .select(col("doc_id"), col("n_grams"), col("n_contaminated"),
          (round(when(col("n_grams") > 0,
              col("n_contaminated").cast("double") / col("n_grams"))
            .otherwise(0.0), 6) + 0.0).as("contamination"))
        .orderBy("doc_id")
    },
    Some(s"""WITH g AS (
           SELECT doc_id,
                  CASE WHEN len(toks) >= $X11N THEN
                    list_distinct(list_transform(range(1, len(toks) - ${X11N - 2}),
                      i -> md5(${(0 until X11N).map(o =>
                        if (o == 0) "toks[i]" else s"toks[i + $o]")
                        .mkString(" || ' ' || ")})))
                  ELSE [] END AS grams
           FROM (SELECT doc_id, string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+') AS toks
                 FROM documents)),
         probe AS (SELECT DISTINCT unnest(grams) AS pg FROM g
                   WHERE doc_id < $X11ProbeCap),
         corpus AS (SELECT doc_id, len(grams) AS n_grams, unnest(grams) AS cg
                    FROM g WHERE doc_id >= $X11ProbeCap),
         hits AS (SELECT c.doc_id, c.n_grams,
                    count(p.pg) AS n_contaminated
                  FROM corpus c LEFT JOIN probe p ON c.cg = p.pg
                  GROUP BY c.doc_id, c.n_grams),
         empt AS (SELECT doc_id, 0 AS n_grams, 0 AS n_contaminated
                  FROM g WHERE doc_id >= $X11ProbeCap AND len(grams) = 0)
         SELECT doc_id, n_grams::BIGINT AS n_grams,
                n_contaminated::BIGINT AS n_contaminated,
                round(CASE WHEN n_grams > 0
                      THEN n_contaminated::DOUBLE / n_grams ELSE 0.0 END, 6)
                  + 0.0 AS contamination
         FROM (SELECT * FROM hits UNION ALL SELECT * FROM empt)
         ORDER BY doc_id"""))

  // X10 distinct-count sketching: the KMV (k-minimum-values) native
  // aggregate (org.apache.spark.sql.graft.KMinValues) estimates corpus
  // cardinalities with O(k) mergeable state — at 100 TB a vocabulary or
  // unique-document count never shuffles the distinct value set, only
  // #partitions × k longs. Both estimator regimes run in ONE aggregation:
  // distinct documents (n_docs > k → the (k−1)/h_k estimate) and distinct
  // tokens (≤ k → the sketch holds the whole set, exact). The sketch is
  // md5-deterministic, so DuckDB reproduces the identical estimates via
  // ORDER BY hash LIMIT k — an approx operator with an EXACT oracle. The
  // exact countDistinct columns ride along as the in-row accuracy witness
  // (small-sf luxury; at scale you'd keep only the sketch).
  private val X10K = 256
  private val x10 = Q(
    "x10_kmv_distinct",
    (s, d) => {
      import org.apache.spark.sql.graft.KMinValues._
      // h_doc is BOUND before the token explode: an md5 of the whole
      // document evaluated inside the post-explode agg would re-hash the
      // full text once per token row (cost × token count × doc length).
      // The bound attribute fans out as a cheap column reference instead
      // (same withColumn discipline as x11's gram pass).
      Tables.documents(s, d)
        .withColumn("h_doc", hash52(col("text")))
        .select(col("text"), col("h_doc"), explode(tokens(col("text"))).as("tok"))
        .agg(
          (round(kmvDistinct(col("h_doc"), X10K), 6) + 0.0).as("est_docs"),
          (round(kmvDistinct(hash52(col("tok")), X10K), 6) + 0.0).as("est_vocab"),
          countDistinct(col("text")).as("n_docs"),
          countDistinct(col("tok")).as("n_vocab"))
    },
    // twin mirrors the hash-once shape: h_doc computed in the per-document
    // CTE, carried through the unnest
    Some(s"""WITH dd AS (SELECT text,
                  ('0x' || substr(md5(text), 1, 13))::UBIGINT AS h_doc
                 FROM documents),
         tk AS (SELECT text, h_doc,
                  unnest(string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+')) AS tok
                 FROM dd),
         hd AS (SELECT DISTINCT h_doc AS h FROM tk),
         hv AS (SELECT DISTINCT ('0x' || substr(md5(tok), 1, 13))::UBIGINT AS h FROM tk),
         kd AS (SELECT count(*) AS m, max(h) AS hk
                FROM (SELECT h FROM hd ORDER BY h LIMIT $X10K)),
         kv AS (SELECT count(*) AS m, max(h) AS hk
                FROM (SELECT h FROM hv ORDER BY h LIMIT $X10K))
         SELECT
           CASE WHEN kd.m < $X10K THEN kd.m::DOUBLE
                ELSE round(($X10K - 1)::DOUBLE / (kd.hk::DOUBLE / 4503599627370496.0), 6) + 0.0
           END AS est_docs,
           CASE WHEN kv.m < $X10K THEN kv.m::DOUBLE
                ELSE round(($X10K - 1)::DOUBLE / (kv.hk::DOUBLE / 4503599627370496.0), 6) + 0.0
           END AS est_vocab,
           (SELECT count(DISTINCT text) FROM tk)::BIGINT AS n_docs,
           (SELECT count(DISTINCT tok) FROM tk)::BIGINT AS n_vocab
         FROM kd, kv"""))

  // X12 sequence packing: per-document bin assignment for fixed
  // token-budget training batches (GPT-style packed pretraining:
  // documents concatenate in ascending-id order, cut every Budget
  // tokens). The Spark side is graft.pack.Packing's DISTRIBUTED PREFIX
  // SUM (range partition + per-partition running sums + #partitions
  // broadcast base offsets — no single-partition window); the DuckDB
  // twin states the same quantity as the textbook window cumsum it can
  // afford single-node. Same tokens() as x1.
  private val X12Budget = 2048L
  private val x12 = Q(
    "x12_token_pack",
    (s, d) => {
      // token counts via the NATIVE byte-scan expression — provably equal
      // to x1's size(split(trim, \s+)) (TokenCountSpec property + this
      // oracle hash) with no regex engine or token-array materialization;
      // the regex split was nearly all of x12's sf10 cost (5.1 s), and a
      // regexp_count rewrite measured SLOWER (7.3 s — Matcher.find per
      // separator), so counting bytes is the right kernel
      val toks = Tables.documents(s, d)
        .select(col("doc_id"),
          org.apache.spark.sql.graft.TokenCount.tokenCount(col("text"))
            .cast("long").as("n_tok"))
      graft.pack.Packing.packByBudget(toks, "doc_id", "n_tok", X12Budget)
        .orderBy("doc_id")
    },
    Some(s"""WITH t AS (SELECT doc_id,
               len(string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+'))::BIGINT AS n
             FROM documents),
           c AS (SELECT doc_id, n,
               (sum(n) OVER (ORDER BY doc_id))::BIGINT AS cum FROM t)
           SELECT doc_id, n AS n_tok, (cum - n) AS tok_start,
                  ((cum - n) // $X12Budget) AS bin_id,
                  ((cum - n) % $X12Budget) AS bin_offset
           FROM c ORDER BY doc_id"""))

  // X25 token-window chunking — the RAG/pretraining document SPLITTER
  // complementary to x12's packer: overlapping fixed-width token windows
  // (width 16, stride 8), one output row per (doc, window). Entirely
  // row-local — window starts are a sequence() over the token count,
  // the chunk a slice() of the token array; the only shuffle is the
  // determinism sort. At 100 TB chunking is a narrow flatMap whose
  // output cardinality is ~n_tokens/stride per document — the shape
  // that feeds an embedding-index build without ever collecting a doc.
  private val X25Win = 16
  private val X25Stride = 8
  private val x25 = Q(
    "x25_chunk_windows",
    (s, d) => Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .select(col("doc_id"), col("t"),
        // `/` is double division in Spark SQL; the cast truncates — equal
        // to floor for the nonnegative token counts here
        explode(sequence(lit(0),
          ((size(col("t")) - 1) / X25Stride).cast("int"))).as("i"))
      .withColumn("chunk", slice(col("t"), col("i") * X25Stride + 1, lit(X25Win)))
      .select(col("doc_id"), col("i").cast("long").as("chunk_id"),
        size(col("chunk")).cast("long").as("n_tokens"),
        array_join(col("chunk"), " ").as("chunk_text"))
      .orderBy("doc_id", "chunk_id"),
    Some(s"""WITH t AS (SELECT doc_id,
               string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+') AS tok
             FROM documents),
             w AS (SELECT doc_id, tok,
               unnest(range(0, ((len(tok) - 1) // $X25Stride) + 1)) AS i
             FROM t)
             SELECT doc_id, i::BIGINT AS chunk_id,
               len(tok[i*$X25Stride + 1 : i*$X25Stride + $X25Win])::BIGINT AS n_tokens,
               array_to_string(tok[i*$X25Stride + 1 : i*$X25Stride + $X25Win], ' ') AS chunk_text
             FROM w ORDER BY doc_id, chunk_id"""))

  // X13 TF-IDF keyword extraction — top-3 salient terms per document.
  // tf = term count in the doc, df = #docs containing the term,
  // idf = (N+1)/(df+1): the smoothed inverse-document-frequency RATIO.
  // The usual ln() around the ratio is deliberately omitted — ln is the
  // one operation IEEE 754 does not require correctly rounded, so
  // ln-based scores could rank-flip between engines; /, * and int→double
  // are exact-rounded, making `score` bit-identical in Spark and DuckDB
  // (per-term idf ORDERING is unchanged since ln is monotone; the
  // tf-vs-idf trade-off is the ratio variant's).
  // Plan shape at 100 TB: TF is row-local (native TermFreqs — the corpus
  // never shuffles raw token rows), the df aggregate's partial combine
  // reduces each partition to vocab-sized state before its exchange, the
  // vocab-sized df table joins back as a broadcast (beyond broadcast
  // reach it becomes a term-keyed shuffled join with AQE skew handling —
  // tf stays narrow regardless), and the only remaining wide op is the
  // per-doc top-3 window, which WindowGroupLimit prunes to ≤3 rows per
  // doc per partition BEFORE the exchange.
  private val x13 = Q(
    "x13_tfidf_topterms",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val nTotal = docs.agg(count(lit(1)).as("n_total"))
      // tf is ROW-LOCAL: the native TermFreqs expression collapses
      // explode + groupBy(doc, term) into one byte scan per document, so
      // the corpus never shuffles raw token rows and nothing needs a
      // persist (the builtin shape paid a corpus-sized exchange — sf1
      // 5.1 s, 3.1 s with a persist; see TermFreqs's scaladoc for why
      // the higher-order-function rewrite is NOT the answer).
      val tf = docs
        .select(col("doc_id"),
          explode(org.apache.spark.sql.graft.TermFreqs.termFreqs(col("text"))).as("te"))
        .select(col("doc_id"), col("te.term").as("term"), col("te.tf").as("tf"))
      // df over tf rows: keys are already distinct per doc, and the
      // partial aggregate reduces each partition to vocab-sized state, so
      // the exchange moves ~vocab × partitions rows, not the corpus
      val dfTab = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("term"))
      tf.join(broadcast(dfTab), "term")
        .crossJoin(broadcast(nTotal))
        .withColumn("score",
          col("tf") * (col("n_total") + lit(1)).cast("double")
            / (col("df") + lit(1)).cast("double"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("rank"), col("term"),
          (round(col("score"), 6) + lit(0.0)).as("score"))
        .orderBy("doc_id", "rank")
    },
    Some("""WITH tf AS (SELECT doc_id, tok AS term, count(*) AS tf
              FROM (SELECT doc_id,
                      unnest(string_split_regex(trim(text), '[ \t\n\x0b\f\r]+')) AS tok
                    FROM documents)
              GROUP BY doc_id, tok),
            df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
            n AS (SELECT count(*) AS n_total FROM documents),
            -- (n+1)/(df+1) forced through DOUBLE: DuckDB would otherwise
            -- run DECIMAL arithmetic on the 1.0 literals and round(...,6)
            -- could disagree with Spark's IEEE-double chain in the last
            -- decimal. Integer +1 then ::DOUBLE is exact on both engines.
            sc AS (SELECT tf.doc_id, tf.term,
                     tf.tf * (n.n_total + 1)::DOUBLE / (df.df + 1)::DOUBLE AS score
                   FROM tf JOIN df USING (term) CROSS JOIN n),
            r AS (SELECT doc_id, term, score,
                    row_number() OVER (PARTITION BY doc_id
                      ORDER BY score DESC, term) AS rank
                  FROM sc)
            SELECT doc_id, rank, term, round(score, 6) + 0.0 AS score
            FROM r WHERE rank <= 3 ORDER BY doc_id, rank"""))

  // X14 frequency subsampling for language rebalancing (the word2vec
  // subsampling rule applied to training-data mixture construction):
  // f_l = c_l / N is the language's corpus share; a doc survives with
  // p_keep(l) = min(1, sqrt(t / f_l)), t = 0.05 — overrepresented
  // languages (en at ~41%) are thinned toward balance, rare ones kept
  // whole. The survival draw is the deterministic 52-bit md5 uniform
  // (doc survives iff u < p_keep·2^52), so the SAMPLE ITSELF is
  // hash-checkable cross-engine: /, sqrt, * are IEEE-exact-rounded and
  // the uniform is an integer — no ln, no engine RNG.
  // Scale shape (contrast x7's exact-fraction window): counts are ONE
  // tiny aggregate broadcast back; the keep decision is a narrow filter
  // pipelined into the scan — no window, no per-group sort, so at
  // 100 TB this is scan-speed. p_keep is SF-invariant when language
  // shares are (c_l ∝ N).
  private val X14T = 0.05
  private val x14 = Q(
    "x14_freq_subsample",
    (s, d) => {
      import org.apache.spark.sql.graft.KMinValues
      import org.apache.spark.sql.graft.KMinValues.hash52
      val docs = Tables.documents(s, d)
      val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("c_l"))
      val nTotal = docs.agg(count(lit(1)).as("n_total"))
      docs.select(col("doc_id"), col("lang"),
          hash52(concat_ws(":", col("doc_id"), lit("mix"))).as("u"))
        .join(broadcast(counts), "lang")
        .crossJoin(broadcast(nTotal))
        .withColumn("p_keep",
          least(lit(1.0), sqrt(lit(X14T) * col("n_total") / col("c_l"))))
        .filter(col("u").cast("double") < col("p_keep") * lit(KMinValues.HashSpace))
        .select(col("doc_id"), col("lang"),
          (round(col("p_keep"), 6) + lit(0.0)).as("p_keep"))
        .orderBy("doc_id")
    },
    Some(s"""WITH c AS (SELECT lang, count(*) AS c_l FROM documents GROUP BY lang),
            n AS (SELECT count(*) AS n_total FROM documents),
            u AS (SELECT doc_id, lang,
                    ('0x' || substr(md5(doc_id::VARCHAR || ':mix'), 1, 13))::UBIGINT AS u
                  FROM documents),
            -- the t literal is forced to DOUBLE (DuckDB would otherwise
            -- compute t*n in DECIMAL; Spark's chain is pure double)
            p AS (SELECT u.doc_id, u.lang, u.u,
                    least(1.0, sqrt(CAST($X14T AS DOUBLE) * n.n_total / c.c_l)) AS p_keep
                  FROM u JOIN c USING (lang) CROSS JOIN n)
            SELECT doc_id, lang, round(p_keep, 6) + 0.0 AS p_keep
            FROM p WHERE u::DOUBLE < p_keep * 4503599627370496.0
            ORDER BY doc_id"""))

  /** X15 span-level near-dup: the Lee-et-al-style curation step d1/d3/d7
    * can't express — production near-dup removal flags REGIONS of a
    * document copied from elsewhere, not whole-document similarity. The
    * corpus carries no paragraph breaks (single-line texts), so
    * "paragraphs" are fixed `span`-token windows (the VERDICT-sanctioned
    * shingle-span grain): consecutive disjoint spans of `span` tokens,
    * the tail FOLDING into the last span — every token is covered, no
    * span is shorter than the grain, and every document (even < span
    * tokens) has at least one span.
    *
    * A span is DUPLICATED iff some MinHash band bucket (the d2/d3 scheme
    * — 8 md5 minhashes, 2 salted 4-hash bands — applied at span grain)
    * contains a span of a DIFFERENT document; within-doc repetition is
    * x6's quality signal, not contamination, and is deliberately ignored.
    * Output: one row per document with its duplicate-span fraction.
    *
    * Plan shape at 100 TB — three deliberate choices:
    *  - Span signatures are ROW-LOCAL via the native [[SpanMinHash]]
    *    byte-scan kernel: the corpus never leaves its scan stage as
    *    token rows. The declarative forms both lose — the row-local
    *    transform(sequence(0,k-1), i => slice(__toks, …)) under an
    *    explode re-tokenizes the document once PER SPAN when the
    *    optimizer inlines the bound token array into the lambda (the
    *    x13 generator-inlining trap), and the explode+groupBy form pays
    *    a per-partition SORT of every token row because min(STRING)
    *    can't run in a HashAggregate (var-width buffer) — measured 3.2×
    *    the DuckDB twin at sf10; the kernel took the same query to
    *    well under 1×.
    *  - Duplication is decided from per-bucket min/max doc_id joined
    *    back to bucket members — candidate PAIRS are never materialized
    *    (contrast d3, which must emit them), so a degenerate 10M-span
    *    bucket costs one aggregate row, and no skew cap is needed.
    *  - The bucket relation is persisted (stats scan + member join);
    *    lifecycle = caller's clearCache, the d3/d7 accounting.
    */
  def spanNearDup(docs: DataFrame, span: Int): DataFrame = {
    // persisted: scanned twice (bucket stats + member join); lifecycle =
    // caller's clearCache, the d3/d7 accounting
    val buckets = graft.dedup.NearDup.spanBuckets(docs, span).persist()
    val stats = buckets.groupBy(col("bucket"))
      .agg(min(col("doc_id")).as("__mn"), max(col("doc_id")).as("__mx"))
    buckets.join(stats, "bucket")
      .groupBy(col("doc_id"), col("span_idx"))
      .agg(max(when(col("__mn") < col("doc_id") || col("__mx") > col("doc_id"),
        lit(1L)).otherwise(lit(0L))).as("__dup"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"), sum(col("__dup")).as("n_dup_spans"))
      .select(col("doc_id"), col("n_spans"), col("n_dup_spans"),
        (round(col("n_dup_spans").cast("double") / col("n_spans"), 6) + lit(0.0))
          .as("dup_frac"))
  }

  private val X15Span = 20
  private val x15 = Q(
    "x15_span_neardup",
    (s, d) => spanNearDup(Tables.spread(Tables.documents(s, d)), X15Span)
      .orderBy("doc_id"),
    Some(s"""WITH t AS (SELECT doc_id,
               string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+') AS toks
             FROM documents),
           tk AS (SELECT doc_id,
                    greatest(1, len(toks) // $X15Span) AS k,
                    unnest(range(len(toks))) AS pos,
                    unnest(toks) AS tok
                  FROM t),
           sig AS (SELECT doc_id, least(pos // $X15Span, k - 1) AS span_idx,
                     min(md5('0:' || tok)) AS h0, min(md5('1:' || tok)) AS h1,
                     min(md5('2:' || tok)) AS h2, min(md5('3:' || tok)) AS h3,
                     min(md5('4:' || tok)) AS h4, min(md5('5:' || tok)) AS h5,
                     min(md5('6:' || tok)) AS h6, min(md5('7:' || tok)) AS h7
                   FROM tk GROUP BY doc_id, span_idx),
           buck AS (SELECT doc_id, span_idx,
                      '0:' || md5(h0 || h1 || h2 || h3) AS bucket FROM sig
                    UNION ALL
                    SELECT doc_id, span_idx,
                      '1:' || md5(h4 || h5 || h6 || h7) FROM sig),
           bs AS (SELECT bucket, min(doc_id) AS mn, max(doc_id) AS mx
                  FROM buck GROUP BY 1),
           sd AS (SELECT b.doc_id, b.span_idx,
                    max(CASE WHEN s.mn < b.doc_id OR s.mx > b.doc_id
                        THEN 1 ELSE 0 END) AS dup
                  FROM buck b JOIN bs s USING (bucket) GROUP BY 1, 2)
           SELECT doc_id, count(*)::BIGINT AS n_spans,
                  sum(dup)::BIGINT AS n_dup_spans,
                  round(sum(dup)::DOUBLE / count(*), 6) + 0.0 AS dup_frac
           FROM sd GROUP BY doc_id ORDER BY doc_id"""))

  /** X18 surgical span excision — x15's actionable follow-up and the
    * operation Lee et al.'s substring dedup actually performs: REMOVE
    * every duplicated span, keeping the FIRST occurrence corpus-wide
    * (the bucket's min doc_id keeps its span; strictly-larger doc_ids
    * drop theirs; intra-document repeats are x6's territory and kept).
    * Output per document: span counts and the md5 of the excised text —
    * the rewrite itself is under the oracle hash, not just the flags.
    *
    * Plan shape: span flags reuse `NearDup.spanBuckets` (row-local native
    * signatures, per-bucket min — pairs never materialize); the flags
    * aggregate to ONE array row per document and equi-join back to the
    * corpus on doc_id; reconstruction is then row-local array surgery
    * (filter kept spans → slice token ranges → flatten → concat_ws).
    * Whitespace normalizes to single spaces — deterministic, mirrored in
    * the twin (string_agg with the same separator). At 100 TB: one
    * bucket-stats aggregate, one doc_id equi-join, everything else
    * narrow. */
  def spanExcise(docs: DataFrame, span: Int): DataFrame = {
    val buckets = graft.dedup.NearDup.spanBuckets(docs, span).persist()
    val firstSeen = buckets.groupBy(col("bucket"))
      .agg(min(col("doc_id")).as("__mn"))
    val drops = buckets.join(firstSeen, "bucket")
      .groupBy(col("doc_id"), col("span_idx"))
      .agg(max(when(col("__mn") < col("doc_id"), lit(1)).otherwise(lit(0)))
        .as("__drop"))
    val flags = drops.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("span_idx"), col("__drop"))))
        .as("fl"))
    val k = size(col("fl"))
    val keptSpans = filter(col("fl"), s => s.getField("__drop") === 0)
    val keptToks = flatten(transform(keptSpans, s => {
      val i = s.getField("span_idx")
      slice(col("toks"), i * span + 1,
        when(i === k - 1, size(col("toks")) - i * span).otherwise(lit(span)))
    }))
    docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .join(flags, "doc_id")
      .select(col("doc_id"),
        k.cast("long").as("n_spans"),
        size(keptSpans).cast("long").as("n_kept_spans"),
        md5(concat_ws(" ", keptToks)).as("clean_hash"))
      .orderBy("doc_id")
  }

  private val x18 = Q(
    "x18_span_excise",
    (s, d) => spanExcise(Tables.spread(Tables.documents(s, d)), X15Span),
    Some(s"""WITH t AS (SELECT doc_id,
               string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+') AS toks
             FROM documents),
           tk AS (SELECT doc_id,
                    greatest(1, len(toks) // $X15Span) AS k,
                    unnest(range(len(toks))) AS pos,
                    unnest(toks) AS tok
                  FROM t),
           sig AS (SELECT doc_id, least(pos // $X15Span, k - 1) AS span_idx,
                     min(md5('0:' || tok)) AS h0, min(md5('1:' || tok)) AS h1,
                     min(md5('2:' || tok)) AS h2, min(md5('3:' || tok)) AS h3,
                     min(md5('4:' || tok)) AS h4, min(md5('5:' || tok)) AS h5,
                     min(md5('6:' || tok)) AS h6, min(md5('7:' || tok)) AS h7
                   FROM tk GROUP BY doc_id, span_idx),
           buck AS (SELECT doc_id, span_idx,
                      '0:' || md5(h0 || h1 || h2 || h3) AS bucket FROM sig
                    UNION ALL
                    SELECT doc_id, span_idx,
                      '1:' || md5(h4 || h5 || h6 || h7) FROM sig),
           bs AS (SELECT bucket, min(doc_id) AS mn FROM buck GROUP BY 1),
           dr AS (SELECT b.doc_id, b.span_idx,
                    max(CASE WHEN s.mn < b.doc_id THEN 1 ELSE 0 END) AS dropf
                  FROM buck b JOIN bs s USING (bucket) GROUP BY 1, 2),
           kept AS (SELECT tk.doc_id,
                      string_agg(tk.tok, ' ' ORDER BY tk.pos) AS txt
                    FROM tk JOIN dr ON dr.doc_id = tk.doc_id
                      AND dr.span_idx = least(tk.pos // $X15Span, tk.k - 1)
                    WHERE dr.dropf = 0 GROUP BY tk.doc_id),
           agg AS (SELECT doc_id, count(*) AS n_spans,
                     sum(CASE WHEN dropf = 0 THEN 1 ELSE 0 END) AS n_kept
                   FROM dr GROUP BY doc_id)
           SELECT a.doc_id, a.n_spans::BIGINT AS n_spans,
                  a.n_kept::BIGINT AS n_kept_spans,
                  md5(coalesce(k.txt, '')) AS clean_hash
           FROM agg a LEFT JOIN kept k USING (doc_id)
           ORDER BY doc_id"""))

  // X16 PII detection + redaction — the scrub pass every public-corpus
  // curation pipeline runs before training (emails/phones here; more
  // entity regexes slot into the same shape). The synthetic corpus
  // carries no PII, so the query INJECTS deterministic entities first
  // (doc_id-derived, mirrored verbatim in the twin) — the detectors are
  // then proven against known ground truth: every doc_id % 3 == 0 doc
  // must count exactly one email, % 5 == 0 one phone, and the md5 of the
  // redacted text pins the REPLACEMENT itself, not just the counts.
  // Match counts via the split cardinality (#elements − 1): DuckDB 1.0
  // has no regexp_count, and `string_split_regex` is the one regex
  // surface already proven to agree with Spark's `split` (x15). Scale
  // shape: one narrow row-local projection — regex scan at scan speed,
  // no shuffle, nothing collected.
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhoneRe = "\\+1-555-[0-9]{4}"
  private val x16 = Q(
    "x16_pii_scrub",
    (s, d) => {
      val injected = Tables.documents(s, d).select(col("doc_id"), concat(
        col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com"))).otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit(" call +1-555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit(""))).as("text"))
      injected.select(
        col("doc_id"),
        (size(split(col("text"), EmailRe, -1)) - 1).cast("long").as("n_emails"),
        (size(split(col("text"), PhoneRe, -1)) - 1).cast("long").as("n_phones"),
        md5(regexp_replace(regexp_replace(col("text"), EmailRe, "<EMAIL>"),
          PhoneRe, "<PHONE>")).as("redacted_hash"))
        .orderBy("doc_id")
    },
    Some(s"""WITH inj AS (SELECT doc_id, text
               || CASE WHEN doc_id % 3 = 0
                    THEN ' contact user' || doc_id::VARCHAR || '@example.com'
                    ELSE '' END
               || CASE WHEN doc_id % 5 = 0
                    THEN ' call +1-555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                    ELSE '' END AS text
             FROM documents)
             SELECT doc_id,
               (len(string_split_regex(text, '$EmailRe')) - 1)::BIGINT AS n_emails,
               (len(string_split_regex(text, '$PhoneRe')) - 1)::BIGINT AS n_phones,
               md5(regexp_replace(regexp_replace(text, '$EmailRe', '<EMAIL>', 'g'),
                 '$PhoneRe', '<PHONE>', 'g')) AS redacted_hash
             FROM inj ORDER BY doc_id"""))

  // X17 out-of-vocabulary rate against the corpus top-K vocabulary — the
  // CCNet/Dolma-family quality gate ("how much of this document is made
  // of tokens the corpus itself considers common?") with EXACT integer
  // arithmetic instead of an LM perplexity: ln is the one common op IEEE
  // does not require correctly rounded (see x13's idf-ratio note), while
  // tf sums and one final division hash-match bit-for-bit. Scale shape:
  // tf row-local (native TermFreqs — the corpus never shuffles raw
  // tokens), corpus frequencies partial-aggregate to vocab-sized state,
  // the top-K vocabulary is a tiny deterministic (count desc, term) head
  // broadcast back, and the per-doc fraction is one hash aggregate.
  private val X17K = 20
  private val x17 = Q(
    "x17_oov_rate",
    (s, d) => {
      val tf = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(org.apache.spark.sql.graft.TermFreqs.termFreqs(col("text"))).as("te"))
        .select(col("doc_id"), col("te.term").as("term"), col("te.tf").as("tf"))
      val topk = tf.groupBy(col("term")).agg(sum(col("tf")).as("c"))
        .orderBy(col("c").desc, col("term")).limit(X17K)
        .select(col("term"), lit(1).as("__v"))
      tf.join(broadcast(topk), Seq("term"), "left")
        .groupBy(col("doc_id"))
        .agg(sum(col("tf")).as("n_tokens"),
          sum(when(col("__v").isNotNull, col("tf")).otherwise(lit(0))).as("n_vocab"))
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          (round(lit(1.0) - col("n_vocab").cast("double")
            / col("n_tokens").cast("double"), 6) + lit(0.0)).as("oov_frac"))
        .orderBy("doc_id")
    },
    Some(s"""WITH tf AS (SELECT doc_id, tok AS term, count(*) AS tf
               FROM (SELECT doc_id,
                       unnest(string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+')) AS tok
                     FROM documents)
               GROUP BY doc_id, tok),
             topk AS (SELECT term FROM
               (SELECT term, sum(tf) AS c FROM tf GROUP BY term)
               ORDER BY c DESC, term LIMIT $X17K)
             SELECT doc_id, sum(tf)::BIGINT AS n_tokens,
               round(1.0::DOUBLE - sum(CASE WHEN term IN (SELECT term FROM topk)
                   THEN tf ELSE 0 END)::DOUBLE / sum(tf)::DOUBLE, 6) + 0.0
                 AS oov_frac
             FROM tf GROUP BY doc_id ORDER BY doc_id"""))

  // X19 BM25 keyword top-k — the classic full-text complement to the
  // engine's vector retrieval (a curation pipeline uses it for targeted
  // corpus probes: "find the docs most about these terms"). Exact-
  // arithmetic variant: idf is the RATIO (N−df+0.5)/(df+0.5) with the ln
  // deliberately omitted — the x13 cross-engine-rounding convention (ln
  // is the one common op IEEE does not require correctly rounded). The
  // ratio is monotone in ln, so PER-TERM ordering matches BM25's; the
  // MULTI-TERM sum of ratio-idf contributions can reorder vs ln-idf BM25
  // (a monotone transform of each summand does not commute with the sum
  // — e.g. one very rare term vs two moderately-rare ones). This is a
  // deliberately-specified ranking function, exactly mirrored in the
  // DuckDB twin, not a claim of ln-BM25 ranking equality — and the per-term
  // scores sum through DECIMAL(28,6) (Q.dsum) so the 3-term addition is
  // order-independent. Scale shape: tf row-local (native TermFreqs) with
  // an immediate narrow filter to the query terms, dl row-local (native
  // TokenCount), corpus stats ONE tiny aggregate broadcast, per-term df
  // a query-terms-sized broadcast, top-k TakeOrderedAndProject — the
  // corpus is scanned once and never shuffled.
  private val X19Terms = Seq("spark", "window", "vector")
  private val X19K1 = 1.2
  private val X19B = 0.75
  private val x19 = Q(
    "x19_bm25_topk",
    (s, d) => {
      val docs = Tables.documents(s, d)
      // scan 1: corpus stats (tiny aggregate, text read once for dl)
      val stats = docs
        .select(org.apache.spark.sql.graft.TokenCount.tokenCount(col("text"))
          .cast("long").as("dl"))
        .agg(count(lit(1)).as("n"),
          (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
      // scan 2: tf AND dl in ONE pass (both native byte scans over the
      // same row), filtered straight down to the query terms — the
      // surviving relation is ≤ #matching-docs × #terms rows. Persisted
      // because both the df aggregate and the scoring pass read it
      // (caller clearCache lifecycle, the d3/x15 accounting). This shape
      // replaced a 3-scan + corpus SortMergeJoin(doc_id) plan: tf and dl
      // born in the same projection means there is nothing to join.
      val tfdl = docs
        .select(col("doc_id"),
          org.apache.spark.sql.graft.TokenCount.tokenCount(col("text"))
            .cast("long").as("dl"),
          explode(org.apache.spark.sql.graft.TermFreqs.termFreqs(col("text"))).as("te"))
        .select(col("doc_id"), col("dl"),
          col("te.term").as("term"), col("te.tf").as("tf"))
        .filter(col("term").isin(X19Terms: _*))
        .persist()
      val dfq = tfdl.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val idf = (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
      val sat = (col("tf") * lit(X19K1 + 1.0)) /
        (col("tf") + lit(X19K1) * (lit(1.0 - X19B)
          + lit(X19B) * col("dl") / col("avgdl")))
      tfdl
        .join(broadcast(dfq), "term")
        .crossJoin(broadcast(stats))
        .select(col("doc_id"), (idf * sat).as("ts"))
        .groupBy(col("doc_id"))
        .agg((round(Q.dsum(col("ts")), 6) + lit(0.0)).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(20)
    },
    Some(s"""WITH dl AS (SELECT doc_id,
               len(string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+')) AS dl
             FROM documents),
           st AS (SELECT count(*) AS n,
                    sum(dl)::DOUBLE / count(*) AS avgdl FROM dl),
           tf AS (SELECT doc_id, tok AS term, count(*) AS tf
                  FROM (SELECT doc_id,
                          unnest(string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+')) AS tok
                        FROM documents)
                  WHERE tok IN (${X19Terms.map(t => s"'$t'").mkString(", ")})
                  GROUP BY doc_id, tok),
           dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
           sc AS (SELECT tf.doc_id,
                    -- association mirrors the Spark column exactly:
                    -- idf * (num / denom), NOT (idf * num) / denom
                    ((st.n - dfq.df + 0.5::DOUBLE) / (dfq.df + 0.5::DOUBLE))
                    * ((tf.tf * ${X19K1 + 1.0}::DOUBLE)
                       / (tf.tf + $X19K1::DOUBLE * ((${1.0 - X19B})::DOUBLE
                           + $X19B::DOUBLE * dl.dl / st.avgdl))) AS ts
                  FROM tf JOIN dl USING (doc_id)
                    JOIN dfq ON tf.term = dfq.term CROSS JOIN st)
           SELECT doc_id,
             round(sum(ts::DECIMAL(28,6))::DOUBLE, 6) + 0.0 AS score
           FROM sc GROUP BY doc_id
           ORDER BY score DESC, doc_id LIMIT 20"""))

  // ST1 event-time hourly window aggregation (batch twin of the
  // Structured Streaming tumbling-window pipeline in graft.streaming).
  private val st1 = Q(
    "st1_event_window",
    (s, d) => Tables.events(s, d)
      .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm").as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(Q.dsum(col("value")), 4).as("sum_value"))
      .orderBy("hour", "event_type"),
    Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hour,
            event_type, count(*) AS n,
            round(sum(value::DECIMAL(28,6))::DOUBLE, 4) AS sum_value
            FROM events GROUP BY 1, 2 ORDER BY hour, event_type"""))

  // X6 repetition-ratio quality signals (Gopher/C4-style filtering rules):
  // distinct-word ratio and distinct-word-trigram ratio per document —
  // low ratios flag boilerplate/repetitive text for training-data pruning.
  // Row-local array math (no explode/shuffle) — scale-safe like d2/d6.
  private val x6 = Q(
    "x6_repetition_ratio",
    (s, d) => Tables.documents(s, d)
      .withColumn("toks", tokens(col("text")))
      .withColumn("tri", wordNgrams(col("toks"), 3))
      .select(col("doc_id"),
        (round(size(array_distinct(col("toks"))).cast("double")
          / size(col("toks")), 6) + 0.0).as("distinct_word_ratio"),
        (round(when(size(col("tri")) > 0,
            size(array_distinct(col("tri"))).cast("double") / size(col("tri")))
          .otherwise(1.0), 6) + 0.0).as("distinct_trigram_ratio"))
      .orderBy("doc_id"),
    Some("""WITH t AS (SELECT doc_id,
              string_split_regex(trim(text), '[ \t\n\x0b\f\r]+') AS tok FROM documents),
            x AS (SELECT doc_id, tok, len(tok) AS n,
              CASE WHEN len(tok) >= 3 THEN list_transform(range(1, len(tok) - 1),
                i -> tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2])
              ELSE [] END AS tri
              FROM t)
            SELECT doc_id,
              round(len(list_distinct(tok))::DOUBLE / n, 6) + 0.0 AS distinct_word_ratio,
              round(CASE WHEN len(tri) > 0
                    THEN len(list_distinct(tri))::DOUBLE / len(tri)
                    ELSE 1.0 END, 6) + 0.0 AS distinct_trigram_ratio
            FROM x ORDER BY doc_id"""))

  // X7 deterministic stratified sample — training-data MIXTURE
  // construction: keep a fixed fraction per `source`, chosen by md5 hash
  // order (seeded, reproducible across engines and partitionings — the
  // distributed analogue of seeded df.sample groupwise). At 100 TB the
  // same selection runs WITHOUT the per-group window: keep rows whose hash
  // is below the per-source count-derived threshold (narrow filter after
  // one count aggregate); the window form here keeps the oracle exact.
  private val x7 = Q(
    "x7_stratified_sample",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source"))
        .orderBy(col("h"))
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          md5(concat_ws(":", col("doc_id"), lit("strat"))).as("h"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("source"))))
        .filter(col("rn") <= ceil(lit(0.2) * col("n")))
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    },
    Some("""WITH h AS (SELECT doc_id, source,
              md5(doc_id::VARCHAR || ':strat') AS h FROM documents),
            r AS (SELECT *,
              row_number() OVER (PARTITION BY source ORDER BY h) AS rn,
              count(*) OVER (PARTITION BY source) AS n FROM h)
            SELECT doc_id, source FROM r
            WHERE rn <= ceil(0.2 * n) ORDER BY doc_id"""))

  // X24 per-domain quota — the C4/RefinedWeb "cap documents per domain"
  // curation step: keep the top X24Cap documents of each `source` by
  // quality (alpha ratio — x2's signal; doc_id tiebreak). Skew-proof
  // two-phase top-N: phase 1 ranks within (source, salt), leaving at most
  // Cap·Salts bounded partial winners per domain regardless of domain
  // size; only those survivors pay the phase-2 per-source rank. A single
  // hot domain (the web-crawl reality — one host can be 1% of 100 TB)
  // never routes its full row set through one reducer: phase-1 partitions
  // are (source × salt), so the widest key fans out Salts ways and the
  // phase-2 window sorts ≤ Cap·Salts rows per domain. Exact: every global
  // top-Cap row is top-Cap within its own salt, so phase 1 cannot drop a
  // winner. Oracle: the direct one-window QUALIFY.
  private val X24Cap = 8
  private val X24Salts = 4

  /** The x24 two-phase per-domain top-N on any (doc_id, source, quality)
    * relation — exposed so specs can prove salted-phase-1 == direct
    * one-window on adversarially skewed corpora. */
  def domainCap(docs: org.apache.spark.sql.DataFrame, cap: Int, salts: Int)
      : org.apache.spark.sql.DataFrame =
    domainCapAll(docs, cap, salts)
      .select(col("source"), col("doc_id"), col("quality"), col("dom_rank"))
      .orderBy("source", "dom_rank")

  /** [[domainCap]]'s core, preserving EVERY input column alongside the
    * appended `dom_rank` — a pipeline that caps domains mid-chain (x26)
    * rides the windows directly instead of ranking a projection and
    * joining it back on doc_id: the windows keep all columns for free,
    * so the plan stays a single linear pass (shuffle by (source,salt),
    * shuffle by source) with no self-join fan-out over the upstream
    * relation. Requires `doc_id`, `source`, `quality` columns. */
  def domainCapAll(docs: org.apache.spark.sql.DataFrame, cap: Int, salts: Int)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w1 = Window.partitionBy(col("source"), col("salt"))
      .orderBy(col("quality").desc, col("doc_id"))
    val w2 = Window.partitionBy(col("source"))
      .orderBy(col("quality").desc, col("doc_id"))
    docs.withColumn("salt", pmod(hash(col("doc_id")), lit(salts)))
      .withColumn("r1", row_number().over(w1))
      .filter(col("r1") <= cap)
      .withColumn("dom_rank", row_number().over(w2).cast("long"))
      .filter(col("dom_rank") <= cap)
      .drop("salt", "r1")
  }

  private val x24 = Q(
    "x24_domain_cap",
    (s, d) => {
      // empty-text guard: see x2 — null quality instead of an ANSI throw
      val q = round(when(length(col("text")) > 0,
        org.apache.spark.sql.graft.TextScrub.alphaCountCol(col("text"))
          .cast("double") / length(col("text"))), 6)
      domainCap(
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"), q.as("quality")),
        X24Cap, X24Salts)
    },
    Some(s"""WITH q AS (SELECT source, doc_id,
               round(CASE WHEN length(text) > 0 THEN length(regexp_replace(text, '[^a-z]', '', 'g'))::DOUBLE
                 / length(text) END, 6) AS quality
             FROM documents)
             SELECT source, doc_id, quality,
               row_number() OVER (PARTITION BY source
                 ORDER BY quality DESC, doc_id) AS dom_rank
             FROM q QUALIFY dom_rank <= $X24Cap
             ORDER BY source, dom_rank"""))

  // ST2 event-time SESSIONIZATION (batch twin of Streaming.sessionize —
  // Spark session_window semantics: events with gaps < 30 min merge, the
  // session ends 30 min after its last event). DuckDB twin: gaps-and-
  // islands — a new-session flag on gap >= 30 min, cumulative-sum session
  // ids, then per-session aggregation.
  private val st2 = Q(
    "st2_sessionization",
    (s, d) => Tables.events(s, d)
      .groupBy(col("user_id"),
        session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n"),
        round(Q.dsum(col("value")), 4).as("sum_value"))
      .select(col("user_id"),
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(col("w.end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        col("n"), col("sum_value"))
      .orderBy("user_id", "session_start"),
    Some("""WITH o AS (SELECT user_id, ts, value,
              CASE WHEN lag(ts) OVER w IS NULL
                     OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                   THEN 1 ELSE 0 END AS new_s
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
            s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
                  FROM o)
            SELECT user_id,
              strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
              strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
              count(*) AS n,
              round(sum(value::DECIMAL(28,6))::DOUBLE, 4) AS sum_value
            FROM s GROUP BY user_id, sid
            ORDER BY user_id, session_start"""))

  // X23 character-trigram LM quality score — the CCNet/Gopher-style
  // "perplexity filter" re-expressed in EXACT arithmetic: fit a char-level
  // trigram model on the corpus itself (counts over the [a-z ]-normalized
  // text), score each document by its MEAN smoothed conditional
  // probability p(c₃|c₁c₂) = (c3+1)/(c2+27) over its trigram positions —
  // low scores flag gibberish/OOD text, the curation signal LM-perplexity
  // filters use, with only integer counts, one IEEE division and a
  // DECIMAL(28,12) order-independent sum in the pipeline, so the DuckDB
  // twin hash-matches bit-for-bit (no transcendental drift: the
  // log/exp of true perplexity is a monotone transform of this score —
  // filtering thresholds translate 1:1).
  //
  // Scale shape: the fit is ONE bounded-state aggregate pass (TriCounts —
  // a flat 27³-cell long array per partition, vector-add merge, 154 KB of
  // state regardless of corpus size; no generator row or hash probe per
  // trigram occurrence); scoring is a narrow row-local expression over
  // the broadcast model. The fit is corpus-size-independent state —
  // exactly the shape that lets the same model run at 100 TB.
  /** The x23 pipeline on any (doc_id, text) relation — exposed so specs
    * can feed adversarial corpora (gibberish vs natural text) through the
    * EXACT query path. */
  def charLmScores(documents: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    charLmScoresAndCount(documents)._1

  /** [[charLmScores]] plus the SCORABLE-document count (docs whose
    * normalized text has ≥ 3 chars, i.e. ≥ 1 trigram — exactly the rows
    * whose `lm_score` is non-null), computed in the SAME fit job: x26's
    * rank threshold needs this count, and riding it on the fit aggregate
    * saves the pipeline a whole count() action over the scored cohort. */
  def charLmScoresAndCount(documents: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, Long) = {
    import org.apache.spark.sql.graft.CharLmScore
    val (n3, n2, nScorable) = charLmFit(documents)
    val norm = org.apache.spark.sql.graft.TextScrub.lmNormalizeCol(col("text"))
    val scoredFrame = documents.select(col("doc_id"), norm.as("t"))
      .select(col("doc_id"), CharLmScore.score(col("t"), n3, n2).as("s"))
      .select(col("doc_id"),
        col("s.n").as("n_trigrams"),
        (round(col("s.mean"), 6) + 0.0).as("lm_score"))
      .orderBy("doc_id")
    (scoredFrame, nScorable)
  }

  /** The fitted char-trigram LM as driver-side arrays, plus the
    * SCORABLE-document count riding the same aggregate:
    * `(n3 trigram counts, n2 bigram-prefix sums, nScorable)`.
    *
    * FIT: one TriCounts pass — the exploded groupBy's counts, exactly
    * (spec-asserted), without the per-occurrence generator row / hash
    * probe / shuffle (the fit was ~14 s of x23's sf10 profile; this is
    * one map-reduce round over 32 × 154 KB partials). Bounded collect
    * (19 683 longs — the Profiler capped-vocab precedent): the fitted
    * model becomes two int-indexed arrays riding the SCORING expression,
    * so scoring is a narrow row-local pass — no second explode, no
    * broadcast joins, no per-doc decimal re-agg (that pipeline shuffled
    * ~600 rows/doc back to doc grain and was 17 s of x26's sf1 chain).
    * Exposed separately from [[charLmScoresAndCount]] so a pipeline that
    * already holds the cohort (x26) can attach [[charLmScoreCol]] as a
    * row-local column instead of computing a scores frame and joining it
    * back on doc_id — the join form re-scanned the cohort and paid a
    * build+probe pass for a value every row can compute in place. */
  def charLmFit(documents: org.apache.spark.sql.DataFrame,
                textCol: String = "text"): (Array[Long], Array[Long], Long) = {
    import org.apache.spark.sql.graft.TriCounts
    val norm = org.apache.spark.sql.graft.TextScrub.lmNormalizeCol(col(textCol))
    val fit = documents.select(norm.as("t"))
      .select(TriCounts.triCounts(col("t")).as("c"),
        count(when(length(col("t")) >= 3, 1)).as("n")).head()
    val n3 = fit.getSeq[Long](0).toArray
    val nScorable = fit.getLong(1)
    val n2 = new Array[Long](27 * 27)
    var ci = 0
    while (ci < n3.length) { n2(ci / 27) += n3(ci); ci += 1 }
    (n3, n2, nScorable)
  }

  /** Row-local `lm_score` column over a [[charLmFit]] model — NULL for a
    * doc with no trigram in its normalized text, else the per-position
    * decimal-exact mean, bit-identical to [[charLmScores]]' column (the
    * x23 oracle hash is the cross-engine witness). */
  def charLmScoreCol(textCol: org.apache.spark.sql.Column,
                     n3: Array[Long], n2: Array[Long])
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graft.CharLmScore
    val t = org.apache.spark.sql.graft.TextScrub.lmNormalizeCol(textCol)
    round(CharLmScore.score(t, n3, n2).getField("mean"), 6) + 0.0
  }

  /** The x23 scoring pass over an EXPLICIT fitted model — the frozen-fit
    * half of the train/apply split: a production pipeline fits the
    * quality model once on the settled corpus and scores every new batch
    * against those frozen counts (refitting per batch would let the new
    * data move its own quality bar). Unseen trigrams hit the smoothing
    * floor by construction — (0+1)/(n2+27), and 1/27 for an unseen
    * prefix — the same CharLmScore arithmetic, no special casing. */
  def charLmScoresWithModel(documents: org.apache.spark.sql.DataFrame,
                            n3: Array[Long], n2: Array[Long])
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.graft.CharLmScore
    val norm = org.apache.spark.sql.graft.TextScrub.lmNormalizeCol(col("text"))
    documents.select(col("doc_id"), norm.as("t"))
      .select(col("doc_id"), CharLmScore.score(col("t"), n3, n2).as("s"))
      .select(col("doc_id"),
        col("s.n").as("n_trigrams"),
        (round(col("s.mean"), 6) + 0.0).as("lm_score"))
      .orderBy("doc_id")
  }

  // X30 FROZEN-model LM scoring (the x23 "perplexity filter" with the
  // train/apply split a production pipeline actually has): fit the
  // char-trigram model on the settled BASE corpus (doc_id ≢ 0 mod 5 —
  // the d10 split), score the arriving DELTA batch against those FROZEN
  // counts. x23 cannot represent this — it fits on the cohort it scores,
  // so a new batch would move its own quality bar. Unseen delta trigrams
  // exercise the smoothing floor for real (the twin's LEFT joins +
  // coalesce(…, 0) mirror the kernel's zero-count cells). Fit state stays
  // corpus-size-independent (27³ longs), so the frozen model is exactly
  // what a 100-TB deployment serializes between batches.
  private val x30 = Q(
    "x30_frozen_lm_score",
    (s, d) => {
      val docs = Tables.spread(Tables.documents(s, d))
      val (n3, n2, _) = charLmFit(docs.filter(col("doc_id") % 5 =!= 0))
      charLmScoresWithModel(docs.filter(col("doc_id") % 5 === 0), n3, n2)
    },
    Some("""WITH bn AS (SELECT regexp_replace(lower(text), '[^a-z ]', '', 'g') AS t
              FROM documents WHERE doc_id % 5 <> 0),
            btri AS (SELECT unnest(list_transform(range(1, greatest(length(t) - 2, 0) + 1),
              i -> t[i:i+2])) AS g FROM bn),
            c3 AS (SELECT g, count(*)::BIGINT AS n3 FROM btri GROUP BY g),
            c2 AS (SELECT g[1:2] AS g2, sum(n3)::BIGINT AS n2
                   FROM c3 GROUP BY g[1:2]),
            dn AS (SELECT doc_id, regexp_replace(lower(text), '[^a-z ]', '', 'g') AS t
              FROM documents WHERE doc_id % 5 = 0),
            dtri AS (SELECT doc_id,
              unnest(list_transform(range(1, greatest(length(t) - 2, 0) + 1),
                i -> t[i:i+2])) AS g
            FROM dn),
            agg AS (SELECT t.doc_id, count(*)::BIGINT AS n_trigrams,
              round(sum(((coalesce(c3.n3, 0) + 1)::DOUBLE
                / (coalesce(c2.n2, 0) + 27)::DOUBLE)::DECIMAL(28,12))::DOUBLE
                / count(*), 6) + 0.0 AS lm_score
            FROM dtri t
            LEFT JOIN c3 ON c3.g = t.g
            LEFT JOIN c2 ON c2.g2 = t.g[1:2]
            GROUP BY t.doc_id)
            SELECT d.doc_id, coalesce(a.n_trigrams, 0)::BIGINT AS n_trigrams,
              a.lm_score
            FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d
            LEFT JOIN agg a ON a.doc_id = d.doc_id
            ORDER BY d.doc_id"""))

  private val x23 = Q(
    "x23_char_lm_quality",
    (s, d) => charLmScores(Tables.documents(s, d)),
    Some("""WITH d AS (SELECT doc_id,
              regexp_replace(lower(text), '[^a-z ]', '', 'g') AS t
            FROM documents),
            tri AS (SELECT doc_id,
              unnest(list_transform(range(1, greatest(length(t) - 2, 0) + 1),
                i -> t[i:i+2])) AS g
            FROM d),
            c3 AS (SELECT g, count(*)::BIGINT AS n3 FROM tri GROUP BY g),
            c2 AS (SELECT g[1:2] AS g2, sum(n3)::BIGINT AS n2
                   FROM c3 GROUP BY g[1:2]),
            agg AS (SELECT t.doc_id, count(*)::BIGINT AS n_trigrams,
              round(sum(((c3.n3 + 1)::DOUBLE / (c2.n2 + 27)::DOUBLE)::DECIMAL(28,12))::DOUBLE
                / count(*), 6) + 0.0 AS lm_score
            FROM tri t
            JOIN c3 ON c3.g = t.g
            JOIN c2 ON c2.g2 = t.g[1:2]
            GROUP BY t.doc_id)
            SELECT d.doc_id, coalesce(a.n_trigrams, 0)::BIGINT AS n_trigrams,
              a.lm_score
            FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
            ORDER BY d.doc_id"""))

  // ST5 streaming curation gate (batch twin of Streaming.curationGate —
  // the x26 front-end as dedup-on-ingest): row-local quality signals →
  // gate → exact dedup first-seen-wins, the d1 keeper decision made
  // incrementally per arriving document. flatMapGroupsWithState runs the
  // identical code on this static table (batch semantics, ascending-id
  // group order), so the keeper is min(doc_id) per content hash — which
  // is what the twin's window computes. Cross-batch statefulness (a later
  // micro-batch's copy mapping to an earlier batch's keeper) is
  // StreamingSpec's job; the hash here pins the decision arithmetic.
  private val st5 = Q(
    "st5_stream_curation_gate",
    (s, d) => {
      implicit val sp: org.apache.spark.sql.SparkSession = s
      graft.streaming.Streaming.curationGate(
          Tables.documents(s, d), "text", "doc_id")
        .select(col("id"), col("novel"), col("dup_of"), col("n_tokens"),
          (round(col("alpha_ratio"), 6) + 0.0).as("alpha_ratio"))
        .orderBy("id")
    },
    Some("""WITH sig AS (
              SELECT doc_id::BIGINT AS id, md5(text) AS h,
                len(string_split_regex(trim(text), '[ \t\n\x0b\f\r]+'))::BIGINT AS n_tokens,
                CASE WHEN length(text) > 0 THEN length(regexp_replace(text, '[^a-z]', '', 'g'))::DOUBLE / length(text) END AS alpha_ratio
              FROM documents),
            gated AS (SELECT * FROM sig
              WHERE alpha_ratio >= 0.8 AND n_tokens >= 12),
            dec AS (SELECT id, n_tokens, alpha_ratio,
                      min(id) OVER (PARTITION BY h) AS keeper
                    FROM gated)
            SELECT id, id = keeper AS novel,
              (CASE WHEN id = keeper THEN -1 ELSE keeper END)::BIGINT AS dup_of,
              n_tokens, round(alpha_ratio, 6) + 0.0 AS alpha_ratio
            FROM dec ORDER BY id"""))

  // D10 INCREMENTAL near-dup screening (graft.dedup.IncrementalDedup):
  // dedup a DELTA batch against a settled BASE corpus — the production
  // ingest shape (only the new crawl is screened; base↔base is never
  // re-paired). The fixture split is deterministic and scale-stable:
  // delta = doc_id ≡ 0 (mod 5) (~20% of any sf), base = the rest. The
  // measures are the family's hash-checked ones: word-bigram shingle
  // MinHash banding (x26's scheme) for candidates, base-side d3 rep-star
  // skew cap, shingle Jaccard ≥ 0.8 verification, min-id base keeper.
  // Every delta doc gets a decision row (novel or dup_of keeper).
  private val D10Tau = 0.8
  private val d10 = Q(
    "d10_incremental_neardup",
    (s, d) => {
      val docs = Tables.spread(Tables.documents(s, d))
      graft.dedup.IncrementalDedup.screen(
          docs.filter(col("doc_id") % 5 =!= 0),
          docs.filter(col("doc_id") % 5 === 0),
          "doc_id", "text", tau = D10Tau)
        .orderBy("doc_id")
    },
    Some(s"""WITH bsh AS (
               SELECT doc_id, list_distinct(CASE WHEN len(tk) >= 2
                 THEN list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])
                 ELSE [] END) AS sh
               FROM (SELECT doc_id, string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+') AS tk
                     FROM documents WHERE doc_id % 5 <> 0)),
             dsh AS (
               SELECT doc_id, list_distinct(CASE WHEN len(tk) >= 2
                 THEN list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])
                 ELSE [] END) AS sh
               FROM (SELECT doc_id, string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+') AS tk
                     FROM documents WHERE doc_id % 5 = 0)),
             bsig AS (SELECT doc_id,
               min(md5('0:' || g)) AS h0, min(md5('1:' || g)) AS h1,
               min(md5('2:' || g)) AS h2, min(md5('3:' || g)) AS h3,
               min(md5('4:' || g)) AS h4, min(md5('5:' || g)) AS h5,
               min(md5('6:' || g)) AS h6, min(md5('7:' || g)) AS h7
               FROM (SELECT doc_id, unnest(sh) AS g FROM bsh) GROUP BY doc_id),
             dsig AS (SELECT doc_id,
               min(md5('0:' || g)) AS h0, min(md5('1:' || g)) AS h1,
               min(md5('2:' || g)) AS h2, min(md5('3:' || g)) AS h3,
               min(md5('4:' || g)) AS h4, min(md5('5:' || g)) AS h5,
               min(md5('6:' || g)) AS h6, min(md5('7:' || g)) AS h7
               FROM (SELECT doc_id, unnest(sh) AS g FROM dsh) GROUP BY doc_id),
             bbuck AS (SELECT doc_id, '0:' || md5(h0 || h1 || h2 || h3) AS bucket FROM bsig
                       UNION ALL SELECT doc_id, '1:' || md5(h4 || h5 || h6 || h7) FROM bsig),
             dbuck AS (SELECT doc_id, '0:' || md5(h0 || h1 || h2 || h3) AS bucket FROM dsig
                       UNION ALL SELECT doc_id, '1:' || md5(h4 || h5 || h6 || h7) FROM dsig),
             bstat AS (SELECT bucket, count(*) AS bn, min(doc_id) AS rep
                       FROM bbuck GROUP BY 1),
             part AS (SELECT b.bucket,
                        CASE WHEN s.bn <= ${graft.search.Search.LshBucketCap}
                             THEN b.doc_id ELSE s.rep END AS base_id
                      FROM bbuck b JOIN bstat s USING (bucket)),
             cand AS (SELECT DISTINCT d.doc_id AS delta_id, p.base_id
                      FROM dbuck d JOIN part p USING (bucket)),
             ver AS (SELECT c.delta_id, c.base_id FROM cand c
                     JOIN dsh a ON a.doc_id = c.delta_id
                     JOIN bsh b ON b.doc_id = c.base_id
                     WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
                           / len(list_distinct(list_concat(a.sh, b.sh))) >= $D10Tau),
             m AS (SELECT delta_id, min(base_id) AS dup_of FROM ver GROUP BY 1)
             SELECT d.doc_id, m.dup_of IS NULL AS novel,
                    coalesce(m.dup_of, -1)::BIGINT AS dup_of
             FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d
             LEFT JOIN m ON m.delta_id = d.doc_id
             ORDER BY d.doc_id"""))

  val qs: Seq[Q] = Seq(d1, d2, d3, d4, d6, d8, d10, x1, x2, x3, x4, x5, x6,
    x7, x8, x9, x10, x11, x12, x13, x14, x15, x16, x17, x18, x19, x23, x24,
    x25, x30, st1, st2, st5)
}
