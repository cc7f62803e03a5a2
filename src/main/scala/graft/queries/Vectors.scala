package graft.queries

import graft.Tables
import graft.search.{Quantizer, Search}
import org.apache.spark.sql.functions._

/** Vector-search operators (SURVEY.md §2.7 K1 + pipeline extensions):
  * exact inner-product top-k, brute-force cosine k-NN, embedding-cosine
  * near-duplicate detection. DuckDB oracles use list_dot_product /
  * list_cosine_similarity over the same parquet.
  */
object Vectors {

  /** Fixed literal query vector, rendered identically into the Spark plan
    * and the oracle SQL (decimal text parses to the same double on both). */
  val QVEC: Array[Double] = Array.tabulate(64)(i => ((i * 37) % 19 - 9) / 10.0)
  val qvecSql: String = QVEC.mkString("[", ", ", "]::DOUBLE[]")

  // K1 exact inner-product top-k (reference src/app.py:78: IndexFlatIP.search)
  private val k1 = Q(
    "k1_fused_topk",
    (s, d) => Search.fusedTopK(Tables.embeddings(s, d), "embedding", "vec_id", QVEC, 10),
    Some(s"""SELECT vec_id,
             round(list_dot_product(embedding::DOUBLE[], $qvecSql), 5) + 0.0 AS score
             FROM embeddings ORDER BY score DESC, vec_id LIMIT 10"""))

  // Similarity search: exact cosine top-k for a small query set — the
  // knn spine's Flat tier with no coarse stage
  private val sim1 = Q(
    "sim1_knn_cosine",
    (s, d) => Search.knn(Tables.embeddings(s, d), "embedding", "vec_id",
        Seq(0L, 1L, 2L), 5, Quantizer.flat)
      .orderBy("q_id", "rk"),
    Some("""SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
            round(list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]), 5) + 0.0 AS score,
            row_number() OVER (PARTITION BY q.vec_id
              ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]), 5) DESC,
                       e.vec_id) AS rk
            FROM embeddings q, embeddings e
            WHERE q.vec_id IN (0, 1, 2) AND e.vec_id != q.vec_id
            QUALIFY rk <= 5
            ORDER BY q_id, rk"""))

  // Embedding-cosine near-duplicate pairs, blocked by label (the exact
  // oracle-checkable variant; LSH-blocked variant is sim2 + tests).
  // τ = 0.4 is deliberately below a production near-dup threshold: the
  // synthetic embeddings are near-random (max intra-label cosine ≈ 0.45
  // at sf0.01 / 0.51 at sf0.1), so τ = 0.9 matched NOTHING at any scale
  // and the differential was an empty-vs-empty vacuity. At 0.4 the row
  // bites: 5 pairs at sf0.01, 86 at sf0.1, 860 at sf1 — every pair's
  // score goes under the oracle hash.
  private val d5 = Q(
    "d5_embedding_neardup",
    (s, d) => {
      // L2 norms hoisted out of the pair join: computed once per VECTOR
      // (n rows) instead of once per PAIR (~n²/labels) — identical doubles
      // to cosine() (same sqrt(dot) arithmetic), so the oracle still
      // hash-matches. The join itself stays a shuffle on label.
      val e = Tables.embeddings(s, d)
      val a = e.select(col("vec_id").as("a_id"),
        Search.asDouble(col("embedding")).as("a_emb"), col("label"))
        .withColumn("a_n", Search.l2Norm(col("a_emb")))
      val b = e.select(col("vec_id").as("b_id"),
        Search.asDouble(col("embedding")).as("b_emb"), col("label"))
        .withColumn("b_n", Search.l2Norm(col("b_emb")))
      a.join(b, Seq("label"))
        .filter(col("a_id") < col("b_id"))
        .withColumn("score",
          round(Search.dot(col("a_emb"), col("b_emb")) / (col("a_n") * col("b_n")), 5) + 0.0)
        .filter(col("score") >= 0.4)
        .select(col("a_id"), col("b_id"), col("score"))
        .orderBy("a_id", "b_id")
    },
    Some("""SELECT a.vec_id AS a_id, b.vec_id AS b_id,
            round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 5) + 0.0 AS score
            FROM embeddings a JOIN embeddings b
              ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 5) >= 0.4
            ORDER BY a_id, b_id"""))

  // A5 argmax-by (reference np.nanargmax, src/encode.py:155-157): per
  // event_type, the event achieving the max (value, event_id).
  private val a5 = Q(
    "a5_argmax_by",
    (s, d) => Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(max_by(col("event_id"), struct(col("value"), col("event_id"))).as("max_event"),
        max(col("value")).as("max_value"))
      .orderBy("event_type"),
    Some("""SELECT event_type, event_id AS max_event, value AS max_value
            FROM (SELECT event_type, event_id, value,
                  row_number() OVER (PARTITION BY event_type
                    ORDER BY value DESC, event_id DESC) AS rn
                  FROM events)
            WHERE rn = 1 ORDER BY event_type"""))

  // A6 any/existence (reference src/encode.py:257)
  private val a6 = Q(
    "a6_existence",
    (s, d) => Tables.lineitem(s, d).agg(
      (max(when(col("l_returnflag") === "R", 1).otherwise(0)) === 1).as("has_r"),
      (max(when(col("l_returnflag") === "Z", 1).otherwise(0)) === 1).as("has_z")),
    Some("""SELECT max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) = 1 AS has_r,
            max(CASE WHEN l_returnflag = 'Z' THEN 1 ELSE 0 END) = 1 AS has_z
            FROM lineitem"""))

  // sim2: multi-table LSH ANN — the scale path (candidate generation via
  // bucket join, not O(n²)). The seed-42 hyperplanes are deterministic
  // (java.util.Random's algorithms are specified exactly), so they are
  // rendered as DOUBLE[] literals into the DuckDB oracle (Double.toString
  // round-trips the exact double) — the WHOLE ANN path is hash-checked:
  // signatures → bucket join → dedup → exact cosine top-k.
  private val Sim2Dim = 64
  private val Sim2Bits = 4
  private val Sim2Tables = 8

  private def sim2PlanesSql: String = {
    import org.apache.spark.sql.graft.LshSignatures
    val planes = LshSignatures.planesFor(Sim2Dim, Sim2Bits, Sim2Tables, 42L)
    planes.zipWithIndex.map { case (p, i) =>
      s"(${i / Sim2Bits}, ${i % Sim2Bits}, [${p.mkString(",")}]::DOUBLE[])"
    }.mkString(", ")
  }

  /** Shared CTE prefix: plane literals + per-(vector, table) signatures —
    * the SQL twin of LshSignatures.signatures, used by sim2 and d7. */
  private def lshSigsCte: String =
    s"""planes(tbl, bit, p) AS (VALUES $sim2PlanesSql),
       sigs AS (
         SELECT e.vec_id, pl.tbl,
           sum(CASE WHEN list_dot_product(e.embedding::DOUBLE[], pl.p) >= 0
                    THEN 1 << pl.bit ELSE 0 END)::BIGINT AS sig
         FROM embeddings e, planes pl
         GROUP BY e.vec_id, pl.tbl)"""

  private val sim2 = Q(
    "sim2_knn_lsh",
    (s, d) => {
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val q = e.filter(col("vec_id").isin(0L, 1L, 2L))
        .select(col("vec_id").as("q_id"), col("embedding").as("q_embedding"))
      Search.knnLsh(e, q, "embedding", "vec_id", "q_embedding", "q_id",
          dim = Sim2Dim, nBits = Sim2Bits, k = 5)
        .orderBy("q_id", "rk")
    },
    Some(s"""WITH $lshSigsCte,
             qs AS (SELECT * FROM sigs WHERE vec_id IN (0, 1, 2)),
             cand AS (
               SELECT DISTINCT q.vec_id AS q_id, v.vec_id AS vec_id
               FROM qs q JOIN sigs v ON q.tbl = v.tbl AND q.sig = v.sig
               WHERE v.vec_id != q.vec_id),
             scored AS (
               SELECT c.q_id, c.vec_id,
                 round(list_cosine_similarity(qe.embedding::DOUBLE[],
                   ve.embedding::DOUBLE[]), 5) + 0.0 AS score
               FROM cand c
               JOIN embeddings qe ON qe.vec_id = c.q_id
               JOIN embeddings ve ON ve.vec_id = c.vec_id),
             ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id
                 ORDER BY score DESC, vec_id) AS rk FROM scored)
             SELECT q_id, vec_id, score, rk FROM ranked
             WHERE rk <= 5 ORDER BY q_id, rk"""))

  // d7: LSH-BLOCKED embedding near-dup pairs — the 100 TB shape of d5
  // (which blocks by `label`; fine only while the blocking key stays
  // high-cardinality). Here blocking = the multi-table LSH buckets, so
  // candidate generation is a shuffle on (table, signature) — never an
  // O(n²) cross join — and the exact cosine runs on candidates only. Same
  // seed-42 hyperplanes as sim2 → same SQL-literal trick, whole path
  // hash-checked: signatures → bucket-join pairs → dedup → cosine ≥ τ.
  private val D7Tau = 0.40

  private val d7 = Q(
    "d7_lsh_neardup_pairs",
    (s, d) => {
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      // persisted like d3's signature table (computed once, consumed by the
      // skew-capped join's two sides); the query fn can't unpersist what its
      // caller hasn't acted on yet, so lifecycle is the harness's: Bench
      // clearCaches after every query and Verify after every dump — same
      // leak accounting as d3 sigs/pairs and the KS histograms.
      val b = Search.lshBuckets(e, "embedding", Sim2Dim, Sim2Bits, Sim2Tables)
        .select(col("vec_id"), col("bucket"))
        .persist()
      // the shared skew-capped, packed, sort-deduped candidate pairs (the
      // oracle mirrors the cap); the sort form spills incrementally where
      // a hash distinct's partial-agg spike lost this query once on the
      // 4g memory-pressure boundary (r10)
      val cand = graft.dedup.NearDup.candidatePairs(b, "vec_id")
      // L2 norms hoisted to the per-VECTOR side (n rows) instead of per
      // PAIR (d5's trick) — cosine per candidate is then ONE dot product,
      // not three; identical doubles (same sqrt(dot) arithmetic)
      val en = e.withColumn("__d", Search.asDouble(col("embedding")))
        .withColumn("__n", Search.l2Norm(col("__d")))
      val ea = en.select(col("vec_id").as("a_id"), col("__d").as("a_emb"),
        col("__n").as("a_n"))
      val eb = en.select(col("vec_id").as("b_id"), col("__d").as("b_emb"),
        col("__n").as("b_n"))
      cand.join(ea, "a_id").join(eb, "b_id")
        .withColumn("cosine",
          round(Search.dot(col("a_emb"), col("b_emb")) / (col("a_n") * col("b_n")),
            5) + 0.0)
        .filter(col("cosine") >= D7Tau)
        .select(col("a_id"), col("b_id"), col("cosine"))
        .orderBy("a_id", "b_id")
    },
    Some(s"""WITH $lshSigsCte,
             bstat AS (SELECT tbl, sig, count(*) AS bn, min(vec_id) AS rep
                       FROM sigs GROUP BY tbl, sig),
             cand AS (
               SELECT DISTINCT a_id, b_id FROM (
                 SELECT a.vec_id AS a_id, b.vec_id AS b_id
                 FROM sigs a JOIN sigs b
                   ON a.tbl = b.tbl AND a.sig = b.sig AND a.vec_id < b.vec_id
                 JOIN bstat s ON s.tbl = a.tbl AND s.sig = a.sig
                 WHERE s.bn <= 1000
                 UNION ALL
                 SELECT s.rep, a.vec_id FROM sigs a
                 JOIN bstat s ON s.tbl = a.tbl AND s.sig = a.sig
                 WHERE s.bn > 1000 AND a.vec_id <> s.rep)),
             scored AS (
               SELECT c.a_id, c.b_id,
                 round(list_cosine_similarity(ea.embedding::DOUBLE[],
                   eb.embedding::DOUBLE[]), 5) + 0.0 AS cosine
               FROM cand c
               JOIN embeddings ea ON ea.vec_id = c.a_id
               JOIN embeddings eb ON eb.vec_id = c.b_id)
             SELECT a_id, b_id, cosine FROM scored
             WHERE cosine >= $D7Tau ORDER BY a_id, b_id"""))

  // sim3: IVF ANN — the OTHER scale path next to sim2's LSH (prompt: "an
  // IVF or LSH-bucketed variant"). Centroids come from Lloyd's k-means made
  // cross-engine-reproducible by construction: deterministic init (first
  // nCentroids vectors by id), exact DECIMAL(28,6) per-dimension means
  // (order-independent sums), centroid-id tiebreaks, empty clusters keep
  // their centroid. The DuckDB twin re-runs the SAME k-means with the
  // iterations UNROLLED as CTE layers (a_i → means_i → c_i), then the same
  // probe + exact-cosine tail — the whole IVF pipeline is hash-checked.
  private val IvfCentroidsN = 8
  private val IvfIters = 3
  private val IvfProbe = 2
  private val IvfDim = 64

  private def ivfSql: String = {
    def dist(v: String, c: String) =
      s"list_dot_product($v,$v) - 2*list_dot_product($v,$c) + list_dot_product($c,$c)"
    val iterCtes = (1 to IvfIters).map { i =>
      s"""a$i AS (SELECT e.vec_id, any_value(e.v) AS v,
            (min({'d': ${dist("e.v", "c.c")}, 'cid': c.cid})).cid AS cid
          FROM e, c${i - 1} c GROUP BY e.vec_id),
          m$i AS (SELECT a.cid, i.i AS pos,
            sum(a.v[i.i]::DECIMAL(28,6))::DOUBLE / count(*) AS m
          FROM a$i a, range(1, ${IvfDim + 1}) i(i) GROUP BY a.cid, i.i),
          n$i AS (SELECT cid, list(m ORDER BY pos) AS c FROM m$i GROUP BY cid),
          c$i AS (SELECT p.cid, coalesce(n$i.c, p.c) AS c
                  FROM c${i - 1} p LEFT JOIN n$i USING (cid))"""
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
               embedding::DOUBLE[] AS c FROM embeddings
               ORDER BY vec_id LIMIT $IvfCentroidsN),
        $iterCtes,
        af AS (SELECT e.vec_id, any_value(e.v) AS v,
            (min({'d': ${dist("e.v", "c.c")}, 'cid': c.cid})).cid AS cid
          FROM e, c$IvfIters c GROUP BY e.vec_id),
        q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id IN (0, 1, 2)),
        pr AS (SELECT q_id, cid FROM (
            SELECT q.q_id, c.cid, row_number() OVER (PARTITION BY q.q_id
              ORDER BY ${dist("q.qv", "c.c")}, c.cid) AS r
            FROM q, c$IvfIters c) WHERE r <= $IvfProbe),
        cand AS (SELECT p.q_id, a.vec_id FROM pr p JOIN af a USING (cid)
                 WHERE a.vec_id != p.q_id),
        scored AS (SELECT c.q_id, c.vec_id,
            round(list_cosine_similarity(qe.v, ve.v), 5) + 0.0 AS score
          FROM cand c
          JOIN e qe ON qe.vec_id = c.q_id
          JOIN e ve ON ve.vec_id = c.vec_id),
        ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id
            ORDER BY score DESC, vec_id) AS rk FROM scored)
        SELECT q_id, vec_id, score, rk FROM ranked
        WHERE rk <= 5 ORDER BY q_id, rk"""
  }

  // sim4: PQ ANN — the THIRD scale path (after sim2 LSH and sim3 IVF):
  // product quantization with asymmetric-distance scoring, the 100-TB
  // MEMORY lever (m codes per vector instead of dim doubles — 128× at
  // m=4/ksub=8 on 64-dim; FAISS's IVFPQ compression half). Codebooks =
  // one sim3-discipline k-means PER SUBSPACE (deterministic init, exact
  // DECIMAL means, cid tiebreaks); scoring never touches the original
  // vector: score(q, x) = Σ_j T_q[j][code_j(x)] over the broadcast
  // query-vs-codebook IP table. The DuckDB twin re-runs all m unrolled
  // k-means on list slices, re-derives every code, rebuilds T, and
  // re-ranks — the full fit→encode→ADC pipeline under the hash.
  private val PqM = 4
  private val PqKsub = 8
  private val PqIters = 2
  private val PqDsub = IvfDim / PqM

  private def pqDist(v: String, c: String) =
    s"list_dot_product($v,$v) - 2*list_dot_product($v,$c) + list_dot_product($c,$c)"

  /** Shared PQ-fit CTE block (after a `$src(vec_id, v)` CTE): m unrolled
    * per-subspace k-means → `codes(vec_id, sub, cid)` + `cent(sub, cid, c)`.
    * Used by the pure-PQ (sim4), IVF+PQ (sim5), and residual-IVF+PQ (sim8
    * — `src` = the residual CTE) oracles. */
  private def pqFitCtes: String = pqFitCtesFrom("e")

  private def pqFitCtesFrom(src: String): String = {
    def dist(v: String, c: String) = pqDist(v, c)
    val perSub = (0 until PqM).map { j =>
      val lo = j * PqDsub + 1; val hi = (j + 1) * PqDsub
      val iterCtes = (1 to PqIters).map { i =>
        s"""a${i}_$j AS MATERIALIZED (SELECT e.vec_id, any_value(e.v) AS v,
              (min({'d': ${dist("e.v", "c.c")}, 'cid': c.cid})).cid AS cid
            FROM e_$j e, c${i - 1}_$j c GROUP BY e.vec_id),
            m${i}_$j AS (SELECT a.cid, i.i AS pos,
              sum(a.v[i.i]::DECIMAL(28,6))::DOUBLE / count(*) AS m
            FROM a${i}_$j a, range(1, ${PqDsub + 1}) i(i) GROUP BY a.cid, i.i),
            n${i}_$j AS (SELECT cid, list(m ORDER BY pos) AS c FROM m${i}_$j GROUP BY cid),
            c${i}_$j AS MATERIALIZED (SELECT p.cid, coalesce(n.c, p.c) AS c
                    FROM c${i - 1}_$j p LEFT JOIN n${i}_$j n USING (cid))"""
      }.mkString(",\n")
      s"""e_$j AS MATERIALIZED (SELECT vec_id, v[$lo:$hi] AS v FROM $src),
          c0_$j AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
                 v[$lo:$hi] AS c FROM $src ORDER BY vec_id LIMIT $PqKsub),
          $iterCtes,
          af_$j AS MATERIALIZED (SELECT e.vec_id,
              (min({'d': ${dist("e.v", "c.c")}, 'cid': c.cid})).cid AS cid
            FROM e_$j e, c${PqIters}_$j c GROUP BY e.vec_id)"""
    }.mkString(",\n")
    val codesUnion = (0 until PqM)
      .map(j => s"SELECT vec_id, $j AS sub, cid FROM af_$j").mkString(" UNION ALL ")
    val centUnion = (0 until PqM)
      .map(j => s"SELECT $j AS sub, cid, c FROM c${PqIters}_$j").mkString(" UNION ALL ")
    s"""$perSub,
        codes AS ($codesUnion),
        cent AS ($centUnion)"""
  }

  /** Per-query ADC lookup table over the fitted PQ centroids: `t(q_id,
    * sub, cid, t)` — requires `q(q_id, qv)` and [[pqFitCtes]]' `cent`. */
  private def pqTCte: String =
    s"""t AS (SELECT q.q_id, cent.sub, cent.cid,
          list_dot_product(
            list_slice(q.qv, cent.sub * $PqDsub + 1, (cent.sub + 1) * $PqDsub),
            cent.c) AS t
        FROM q, cent)"""

  private def pqSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        $pqFitCtes,
        q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id IN (0, 1, 2)),
        $pqTCte,
        scored AS (SELECT t.q_id, c.vec_id,
            round(sum(t.t), 5) + 0.0 AS score
          FROM codes c JOIN t ON t.sub = c.sub AND t.cid = c.cid
          WHERE c.vec_id != t.q_id
          GROUP BY t.q_id, c.vec_id),
        ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id
            ORDER BY score DESC, vec_id) AS rk FROM scored)
        SELECT q_id, vec_id, score, rk FROM ranked
        WHERE rk <= 5 ORDER BY q_id, rk"""

  private val sim4 = Q(
    "sim4_knn_pq",
    (s, d) => Search.knn(
        Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
        "embedding", "vec_id", queryIds = Seq(0L, 1L, 2L), k = 5,
        // DECIMAL means: the oracle twin re-runs the identical per-subspace fits
        Quantizer.pq(PqM, PqKsub, PqIters, exactMeans = true))
      .orderBy("q_id", "rk"),
    Some(pqSql))

  // sim5: the COMBINED FAISS-IVFPQ query — coarse probe (sim3's k-means +
  // nProbe nearest cells) generates candidates, PQ ADC (sim4's codes +
  // lookup table) scores them without touching their vectors. The oracle
  // composes both unrolled fits (coarse block g-prefixed so the two
  // k-means CTE families coexist) and re-ranks the probed candidates only
  // — the full two-stage ANN pipeline under one hash.
  /** Shared coarse-quantizer CTE block (g-prefixed so it coexists with the
    * PQ fit CTEs): unrolled sim3-discipline k-means → `gc$IvfIters(cid, c)`
    * + `gaf(vec_id, cid)`. Used by the IVF+PQ (sim5) and residual (sim8)
    * oracles. */
  private def coarseCtes: String = {
    val coarseIters = (1 to IvfIters).map { i =>
      s"""ga$i AS MATERIALIZED (SELECT e.vec_id, any_value(e.v) AS v,
            (min({'d': ${pqDist("e.v", "c.c")}, 'cid': c.cid})).cid AS cid
          FROM e, gc${i - 1} c GROUP BY e.vec_id),
          gm$i AS (SELECT a.cid, i.i AS pos,
            sum(a.v[i.i]::DECIMAL(28,6))::DOUBLE / count(*) AS m
          FROM ga$i a, range(1, ${IvfDim + 1}) i(i) GROUP BY a.cid, i.i),
          gn$i AS (SELECT cid, list(m ORDER BY pos) AS c FROM gm$i GROUP BY cid),
          gc$i AS MATERIALIZED (SELECT p.cid, coalesce(n.c, p.c) AS c
                  FROM gc${i - 1} p LEFT JOIN gn$i n USING (cid))"""
    }.mkString(",\n")
    s"""gc0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
               embedding::DOUBLE[] AS c FROM embeddings
               ORDER BY vec_id LIMIT $IvfCentroidsN),
        $coarseIters,
        gaf AS MATERIALIZED (SELECT e.vec_id,
            (min({'d': ${pqDist("e.v", "gc.c")}, 'cid': gc.cid})).cid AS cid
          FROM e, gc$IvfIters gc GROUP BY e.vec_id)"""
  }

  private def sim5Sql: String = {
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        $coarseCtes,
        $pqFitCtes,
        q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id IN (0, 1, 2)),
        $pqTCte,
        pr AS (SELECT q_id, cid FROM (
            SELECT q.q_id, gc.cid, row_number() OVER (PARTITION BY q.q_id
              ORDER BY ${pqDist("q.qv", "gc.c")}, gc.cid) AS r
            FROM q, gc$IvfIters gc) WHERE r <= $IvfProbe),
        cand AS (SELECT p.q_id, a.vec_id FROM pr p JOIN gaf a USING (cid)
                 WHERE a.vec_id != p.q_id),
        scored AS (SELECT c.q_id, c.vec_id,
            round(sum(t.t), 5) + 0.0 AS score
          FROM cand c
          JOIN codes k ON k.vec_id = c.vec_id
          JOIN t ON t.q_id = c.q_id AND t.sub = k.sub AND t.cid = k.cid
          GROUP BY c.q_id, c.vec_id),
        ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id
            ORDER BY score DESC, vec_id) AS rk FROM scored)
        SELECT q_id, vec_id, score, rk FROM ranked
        WHERE rk <= 5 ORDER BY q_id, rk"""
  }

  // sim8: RESIDUAL IVF+PQ — the true FAISS IVFPQ encoding (sim5 PQ-encodes
  // raw vectors; production IVFPQ encodes v − c_cid, the within-cell
  // displacement, whose spread is far tighter than the raw space — the
  // same byte budget quantizes finer). Scoring adds the per-(query, cell)
  // offset back: ⟨q, v⟩ = ⟨q, c_cid⟩ + ⟨q, r⟩, with only the second term
  // approximated by ADC. The oracle composes the shared coarse block, a
  // residual CTE (exact per-element subtraction against the unrolled
  // centroids), the PQ fit RE-RUN ON RESIDUALS, and offset + ordered
  // list_sum scoring (sequential adds in Spark's aggregate order) — the
  // full residual pipeline under one hash.
  private def sim8Sql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        $coarseCtes,
        res AS MATERIALIZED (SELECT a.vec_id,
            list_transform(range(1, ${IvfDim + 1}), i -> e.v[i] - c.c[i]) AS v
          FROM gaf a
          JOIN e ON e.vec_id = a.vec_id
          JOIN gc$IvfIters c ON c.cid = a.cid),
        ${pqFitCtesFrom("res")},
        q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id IN (0, 1, 2)),
        $pqTCte,
        off AS (SELECT q.q_id, gc.cid, list_dot_product(q.qv, gc.c) AS o
                FROM q, gc$IvfIters gc),
        pr AS (SELECT q_id, cid FROM (
            SELECT q.q_id, gc.cid, row_number() OVER (PARTITION BY q.q_id
              ORDER BY ${pqDist("q.qv", "gc.c")}, gc.cid) AS r
            FROM q, gc$IvfIters gc) WHERE r <= $IvfProbe),
        cand AS (SELECT p.q_id, a.vec_id, p.cid FROM pr p JOIN gaf a USING (cid)
                 WHERE a.vec_id != p.q_id),
        scored AS (SELECT c.q_id, c.vec_id,
            round(any_value(o.o) + list_sum(list(t.t ORDER BY t.sub)), 5) + 0.0 AS score
          FROM cand c
          JOIN codes k ON k.vec_id = c.vec_id
          JOIN t ON t.q_id = c.q_id AND t.sub = k.sub AND t.cid = k.cid
          JOIN off o ON o.q_id = c.q_id AND o.cid = c.cid
          GROUP BY c.q_id, c.vec_id),
        ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id
            ORDER BY score DESC, vec_id) AS rk FROM scored)
        SELECT q_id, vec_id, score, rk FROM ranked
        WHERE rk <= 5 ORDER BY q_id, rk"""

  private val sim8 = Q(
    "sim8_knn_ivfpq_residual",
    (s, d) => Search.knn(
        Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
        "embedding", "vec_id", queryIds = Seq(0L, 1L, 2L), k = 5,
        Quantizer.pq(PqM, PqKsub, PqIters, exactMeans = true),
        Some(Search.Coarse(IvfCentroidsN, IvfIters, IvfProbe,
          exactMeans = true, residual = true)))
      .orderBy("q_id", "rk"),
    Some(sim8Sql))

  // d9: SemDeDup-style SEMANTIC dedup (Abbas et al. 2023) — k-means
  // cluster the embeddings (sim3's exact-decimal fit), then mark
  // near-duplicates WITHIN cells only: the clustering bounds pairwise
  // cost at Σ|cell|², the shape that makes embedding dedup tractable at
  // corpus scale (d5 blocks on an existing label; d9 LEARNS the blocks).
  // Deterministic lowest-id-wins policy; dup_of = −1 sentinel when kept.
  // The oracle re-runs the shared unrolled coarse fit and replays the
  // same within-cell pair scan — fit, assignment, cosine threshold and
  // keeper policy all under one hash.
  // fixture threshold: the synthetic corpus' pairwise cosines top out
  // ~0.45, so SemDeDup's 1−ε ≈ 0.95 would never fire; 0.35 sits in the
  // top ~0.1% of the pair distribution — dups exist, most rows survive.
  // Input pinned to the vec_id < 5000 cohort (st3/st4 precedent): the
  // oracle's within-cell pair join at a FIXED 8 cells goes quadratic in
  // cell size (sf10's 25K-row cells = 2.5G cosines, a DuckDB DNF);
  // at scale the operator's knob is nCentroids ∝ n (SemDeDup's own
  // recipe — cells stay ~10³ rows), which the fixed-cell oracle fixture
  // cannot express. No-op at sf0.01/sf0.1; caps the cohort at sf1+.
  private val D9Tau = 0.35
  private val D9MaxId = 5000

  private def d9Sql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                   WHERE vec_id < $D9MaxId),
        $coarseCtes,
        dup AS (SELECT b.vec_id AS b_id, min(a.vec_id) AS dup_of
                FROM gaf a JOIN gaf b ON a.cid = b.cid AND a.vec_id < b.vec_id
                JOIN e ea ON ea.vec_id = a.vec_id
                JOIN e eb ON eb.vec_id = b.vec_id
                WHERE round(list_cosine_similarity(ea.v, eb.v), 5) >= $D9Tau
                GROUP BY b.vec_id)
        SELECT f.vec_id, f.cid::BIGINT AS cid,
               d.dup_of IS NULL AS kept,
               coalesce(d.dup_of, -1)::BIGINT AS dup_of
        FROM gaf f LEFT JOIN dup d ON d.b_id = f.vec_id
        ORDER BY f.vec_id"""

  private val d9 = Q(
    "d9_semantic_dedup",
    (s, d) => Search.semanticDedup(
        Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
          .filter(col("vec_id") < D9MaxId),
        "embedding", "vec_id", nCentroids = IvfCentroidsN, iters = IvfIters,
        tau = D9Tau, exactMeans = true),
    Some(d9Sql))

  private val sim5 = Q(
    "sim5_knn_ivfpq",
    (s, d) => Search.knn(
        Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
        "embedding", "vec_id", queryIds = Seq(0L, 1L, 2L), k = 5,
        Quantizer.pq(PqM, PqKsub, PqIters, exactMeans = true),
        Some(Search.Coarse(IvfCentroidsN, IvfIters, IvfProbe, exactMeans = true)))
      .orderBy("q_id", "rk"),
    Some(sim5Sql))

  // sim6: SQ8 ANN — the FOURTH compression lever (after sim2 LSH, sim3
  // IVF, sim4 PQ): per-dimension 8-bit scalar quantization, FAISS's
  // ScalarQuantizer QT_8bit. The fit is one min/max aggregation pass, the
  // encode is dim BYTES per vector (8× smaller than doubles at near-exact
  // recall — the refine-friendly compression, vs PQ's 128×-but-lossier
  // codes), and scoring is asymmetric: the query stays exact, the corpus
  // side is dequantized mn + c·Δ/255 inside a per-query lookup table
  // (SQ8 ≡ PQ with dsub=1/ksub=256 on the uniform-grid codebook, so the
  // Spark side reuses the packed-ADC codegen kernel). Every op in the
  // fit→encode→dequantize→dot chain is IEEE-exact or identically rounded
  // cross-engine (min/max are comparisons; sub/div/mul are single-rounded;
  // round() is half-away-from-zero on nonnegative values in both engines),
  // so the DuckDB twin — same min/max fit, same rounded codes, same
  // dequantized list, same sequential dot — hash-matches bit-for-bit
  // before the 5-dp display rounding.
  private def sq8Sql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        mm AS (SELECT i.i AS pos, min(e.v[i.i]) AS mn, max(e.v[i.i]) AS mx
               FROM e, range(1, ${IvfDim + 1}) i(i) GROUP BY i.i),
        dq AS (SELECT e.vec_id,
            list(CASE WHEN m.mx = m.mn THEN m.mn
                 ELSE m.mn + round((e.v[m.pos] - m.mn) / (m.mx - m.mn) * 255)
                      * (m.mx - m.mn) / 255
                 END ORDER BY m.pos) AS dv
          FROM e, mm m GROUP BY e.vec_id),
        q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id IN (0, 1, 2)),
        scored AS (SELECT q.q_id, d.vec_id,
            round(list_dot_product(d.dv, q.qv), 5) + 0.0 AS score
          FROM dq d, q WHERE d.vec_id != q.q_id),
        ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id
            ORDER BY score DESC, vec_id) AS rk FROM scored)
        SELECT q_id, vec_id, score, rk FROM ranked
        WHERE rk <= 5 ORDER BY q_id, rk"""

  private val sim6 = Q(
    "sim6_knn_sq8",
    (s, d) => Search.knn(
        Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
        "embedding", "vec_id", queryIds = Seq(0L, 1L, 2L), k = 5, Quantizer.sq8)
      .orderBy("q_id", "rk"),
    Some(sq8Sql))

  // sim7: binary-quantization ANN — the FIFTH compression lever (after
  // sim2 LSH, sim3 IVF, sim4 PQ, sim6 SQ8): 1 bit per dimension (sign
  // around the per-dimension exact-DECIMAL mean), 64 dims packed into one
  // BIGINT word, Hamming shortlist (xor + popcount) and exact-cosine
  // refine. The DuckDB twin re-runs the identical fit (same decimal mean),
  // re-packs the same bits (HUGEINT accumulation wrapped to the signed-64
  // pattern — bit 63 is the long's sign bit on the Spark side), Hamming-
  // ranks via bit_count(xor(...)), and refines the same shortlist — the
  // whole fit→pack→Hamming→refine pipeline under one hash.
  private val BqShortlist = 40

  private def binarySql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        mm AS (SELECT i.i AS pos,
                 sum(e.v[i.i]::DECIMAL(28,6))::DOUBLE / count(*) AS m
               FROM e, range(1, ${IvfDim + 1}) i(i) GROUP BY i.i),
        us AS (SELECT e.vec_id,
                 sum(CASE WHEN e.v[m.pos] > m.m
                     THEN 1::HUGEINT << (m.pos - 1) ELSE 0::HUGEINT END) AS u
               FROM e, mm m GROUP BY e.vec_id),
        sigs AS (SELECT vec_id,
                 (CASE WHEN u >= 9223372036854775808::HUGEINT
                  THEN u - 18446744073709551616::HUGEINT ELSE u END)::BIGINT AS sig
                 FROM us),
        q AS (SELECT vec_id AS q_id, sig AS q_sig FROM sigs
              WHERE vec_id IN (0, 1, 2)),
        ham AS (SELECT q.q_id, s.vec_id,
                  bit_count(xor(s.sig, q.q_sig))::BIGINT AS hamming
                FROM sigs s, q WHERE s.vec_id != q.q_id),
        short AS (SELECT *, row_number() OVER (PARTITION BY q_id
                    ORDER BY hamming, vec_id) AS hrk FROM ham),
        sc AS (SELECT h.q_id, h.vec_id, h.hamming,
                 round(list_cosine_similarity(qe.embedding::DOUBLE[],
                   ve.embedding::DOUBLE[]), 5) + 0.0 AS score
               FROM short h
               JOIN embeddings qe ON qe.vec_id = h.q_id
               JOIN embeddings ve ON ve.vec_id = h.vec_id
               WHERE h.hrk <= $BqShortlist),
        ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id
                     ORDER BY score DESC, vec_id) AS rk FROM sc)
        SELECT q_id, vec_id, hamming, score, rk FROM ranked
        WHERE rk <= 5 ORDER BY q_id, rk"""

  // sim9: Matryoshka prefix-truncation ANN — the SIXTH compression lever,
  // and the only one with NO fit stage at all: the coarse representation
  // is the embedding's own first PrefixDim coordinates (MRL §4 adaptive
  // retrieval), so the "index build" is a column projection. Shortlist by
  // prefix cosine, exact full-dim refine — both stages under the hash
  // (pscore ships in the output). 16/64 dims = 4× byte/FLOP reduction on
  // the exhaustive pass at 100 TB, same pruned-refine join shape as sim7.
  private val MrlPrefixDim = 16
  private val MrlShortlist = 40

  private def mrlSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        p AS (SELECT vec_id, v[1:$MrlPrefixDim] AS pv FROM e),
        q AS (SELECT vec_id AS q_id, pv AS q_pv FROM p
              WHERE vec_id IN (0, 1, 2)),
        ps AS (SELECT q.q_id, p.vec_id,
                 round(list_cosine_similarity(p.pv, q.q_pv), 5) + 0.0 AS pscore
               FROM p, q WHERE p.vec_id != q.q_id),
        short AS (SELECT *, row_number() OVER (PARTITION BY q_id
                    ORDER BY pscore DESC, vec_id) AS prk FROM ps),
        sc AS (SELECT h.q_id, h.vec_id, h.pscore,
                 round(list_cosine_similarity(qe.embedding::DOUBLE[],
                   ve.embedding::DOUBLE[]), 5) + 0.0 AS score
               FROM short h
               JOIN embeddings qe ON qe.vec_id = h.q_id
               JOIN embeddings ve ON ve.vec_id = h.vec_id
               WHERE h.prk <= $MrlShortlist),
        ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id
                     ORDER BY score DESC, vec_id) AS rk FROM sc)
        SELECT q_id, vec_id, pscore, score, rk FROM ranked
        WHERE rk <= 5 ORDER BY q_id, rk"""

  private val sim9 = Q(
    "sim9_knn_mrl",
    (s, d) => Search.knn(
        Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
        "embedding", "vec_id", queryIds = Seq(0L, 1L, 2L), k = 5,
        Quantizer.mrl(MrlPrefixDim), shortlist = MrlShortlist)
      .orderBy("q_id", "rk"),
    Some(mrlSql))

  private val sim7 = Q(
    "sim7_knn_binary",
    (s, d) => Search.knn(
        Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
        "embedding", "vec_id", queryIds = Seq(0L, 1L, 2L), k = 5,
        Quantizer.binary, shortlist = BqShortlist)
      .orderBy("q_id", "rk"),
    Some(binarySql))

  // st3: batch twin of the STREAMING near-dup filter
  // (Streaming.nearDupFilter — dedup-on-ingest): greedy first-seen-wins
  // leader clustering per single-table LSH bucket; a doc is a duplicate of
  // the first retained representative whose 5-dp-rounded cosine ≥ τ.
  // flatMapGroupsWithState runs the identical code on this static table
  // (batch semantics, ascending-id group order), and the DuckDB twin
  // replays the EXACT sequential greedy with a recursive CTE — one
  // iteration per in-bucket position (buckets advance in parallel), the
  // per-bucket representative set carried as a STRUCT(id, emb) list — so
  // the stateful decision itself is hash-checked, not just its
  // ingredients. τ = 0.2 is a fixture threshold chosen to exercise BOTH
  // branches on the synthetic corpus (seed-42 planes, first 3 of sim2's
  // stream).
  //
  // The input is pinned to the vec_id < 2000 cohort (rest1/rest2
  // precedent: a fixed-size fixture at any sf — no-op at sf0.01/sf0.1,
  // caps the replicated ids at sf1+). The DuckDB twin's recursion pays a
  // per-iteration pipeline cost proportional to the LARGEST BUCKET
  // (~307 s at sf1's 20K vectors vs 6 s at 2K), which would dominate the
  // measured baseline suite with simulation overhead; the operator's own
  // scale story is the Spark side's bounded per-bucket state
  // (StreamingSpec), not this fixture's row count.
  private val St3Bits = 3
  private val St3Tau = 0.2
  private val St3Cap = 256
  private val St3MaxId = 2000

  private def st3PlanesSql: String = {
    import org.apache.spark.sql.graft.LshSignatures
    val planes = LshSignatures.planesFor(Sim2Dim, St3Bits, 1, 42L)
    planes.zipWithIndex.map { case (p, b) =>
      s"($b, [${p.mkString(",")}]::DOUBLE[])"
    }.mkString(", ")
  }

  private val st3 = Q(
    "st3_stream_neardup",
    (s, d) => {
      implicit val sp: org.apache.spark.sql.SparkSession = s
      graft.streaming.Streaming.nearDupFilter(
          Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
            .filter(col("vec_id") < St3MaxId),
          "embedding", "vec_id", dim = Sim2Dim, nBits = St3Bits,
          tau = St3Tau, maxPerBucket = St3Cap)
        .orderBy("id")
    },
    Some(s"""WITH RECURSIVE
             planes(bit, p) AS (VALUES $st3PlanesSql),
             emb2k AS (SELECT vec_id, embedding FROM embeddings
                       WHERE vec_id < $St3MaxId),
             nsigs AS (
               SELECT e.vec_id,
                 sum(CASE WHEN list_dot_product(e.embedding::DOUBLE[], pl.p) >= 0
                     THEN 1 << pl.bit ELSE 0 END)::BIGINT AS sig
               FROM emb2k e, planes pl GROUP BY e.vec_id),
             ndocs AS (
               SELECT s.sig, s.vec_id AS id, e.embedding::DOUBLE[] AS emb,
                 row_number() OVER (PARTITION BY s.sig ORDER BY s.vec_id) AS rn
               FROM nsigs s JOIN emb2k e USING (vec_id)),
             steps AS (
               SELECT sig, 0::BIGINT AS rn,
                 []::STRUCT(id BIGINT, emb DOUBLE[])[] AS reps,
                 NULL::BIGINT AS id, NULL::BOOLEAN AS novel,
                 NULL::BIGINT AS dup_of
               FROM (SELECT DISTINCT sig FROM ndocs)
               UNION ALL
               SELECT d.sig, d.rn,
                 CASE WHEN m.mid IS NULL AND len(s.reps) < $St3Cap
                      THEN list_append(s.reps, {'id': d.id, 'emb': d.emb})
                      ELSE s.reps END,
                 d.id, m.mid IS NULL, coalesce(m.mid, -1)
               FROM steps s
               JOIN ndocs d ON d.sig = s.sig AND d.rn = s.rn + 1
               CROSS JOIN LATERAL (SELECT list_filter(s.reps,
                   r -> round(list_cosine_similarity(r.emb, d.emb), 5) >= $St3Tau
                 )[1].id AS mid) m)
             SELECT id, novel, dup_of FROM steps
             WHERE id IS NOT NULL ORDER BY id"""))

  // st4: the MULTI-PROBE streaming near-dup decision under the hash
  // (round-10 feature, Streaming.nearDupFilter probeHamming=1). Key
  // structural fact making the twin tractable: probe rows never INSERT,
  // so each bucket's representative state evolves EXACTLY as st3's
  // single-probe recursion (over its home docs alone); a doc d probing
  // bucket B reads B's state "as of" the number of B-home docs with
  // id < d (for the home bucket that count is d's own position − 1, so
  // one formula serves both). Per-probe verdict = first matching rep in
  // insertion order (the greedy's kept.find); per-doc merge = novel iff
  // no probe matched, dup_of = lowest matched rep id — the exact merge
  // nearDupFilter's aggregation performs.
  private def st4Sql: String = {
    val flips = (0 until St3Bits).map(b => s"xor(n.sig, ${1L << b})")
    s"""WITH RECURSIVE
        planes(bit, p) AS (VALUES $st3PlanesSql),
        emb2k AS (SELECT vec_id, embedding FROM embeddings
                  WHERE vec_id < $St3MaxId),
        nsigs AS (
          SELECT e.vec_id,
            sum(CASE WHEN list_dot_product(e.embedding::DOUBLE[], pl.p) >= 0
                THEN 1 << pl.bit ELSE 0 END)::BIGINT AS sig
          FROM emb2k e, planes pl GROUP BY e.vec_id),
        ndocs AS (
          SELECT s.sig, s.vec_id AS id, e.embedding::DOUBLE[] AS emb,
            row_number() OVER (PARTITION BY s.sig ORDER BY s.vec_id) AS rn
          FROM nsigs s JOIN emb2k e USING (vec_id)),
        steps AS (
          SELECT sig, 0::BIGINT AS rn,
            []::STRUCT(id BIGINT, emb DOUBLE[])[] AS reps
          FROM (SELECT DISTINCT sig FROM ndocs)
          UNION ALL
          SELECT d.sig, d.rn,
            CASE WHEN m.mid IS NULL AND len(s.reps) < $St3Cap
                 THEN list_append(s.reps, {'id': d.id, 'emb': d.emb})
                 ELSE s.reps END
          FROM steps s
          JOIN ndocs d ON d.sig = s.sig AND d.rn = s.rn + 1
          CROSS JOIN LATERAL (SELECT list_filter(s.reps,
              r -> round(list_cosine_similarity(r.emb, d.emb), 5) >= $St3Tau
            )[1].id AS mid) m),
        probes AS (
          SELECT n.vec_id AS id, e.embedding::DOUBLE[] AS emb,
            unnest([n.sig, ${flips.mkString(", ")}]) AS psig
          FROM nsigs n JOIN emb2k e USING (vec_id)),
        pcnt AS (
          SELECT p.id, p.psig, any_value(p.emb) AS emb,
            count(d.id) AS rn_before
          FROM probes p LEFT JOIN ndocs d
            ON d.sig = p.psig AND d.id < p.id
          GROUP BY p.id, p.psig),
        verd AS (
          SELECT c.id, m.mid
          FROM pcnt c
          LEFT JOIN steps s ON s.sig = c.psig AND s.rn = c.rn_before
          CROSS JOIN LATERAL (SELECT list_filter(
              coalesce(s.reps, []::STRUCT(id BIGINT, emb DOUBLE[])[]),
              r -> round(list_cosine_similarity(r.emb, c.emb), 5) >= $St3Tau
            )[1].id AS mid) m)
        SELECT id, min(mid) IS NULL AS novel,
          coalesce(min(mid), -1)::BIGINT AS dup_of
        FROM verd GROUP BY id ORDER BY id"""
  }

  private val st4 = Q(
    "st4_stream_neardup_multiprobe",
    (s, d) => {
      implicit val sp: org.apache.spark.sql.SparkSession = s
      graft.streaming.Streaming.nearDupFilter(
          Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
            .filter(col("vec_id") < St3MaxId),
          "embedding", "vec_id", dim = Sim2Dim, nBits = St3Bits,
          tau = St3Tau, maxPerBucket = St3Cap, probeHamming = 1)
        .orderBy("id")
    },
    Some(st4Sql))

  private val sim3 = Q(
    "sim3_knn_ivf",
    (s, d) => Search.knn(
        Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
        "embedding", "vec_id", queryIds = Seq(0L, 1L, 2L), k = 5, Quantizer.flat,
        // DECIMAL means: the oracle twin re-runs the identical fit
        Some(Search.Coarse(IvfCentroidsN, IvfIters, IvfProbe, exactMeans = true)))
      .orderBy("q_id", "rk"),
    Some(ivfSql))

  val qs: Seq[Q] = Seq(k1, sim1, sim2, sim3, sim4, sim5, sim6, sim7, sim8,
    sim9, d5, d7, d9, a5, a6, st3, st4)
}
