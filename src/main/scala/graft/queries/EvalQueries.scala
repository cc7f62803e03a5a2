package graft.queries

import graft.Tables
import graft.encode._
import graft.eval.Eval
import graft.profile.Profiler
import graft.query._
import graft.search.Search
import org.apache.spark.sql.functions._

/** A11 experiment-sweep driver as a driver-checked oracle query (reference
  * src/eval/evaluate.py:156-242 + the groupby-mean aggregation :119-129):
  * the FULL sweep grid — num_harmonics × interval_epsilon × modality-count
  * × seeded repetitions — runs differentially (hard-filter oracle vs fused
  * subject) on BOTH engines, and the a9-shaped mean-recall aggregation of
  * the sweep results table is hash-compared.
  *
  * The query text is zero (like rest1) so every score is closed-form: the
  * hard-filter ranking degenerates to doc_id order and the fused ranking is
  * the modality dot products — DuckDB re-derives the whole experiment:
  * seeded row sample (md5 order), seeded modality choice (inlined by the
  * shared Eval.modalitiesFor), filter synthesis, both top-k lists, recall,
  * group-by mean.
  */
object EvalQueries {

  private val Cands = Seq("n_chars", "lang")
  private val HarmonicsSweep = Seq(2, 4)
  private val EpsilonSweep = Seq(0.0, 0.01)
  private val Reps = 2
  private val TopK = 10

  /** σ-damped Fourier interval series at `pos`, qualified against the
    * per-point iv CTE alias `v` (shared template, Q.fourierSeriesSql). */
  private def series(kh: Int, pos: String): String =
    Q.fourierSeriesSql(kh, "v.a", "v.b", pos)

  /** One sweep point's CTE chain; returns (cteSql, recCteName). */
  private def pointSql(kh: Int, epsIdx: Int, eps: Double, m: Int, i: Int): (String, String) = {
    val (seed, mods) = Eval.modalitiesFor(Cands, m, i)
    val dense = mods.contains("n_chars")
    val sparse = mods.contains("lang")
    val id = s"${kh}_${epsIdx}_${m}_$i"
    val preds = Seq(
      if (dense) Some("(s.n_chars IS NULL OR d.n_chars <= s.n_chars)") else None,
      if (sparse) Some("(s.lang IS NULL OR d.lang = s.lang)") else None
    ).flatten.mkString(" AND ")
    val sparseTerm =
      if (!sparse) "0.0"
      else """(CASE WHEN rlang IS NULL THEN 0.0 WHEN lang IS NULL THEN 0.0
              WHEN lang = rlang THEN 1.0 ELSE -1.0 END)"""
    val fus =
      if (dense)
        s"""fus_$id AS (
           SELECT doc_id, round($sparseTerm +
             (CASE WHEN rv IS NULL THEN 0.0
                   WHEN nch IS NULL THEN -(2/(ii_in - ii_out)) * ((ii_in + ii_out)/2) - 1.0
                   ELSE (2/(ii_in - ii_out)) * ii_x
                        - (2/(ii_in - ii_out)) * ((ii_in + ii_out)/2) END), 5) + 0.0 AS score
           FROM (
             SELECT d.doc_id, d.lang, d.n_chars AS nch, v.rv, v.rlang,
               ${series(kh, "0.99 * (2*((d.n_chars - v.mn)/(v.mx - v.mn)) - 1)")} AS ii_x,
               ${series(kh, "(v.a + v.b)/2")} AS ii_in,
               ${series(kh,
                 "CASE WHEN abs(v.a + 1) > abs(1 - v.b) THEN (v.a - 1)/2 ELSE (v.b + 1)/2 END")} AS ii_out
             FROM documents d, iv_$id v))"""
      else
        s"""fus_$id AS (
           SELECT d.doc_id, round($sparseTerm, 5) + 0.0 AS score
           FROM (SELECT doc_id, lang, rlang FROM documents, iv_$id) d)"""
    val cte =
      s"""samp_$id AS (SELECT doc_id, n_chars, lang FROM documents
            ORDER BY md5(doc_id::VARCHAR || ':' || '$seed') LIMIT 1),
          iv_$id AS (SELECT 0.99*(-1 - $eps) AS a,
            0.99*((2*((s.n_chars - mn)/(mx - mn)) - 1) + $eps) AS b, mn, mx,
            s.n_chars AS rv, s.lang AS rlang FROM samp_$id s, mm),
          hard_$id AS (SELECT d.doc_id FROM documents d, samp_$id s
            WHERE $preds ORDER BY d.doc_id LIMIT $TopK),
          $fus,
          fustop_$id AS (SELECT doc_id FROM fus_$id ORDER BY score DESC, doc_id LIMIT $TopK),
          rec_$id AS (SELECT $kh::BIGINT AS num_harmonics,
            $eps::DOUBLE AS interval_epsilon, $m::BIGINT AS num_modalities,
            CASE WHEN (SELECT count(*) FROM hard_$id) = 0 THEN 0.0
                 ELSE (SELECT count(*) FROM hard_$id h
                       WHERE h.doc_id IN (SELECT doc_id FROM fustop_$id))::DOUBLE
                      / (SELECT count(*) FROM hard_$id) END AS recall)"""
    (cte, s"rec_$id")
  }

  private def a11Sql: String = {
    val points = for {
      kh <- HarmonicsSweep
      (eps, epsIdx) <- EpsilonSweep.zipWithIndex
      m <- 1 to Cands.size
      i <- 0 until Reps
    } yield pointSql(kh, epsIdx, eps, m, i)
    val ctes = ("mm AS (SELECT min(n_chars) AS mn, max(n_chars) AS mx FROM documents)"
      +: points.map(_._1)).mkString(",\n")
    val union = points.map(p => s"SELECT * FROM ${p._2}").mkString(" UNION ALL ")
    s"""WITH $ctes
        SELECT num_harmonics, interval_epsilon, num_modalities,
               round(avg(recall), 6) + 0.0 AS avg_recall
        FROM ($union)
        GROUP BY num_harmonics, interval_epsilon, num_modalities
        ORDER BY num_harmonics, interval_epsilon, num_modalities"""
  }

  private val a11 = Q(
    "a11_sweep_agg",
    (s, d) => {
      val items = Embedders.precomputed(
        Tables.documents(s, d), Tables.embeddings(s, d),
        "doc_id", "vec_id", "embedding").persist()
      val profs = Profiler.profile(items, Cands)
      val zeroText = new Array[Double](64)
      // one encode per HARMONIC count, shared by every ε in the grid
      // (interval ε is query-side only — QueryEncoder.Params — so the
      // reference's per-(kh, ε) re-encode collapses to per-kh). The
      // encode is NOT persisted: the harmonic's whole ε × point grid is
      // answered by ONE batched multiTopK scan, so the encode pipelines
      // into that single pass — a persist would pay a full block
      // materialization (500K × ~40-double vectors at sf10) for an index
      // that is never scanned again
      def engineFor(kh: Int): Eval.SweepEngine = {
        val params = EncoderParams(numHarmonics = kh)
        val layout = ProductEncoder.layoutFor(Cands, profs, params)
        val indexed = ProductEncoder.encode(items, layout)
        Eval.SweepEngine(
          // the layout has no text block: the per-point texts (all the
          // zero query here) do not enter the encode
          search = (epsList, filterSets, _, k) => {
            // ε × points queries concatenated into ONE scan: row-major
            // [ε][point]
            val qs = for { eps <- epsList; fs <- filterSets }
              yield QueryEncoder.encode(layout, fs.map(f => f.column -> f).toMap,
                params = QueryEncoder.Params(eps, params.rangeEpsilon))
            val flat = Search.multiTopK(indexed, "fused_vec", "doc_id", qs, k)
              .map(_.map(_._1))
            epsList.indices.map(e =>
              filterSets.indices.map(j => flat(e * filterSets.size + j)))
          })
      }
      val rs = Eval.fullSweep(items, "doc_id", "embedding", zeroText,
        Cands, profs, engineFor, HarmonicsSweep, EpsilonSweep,
        k = TopK, repetitions = Reps)
      items.unpersist()
      Eval.aggregateResults(s, rs)
    },
    Some(a11Sql))

  val qs: Seq[Q] = Seq(a11)
}
