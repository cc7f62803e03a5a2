package fuserankbench

import graft.SearchMethod
import graft.query._

/** The seeded workload generator. Everything the engine receives in a
  * timed phase comes from here: query texts, filter sets, k, sweep
  * composition, documents and arriving batches. The same seed gives the
  * same inputs; each purpose draws from its own stream, so adding draws
  * to one never shifts another.
  */
final class Gen(seed: Long) {

  private def stream(purpose: Int) = new scala.util.Random(seed * 1000003L + purpose)

  import Gen._

  // ---- search_interactive ---------------------------------------------

  /** Closed-loop search requests: half Retrieval, half Reranking; one to
    * three filters over distinct modalities, mixing sparse (optionally
    * negated), binary, dense point and dense interval (both optionally
    * negated) kinds; k drawn from {10, 20, 100}. `warm` selects the
    * separate warm-up stream. */
  def searches(v: Vocab, n: Int, warm: Boolean = false): IndexedSeq[SearchReq] = {
    val r = stream(if (warm) 2 else 1)
    (0 until n).map { i =>
      val method = if (r.nextBoolean()) SearchMethod.Retrieval else SearchMethod.Reranking
      val cols = r.shuffle(v.modalities).take(1 + r.nextInt(3))
      SearchReq(i, text(r, v), cols.map(filter(r, v, _)), Ks(r.nextInt(Ks.size)), method)
    }
  }

  /** The same requests with their query texts redrawn from a stream of
    * their own: the same methods, filters and k, but query vectors the
    * engine has not seen, so no code it generated for them is reused. */
  def retexted(v: Vocab, reqs: IndexedSeq[SearchReq]): IndexedSeq[SearchReq] = {
    val r = stream(7)
    reqs.map(q => q.copy(text = text(r, v)))
  }

  private def text(r: scala.util.Random, v: Vocab): String =
    Seq.fill(1 + r.nextInt(4))(v.tokens(r.nextInt(v.tokens.size))).mkString(" ")

  private def weight(r: scala.util.Random): Double = Weights(r.nextInt(Weights.size))

  private def filter(r: scala.util.Random, v: Vocab, c: String): Filter =
    v.sparse.get(c) match {
      case Some(domain) =>
        val sel = r.shuffle(domain).take(1 + r.nextInt(3)).sorted
        SparseFilter(c, sel, negated = r.nextDouble() < 0.25, weight = weight(r))
      case None if v.binary.contains(c) =>
        val vals = v.binary(c)
        BinaryFilter(c, vals(r.nextInt(vals.size)), weight = weight(r))
      case None =>
        val (lo, hi) = v.dense(c)
        // log-uniform: prices span three decades
        def draw(): Double =
          math.rint(math.exp(math.log(lo + 1) + r.nextDouble() * (math.log(hi + 1) - math.log(lo + 1))) - 1)
        if (r.nextBoolean())
          DensePointFilter(c, draw(), negated = r.nextDouble() < 0.25, weight = weight(r))
        else {
          val (a, b) = (draw(), draw())
          DenseIntervalFilter(c, math.min(a, b), math.max(a, b),
            negated = r.nextDouble() < 0.25, weight = weight(r))
        }
    }

  // ---- eval_batch -----------------------------------------------------

  /** Differential sweeps: each has one point per modality count
    * m = 1..|candidates| (the reference sweep's natural batch), each point
    * a seeded row-sample seed and m modalities chosen by a seeded shuffle. */
  def sweeps(candidates: Seq[String], n: Int, warm: Boolean = false): IndexedSeq[Sweep] = {
    val r = stream(if (warm) 4 else 3)
    (0 until n).map { i =>
      Sweep(i, (1 to candidates.size).map { m =>
        Point(r.nextInt(Int.MaxValue), r.shuffle(candidates).take(m).sorted)
      })
    }
  }

  // ---- ivf_churn ------------------------------------------------------

  /** Query texts for the serving probes, drawn like the search texts. */
  def probeTexts(v: Vocab, n: Int): IndexedSeq[String] = {
    val r = stream(8)
    IndexedSeq.fill(n)(text(r, v))
  }

  /** Arrival offsets (ns from the phase start) of an open-loop Poisson
    * process at `ratePerS` within `horizonS`. */
  def arrivals(ratePerS: Double, horizonS: Double): IndexedSeq[Long] = {
    val r = stream(9)
    Iterator.iterate(0.0)(t => t - math.log(1 - r.nextDouble()) / ratePerS).drop(1)
      .takeWhile(_ < horizonS).map(t => (t * 1e9).toLong).toIndexedSeq
  }

  // ---- curation_ingest ------------------------------------------------

  /** A documents table in the sf0.1 testdata's shape (doc_id, text, lang,
    * source, n_chars): random texts over a small technical vocabulary,
    * 41 % English. Arriving English documents (doc_id ≡ 0 mod 5, the split
    * the incremental build treats as delta) include exact and one-word
    * near copies of base documents so the screen has duplicates to drop. */
  def documents(n: Int): IndexedSeq[Doc] = {
    val r = stream(5)
    val texts = new Array[String](n)
    val langs = new Array[String](n)
    (0 until n).foreach { i =>
      langs(i) = pickLang(r)
      texts(i) = Seq.fill(12 + r.nextInt(80))(DocWords(r.nextInt(DocWords.size))).mkString(" ")
    }
    val base = (0 until n).filter(i => i % 5 != 0 && langs(i) == "en")
    (0 until n).foreach { i =>
      if (i % 5 == 0 && langs(i) == "en" && base.nonEmpty) {
        val u = r.nextDouble()
        val src = texts(base(r.nextInt(base.size)))
        if (u < 0.10) texts(i) = src
        else if (u < 0.20) {
          val w = src.split(" ")
          w(r.nextInt(w.length)) = DocWords(r.nextInt(DocWords.size))
          texts(i) = w.mkString(" ")
        }
      }
    }
    (0 until n).map(i => Doc(i.toLong, texts(i), langs(i), s"src${i % 20}", texts(i).length.toLong))
  }

  private def pickLang(r: scala.util.Random): String = {
    val u = r.nextDouble()
    if (u < 0.41) "en" else Langs(((u - 0.41) / 0.59 * Langs.size).toInt.min(Langs.size - 1))
  }

  /** The arriving English delta documents (doc_id ≥ 20 — below is the
    * contamination-probe set — and doc_id ≡ 0 mod 5), shuffled and dealt
    * into `k` batches. */
  def batches(docs: IndexedSeq[Doc], k: Int): IndexedSeq[IndexedSeq[Doc]] = {
    val r = stream(6)
    val delta = r.shuffle(docs.filter(d => d.docId >= 20 && d.docId % 5 == 0 && d.lang == "en"))
    (0 until k).map(b => delta.zipWithIndex.collect { case (d, i) if i % k == b => d }.sortBy(_.docId))
  }
}

object Gen {
  val Ks: IndexedSeq[Int] = IndexedSeq(10, 20, 100)
  val Weights: IndexedSeq[Double] = IndexedSeq(0.5, 1.0, 1.0, 1.5)
  val Langs: IndexedSeq[String] = IndexedSeq("es", "zh", "de", "fr")
  val DocWords: IndexedSeq[String] = IndexedSeq(
    "a", "the", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table",
    "value", "vector", "window", "index", "cache", "shard", "page", "block")

  final case class SearchReq(id: Int, text: String, filters: Seq[Filter], k: Int,
                             method: SearchMethod)
  final case class Point(sampleSeed: Int, modalities: Seq[String])
  final case class Sweep(id: Int, points: IndexedSeq[Point])
  final case class Doc(docId: Long, text: String, lang: String, source: String, nChars: Long)

  /** Value domains the generator draws from, read once from the fixture
    * (sorted, so the draws depend only on the seed). */
  final case class Vocab(tokens: IndexedSeq[String],
                         sparse: Map[String, IndexedSeq[String]],
                         binary: Map[String, IndexedSeq[String]],
                         dense: Map[String, (Double, Double)]) {
    def modalities: IndexedSeq[String] =
      (sparse.keys ++ binary.keys ++ dense.keys).toIndexedSeq.sorted
  }
}
