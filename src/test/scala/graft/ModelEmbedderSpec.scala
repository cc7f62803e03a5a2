package graft

import graft.encode.{Embedders, HashingEmbedder, ModelEmbedder, OnnxEmbedder, TinyNnEmbedder}

/** The model-backed embedder seam (VERDICT r4 #5 / r5 #3): the Embedder
  * trait must be proven swappable by a non-hashing, model-style
  * implementation, and the ONNX example must fail fast and actionably
  * when the optional runtime isn't present.
  */
class ModelEmbedderSpec extends SparkSpec {

  test("ModelEmbedder skeleton: mean-pool + L2 golden on a fake forward") {
    // 2 tokens with known hidden states → pool = (1,3)/2=(0.5,1.5),... L2
    val fake = new ModelEmbedder {
      val dim = 2
      protected def forward(ids: Array[Long]): Array[Array[Float]] =
        Array(Array(0f, 1f), Array(1f, 2f))
    }
    val v = fake.embed("two tokens")
    val expected = {
      val (a, b) = (0.5, 1.5); val n = math.sqrt(a * a + b * b)
      Array(a / n, b / n)
    }
    assert(v.zip(expected).forall { case (x, y) => math.abs(x - y) < 1e-12 })
    assert(fake.embed("").forall(_ == 0.0)) // empty text → zero vector, no NaN
  }

  test("TinyNnEmbedder: deterministic, L2-normalized, text-sensitive, non-hashing") {
    val e1 = TinyNnEmbedder(dim = 16)
    val e2 = TinyNnEmbedder(dim = 16) // fresh instance, same seed → same weights
    val a = e1.embed("the quick brown fox")
    assert(a.sameElements(e2.embed("the quick brown fox")))
    assert(math.abs(a.map(x => x * x).sum - 1.0) < 1e-9)
    assert(!a.sameElements(e1.embed("a completely different sentence")))
    // genuinely different family than the hashing surrogate at equal dim
    val h = HashingEmbedder(dim = 16).embed("the quick brown fox")
    assert(!a.sameElements(h))
  }

  test("swaps into the engine fusion path (fuseInto) unchanged") {
    import spark.implicits._
    val df = Seq((1L, "red shoes", "footwear"), (2L, "blue hat", "headwear"))
      .toDF("id", "name", "category")
    val e = TinyNnEmbedder(dim = 8)
    def fused(in: org.apache.spark.sql.DataFrame) =
      Embedders.fuseInto(in, e, Map("name" -> 0.7, "category" -> 0.3), "vec")
        .select("id", "vec").collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val out = fused(df)
    assert(out.size == 2)
    // executor-side inference: the same vectors on any partitioning
    assert(fused(df.repartition(3)) == out)
    out.values.foreach { v =>
      assert(math.abs(v.map(x => x * x).sum - 1.0) < 1e-9)
    }
    // matches the reference fusion law computed by hand: Σ wᵢ·embᵢ, L2
    val manual = {
      val n = e.embed("red shoes"); val c = e.embed("footwear")
      val s = n.zip(c).map { case (x, y) => 0.7 * x + 0.3 * y }
      val nn = math.sqrt(s.map(x => x * x).sum)
      s.map(_ / nn).toSeq
    }
    assert(out(1L).zip(manual).forall { case (x, y) => math.abs(x - y) < 1e-12 })
  }

  test("OnnxEmbedder: cheap to construct, fails fast and actionably on a bad model path") {
    // the test classpath carries the ai.onnxruntime API double (see
    // OnnxEmbedderSpec), so Class.forName succeeds here; first use must
    // still be the first IO, and a missing model file must fail naming
    // the path, not with reflective-invoke noise. (The jar-ABSENT branch
    // — the ClassNotFoundException → "add the jar" message — can't run
    // in this JVM anymore; it is pinned by construction: the only
    // statement ahead of it is Class.forName.)
    val e = OnnxEmbedder("/no/such/encoder.onnx", dim = 384) // no IO yet
    assert(e.tokenize("hello world").length == 2) // tokenizer works session-free
    val err = intercept[IllegalStateException](e.embed("hello world"))
    assert(err.getMessage.contains("/no/such/encoder.onnx"))
  }
}
