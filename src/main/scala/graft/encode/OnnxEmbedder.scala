package graft.encode

/** Model-backed [[Embedder]]s (reference TextEmbedder, src/embed.py:25-41:
  * tokenizer → transformer forward → mean-pool → L2). The shared skeleton
  * here is everything EXCEPT the model call: a deterministic tokenizer,
  * attention-mask-free mean pooling over token hidden states, and L2
  * normalization — so a concrete subclass only supplies `forward`.
  *
  * Rows are embedded on the executors by [[Embedders.fuseInto]], which
  * calls the same `embed` as the driver path. Executor-side model state
  * must be per-JVM, not serialized: implementations hold sessions in
  * `@transient lazy val`s.
  */
abstract class ModelEmbedder extends Embedder {

  /** Max tokens fed to the model (BERT-style position limit). */
  def maxLen: Int = 128

  /** Hashed-vocabulary size for [[tokenize]]. */
  def vocabSize: Int = 30522

  /** Token ids [n] → hidden states [n][dim]. The model call. */
  protected def forward(ids: Array[Long]): Array[Array[Float]]

  /** Deterministic whitespace + hashed-vocab tokenizer. This is the seam
    * where a real subword tokenizer (BPE/WordPiece vocab file) slots in;
    * hashing OOV words into a fixed id space is the standard fallback and
    * keeps the pipeline fully deterministic with no vocab artifact.
    */
  final def tokenize(text: String): Array[Long] = {
    val t = if (text == null) "" else text.toLowerCase(java.util.Locale.ROOT)
    t.split("\\s+").iterator.filter(_.nonEmpty).take(maxLen)
      .map(w => math.floorMod(w.hashCode.toLong, vocabSize.toLong))
      .toArray
  }

  /** Mean-pool token hidden states, L2-normalize (src/embed.py:36-40). */
  final def embed(text: String): Array[Double] = {
    val ids = tokenize(text)
    val out = new Array[Double](dim)
    if (ids.isEmpty) return out
    val hidden = forward(ids)
    var i = 0
    while (i < hidden.length) {
      var j = 0
      while (j < dim) { out(j) += hidden(i)(j); j += 1 }
      i += 1
    }
    var n = 0.0; var j = 0
    while (j < dim) { out(j) /= hidden.length; n += out(j) * out(j); j += 1 }
    if (n > 0) { val s = 1.0 / math.sqrt(n); j = 0
      while (j < dim) { out(j) *= s; j += 1 } }
    out
  }
}

/** Production ONNX example: runs a sentence-encoder exported to ONNX via
  * Microsoft's `onnxruntime` JVM binding (public API — the
  * `ai.onnxruntime` package of com.microsoft.onnxruntime:onnxruntime).
  * The binding is an OPTIONAL runtime dependency: this class binds it
  * reflectively, so the engine builds and ships with zero new jars, and a
  * deployment that adds onnxruntime to the executor classpath gets real
  * model inference with no code change. Without the jar, first use fails
  * fast with an actionable message (construction stays cheap/serializable).
  *
  * Wiring (what the reflection below spells): one process-wide
  * `OrtEnvironment.getEnvironment()`; one `env.createSession(modelPath,
  * new OrtSession.SessionOptions())` per executor JVM (`@transient lazy`
  * — sessions hold native memory and must never ride the task closure);
  * per batch an `OnnxTensor.createTensor(env, LongBuffer.wrap(ids),
  * shape=[1, n])` fed as `{"input_ids": tensor}`; output 0 read as
  * `float[1][n][dim]` token hidden states (the standard
  * `last_hidden_state` layout), then pooled by the base class. `modelPath`
  * must resolve on every executor — ship it with `--files` and resolve via
  * `SparkFiles.get`, or use a cluster filesystem path.
  *
  * The reflective wiring is EXECUTED in CI: `OnnxEmbedderSpec` runs this
  * exact class against a committed ONNX model
  * (src/test/resources/models/tiny_matmul.onnx) through a test-scope
  * double of the public `ai.onnxruntime` API whose session genuinely
  * parses and evaluates the protobuf — so every Class.forName/getMethod
  * string and tensor shape here has run, not just compiled.
  */
final case class OnnxEmbedder(
    modelPath: String,
    dim: Int,
    inputName: String = "input_ids",
    override val maxLen: Int = 128) extends ModelEmbedder {

  /** Session AND the reflective handles, resolved once per executor JVM:
    * forward() runs once per row in the fuseInto hot path, so the
    * Class.forName/getMethod lookups must not repeat per call. */
  @transient private lazy val rt: OnnxEmbedder.Rt =
    try {
      val envCls = Class.forName("ai.onnxruntime.OrtEnvironment")
      val env = envCls.getMethod("getEnvironment").invoke(null)
      val optsCls = Class.forName("ai.onnxruntime.OrtSession$SessionOptions")
      val opts = optsCls.getDeclaredConstructor().newInstance().asInstanceOf[AnyRef]
      val session = envCls
        .getMethod("createSession", classOf[String], optsCls)
        .invoke(env, modelPath, opts)
      val runM = session.getClass.getMethod("run", classOf[java.util.Map[_, _]])
      OnnxEmbedder.Rt(env, session,
        createTensor = Class.forName("ai.onnxruntime.OnnxTensor")
          .getMethod("createTensor",
            envCls, classOf[java.nio.LongBuffer], classOf[Array[Long]]),
        run = runM,
        resultGet = runM.getReturnType.getMethod("get", classOf[Int]),
        getValue = Class.forName("ai.onnxruntime.OnnxValue")
          .getMethod("getValue"))
    } catch {
      case _: ClassNotFoundException => throw new IllegalStateException(
        "OnnxEmbedder needs the onnxruntime JVM binding on the classpath " +
          "(com.microsoft.onnxruntime:onnxruntime). It is an optional " +
          "dependency: add the jar to spark.executor.extraClassPath / " +
          "--jars, or use HashingEmbedder / a precomputed embeddings table.")
      // a reflective invoke wraps the real failure (unreadable/corrupt
      // model, bad session options) — unwrap it so the task error names
      // the model path, not java.lang.reflect internals
      case e: java.lang.reflect.InvocationTargetException =>
        throw new IllegalStateException(
          s"OnnxEmbedder could not create an ONNX session for '$modelPath': " +
            s"${e.getCause}", e.getCause)
    }

  protected def forward(ids: Array[Long]): Array[Array[Float]] = {
    val r = rt
    val tensor = r.createTensor
      .invoke(null, r.env, java.nio.LongBuffer.wrap(ids), Array(1L, ids.length.toLong))
    try {
      val result = r.run
        .invoke(r.session, java.util.Collections.singletonMap(inputName, tensor))
      try {
        val out0 = r.resultGet.invoke(result, Integer.valueOf(0))
        r.getValue.invoke(out0).asInstanceOf[Array[Array[Array[Float]]]](0)
      } finally result.asInstanceOf[AutoCloseable].close()
    } finally tensor.asInstanceOf[AutoCloseable].close()
  }
}

object OnnxEmbedder {
  /** Per-JVM reflective runtime: the native env/session plus the resolved
    * Method handles [[OnnxEmbedder.forward]] needs. */
  final case class Rt(env: AnyRef, session: AnyRef,
                      createTensor: java.lang.reflect.Method,
                      run: java.lang.reflect.Method,
                      resultGet: java.lang.reflect.Method,
                      getValue: java.lang.reflect.Method)
}

/** A REAL (non-hashing-projection) neural embedder with deterministic
  * weights — the in-repo proof that the [[Embedder]] seam accepts a
  * model-style implementation end to end (tokenize → embedding-table
  * lookup → tanh dense layer → mean-pool → L2) without any native
  * dependency. Weights are generated once per JVM from a fixed seed
  * (xorshift64*, platform-stable), playing the role of a checked-in
  * weight artifact; the forward pass is the same shape OnnxEmbedder
  * consumes, so every test exercising TinyNnEmbedder exercises the exact
  * pooling/normalization/fuseInto path production inference uses.
  */
final case class TinyNnEmbedder(dim: Int = 32, seed: Long = 42L,
    override val vocabSize: Int = 4096) extends ModelEmbedder {

  // deterministic weight streams: embedding row for token id, dense matrix
  private def xs(state0: Long): Iterator[Double] = new Iterator[Double] {
    private var s = if (state0 == 0) 0x9E3779B97F4A7C15L else state0
    def hasNext = true
    def next(): Double = {
      s ^= s >>> 12; s ^= s << 25; s ^= s >>> 27
      ((s * 0x2545F4914F6CDD1DL) >>> 11).toDouble / (1L << 53).toDouble - 0.5
    }
  }

  @transient private lazy val dense: Array[Array[Double]] = {
    val it = xs(seed)
    Array.fill(dim)(Array.fill(dim)(it.next() / math.sqrt(dim)))
  }

  private def embeddingRow(id: Long): Array[Double] = {
    val it = xs(seed ^ (id + 1) * 0xBF58476D1CE4E5B9L)
    Array.fill(dim)(it.next())
  }

  protected def forward(ids: Array[Long]): Array[Array[Float]] =
    ids.map { id =>
      val e = embeddingRow(id)
      val h = new Array[Float](dim)
      var i = 0
      while (i < dim) {
        var acc = 0.0; var j = 0
        while (j < dim) { acc += dense(i)(j) * e(j); j += 1 }
        h(i) = math.tanh(acc).toFloat
        i += 1
      }
      h
    }
}
