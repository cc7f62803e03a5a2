package org.apache.spark.sql.graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SQL surface for the graft kernels: registers every fitted-state-free
  * native expression as a `graft_*` SQL function, so `spark.sql("SELECT
  * graft_dot(a, b) ...")` works without touching the Scala Column API.
  * Two entry points, both over the SAME registration list:
  *
  *   - [[register]]: programmatic, onto a live session's function
  *     registry (what `queries/SqlSurface` and notebooks use);
  *   - [[graft.GraftExtensions]]: declarative, via
  *     `spark.sql.extensions=graft.GraftExtensions` at session build
  *     time — the standard library-injection idiom, so a cluster admin
  *     can turn the functions on for every session of an application
  *     without a code change.
  *
  * What is deliberately NOT here: kernels whose constructors carry
  * fitted model state (CharLmScore's count tables, LangIdPick's
  * profiles, IvfAssign/BqSignature/LshSignatures' centroid/threshold/
  * plane arrays, ImageLumaGrid's decode config) and PqFit (a multi-
  * parameter fit whose output feeds those). Those are produced BY a fit
  * step with driver-side state; a SQL literal surface for them would
  * force users to paste megabyte array literals into queries — the
  * library API (`graft.search`/`graft.encode`) is their contract. The
  * state-FREE typed aggregates (graft_kmv_distinct, graft_vector_sum,
  * graft_tri_counts) ARE registered: the analyzer wraps a bare
  * AggregateFunction from a registry builder in an AggregateExpression,
  * so `SELECT graft_kmv_distinct(h, 1024) FROM t GROUP BY g` works like
  * any builtin aggregate.
  *
  * Registration is idempotent: re-registering replaces the same name
  * with the same builder.
  *
  * Typing contract: the kernels are `ExpectsInputTypes`, NOT
  * `ImplicitCastInputTypes` — a SQL caller must pass exactly-typed
  * inputs (`CAST(x AS ARRAY<DOUBLE>)` for float/decimal arrays). This is
  * deliberate: the serving kernels are hot-path codegen and a silent
  * per-row cast inserted by the analyzer is precisely the kind of plan
  * surprise the PlanSpec pins guard against; the analyzer error names
  * the expected type, so the fix is one explicit CAST at the call site.
  */
object GraftFunctions {

  type Builder = Seq[Expression] => Expression

  /** Evaluate a foldable integer argument at plan-build time (SQL
    * functions take Expressions; the kernels take config Ints). */
  private def intArg(fn: String, pos: Int, e: Expression): Int = {
    if (!e.foldable) throw new IllegalArgumentException(
      s"$fn: argument $pos must be a literal integer, got non-foldable ${e.sql}")
    e.eval() match {
      case i: Int    => i
      case l: Long if l.isValidInt => l.toInt
      case s: Short  => s.toInt
      case b: Byte   => b.toInt
      case null      => throw new IllegalArgumentException(
        s"$fn: argument $pos must be a literal integer, got NULL")
      case other     => throw new IllegalArgumentException(
        s"$fn: argument $pos must be a literal integer, got $other")
    }
  }

  /** Evaluate a foldable boolean argument at plan-build time. */
  private def boolArg(fn: String, pos: Int, e: Expression): Boolean = {
    if (!e.foldable) throw new IllegalArgumentException(
      s"$fn: argument $pos must be a literal boolean, got non-foldable ${e.sql}")
    e.eval() match {
      case b: Boolean => b
      case other => throw new IllegalArgumentException(
        s"$fn: argument $pos must be a literal boolean, got $other")
    }
  }

  private def mk(name: String, clazz: Class[_], arity: Int)
                (b: Seq[Expression] => Expression)
      : (FunctionIdentifier, ExpressionInfo, Builder) = {
    val builder: Builder = { args =>
      if (args.length != arity) throw new IllegalArgumentException(
        s"$name expects $arity argument(s), got ${args.length}")
      b(args)
    }
    (FunctionIdentifier(name),
      new ExpressionInfo(clazz.getCanonicalName, null, name),
      builder)
  }

  /** The full registration list — one row per SQL-surfaced kernel. */
  val all: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] = Seq(
    mk("graft_dot", classOf[DotProduct], 2)(a => DotProduct(a(0), a(1))),
    mk("graft_token_count", classOf[TokenCount], 1)(a => TokenCount(a(0))),
    mk("graft_term_freqs", classOf[TermFreqs], 1)(a => TermFreqs(a(0))),
    mk("graft_span_minhash", classOf[SpanMinHash], 2)(a =>
      SpanMinHash(a(0), intArg("graft_span_minhash", 2, a(1)))),
    mk("graft_minhash_bands", classOf[MinHashBands], 3)(a =>
      MinHashBands(a(0), intArg("graft_minhash_bands", 2, a(1)),
        intArg("graft_minhash_bands", 3, a(2)))),
    mk("graft_dense_fourier", classOf[DenseFourierBlock], 2)(a =>
      DenseFourierBlock(a(0), intArg("graft_dense_fourier", 2, a(1)))),
    mk("graft_pack", classOf[PackDoubles], 1)(a => PackDoubles(a(0))),
    mk("graft_unpack", classOf[UnpackDoubles], 1)(a => UnpackDoubles(a(0))),
    mk("graft_dot_packed", classOf[DotPacked], 2)(a => DotPacked(a(0), a(1))),
    mk("graft_pack_pq", classOf[PackPqCodes], 1)(a => PackPqCodes(a(0))),
    mk("graft_unpack_pq", classOf[UnpackPqCodes], 1)(a => UnpackPqCodes(a(0))),
    mk("graft_adc_packed", classOf[AdcPacked], 3)(a =>
      AdcPacked(a(0), a(1), intArg("graft_adc_packed", 3, a(2)))),
    // state-free typed aggregates — the analyzer wraps them in an
    // AggregateExpression exactly as it does builtin UDAF registrations
    mk("graft_kmv_distinct", classOf[KMinValues], 2)(a =>
      KMinValues(a(0), intArg("graft_kmv_distinct", 2, a(1)))),
    mk("graft_vector_sum", classOf[VectorSum], 2)(a =>
      VectorSum(a(0), boolArg("graft_vector_sum", 2, a(1)))),
    mk("graft_tri_counts", classOf[TriCounts], 1)(a => TriCounts(a(0))))

  /** All surfaced function names (spec + docs). */
  def names: Seq[String] = all.map(_._1.funcName)

  /** Register every graft_* function on a live session. Idempotent. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    all.foreach { case (id, info, b) => reg.registerFunction(id, info, b) }
  }

  /** Inject every graft_* function into a SparkSessionExtensions — the
    * body of [[graft.GraftExtensions]]. */
  def inject(ext: SparkSessionExtensions): Unit = all.foreach(ext.injectFunction)

  /** Test hook: materialize an extensions object's injected functions
    * into a fresh registry and return the registered names — proves the
    * `spark.sql.extensions` path wires the same list as [[register]]
    * without having to tear down the shared test session.
    * (SparkSessionExtensions.registerFunctions is private[sql]; this
    * object lives inside the sql namespace precisely to bridge it.) */
  def materializedNames(ext: SparkSessionExtensions): Seq[String] = {
    val reg = new SimpleFunctionRegistry
    ext.registerFunctions(reg)
    reg.listFunction().map(_.funcName)
  }
}
