package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, File, ObjectInputStream, ObjectOutputStream}
import java.lang.reflect.Modifier

import graft.multimodal.Multimodal
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, InterpretedUnsafeProjection, Literal, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft._
import org.apache.spark.sql.graft.GraftKernel.{Fixed, NullOut, PassThrough}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** The gate every native kernel passes: one generic contract check over
  * every [[GraftKernel]] in org.apache.spark.sql.graft, on seeded random
  * inputs that include null, empty, whitespace-only and non-ASCII text,
  * NaN, ±∞, −0.0 and null elements. DotProduct also runs with a literal
  * query child (its bound-query path) over generic and unsafe arrays.
  *
  *  - interpreted evaluation and GenerateUnsafeProjection write the same
  *    UnsafeRow bytes, or both throw the same exception class;
  *  - a null child gives exactly the declared null policy's result;
  *  - a copy with cloned parameters is ==, hashes the same and
  *    canonicalizes equal; a changed parameter is !=;
  *  - a Java-serialization round trip is == and evaluates identically.
  *
  * The typed aggregates get the equality and serialization checks. A new
  * kernel class without a case here fails the coverage test. */
class KernelContractSpec extends AnyFunSuite {

  private val Rows = 150

  private def refs(types: DataType*): Seq[BoundReference] =
    types.zipWithIndex.map { case (t, i) => BoundReference(i, t, nullable = true) }

  private val arrD = ArrayType(DoubleType)
  private val arrL = ArrayType(LongType)
  private val arrS = ArrayType(StringType)

  // ---- seeded generators of Catalyst values -------------------------------

  private val doubles: Gen[Any] = Gen.frequency(
    6 -> Gen.choose(-4.0, 4.0),
    2 -> Gen.oneOf(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      -0.0, 0.0, Double.MinPositiveValue, Double.MaxValue, -Double.MaxValue))
  private val lmChars = Gen.frequency(8 -> Gen.alphaLowerChar, 2 -> Gen.const(' '))
  private val lmText: Gen[String] = Gen.listOf(lmChars).map(_.mkString)
  private val text: Gen[String] = Gen.frequency(
    4 -> lmText,
    2 -> Gen.asciiPrintableStr,
    1 -> Gen.const(""),
    1 -> Gen.oneOf(" ", "   ", "\t\n", " \u000b\f\r "),
    2 -> Gen.oneOf("é", "naïve café", "日本語 テキスト", " Ünïcödé\ttokens ", "a😀b", "Aé"))
  private val bytes: Gen[Any] =
    Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray)

  private def orNull(g: Gen[Any], nullWeight: Int = 1): Gen[Any] =
    Gen.frequency(9 -> g, nullWeight -> Gen.const(null))
  private def utf8(g: Gen[String]): Gen[Any] = g.map(UTF8String.fromString)
  private def array(elem: Gen[Any]): Gen[Any] =
    Gen.listOf(orNull(elem)).map(xs => new GenericArrayData(xs.toArray))
  private def arrayN(n: Int, elem: Gen[Any]): Gen[Any] =
    Gen.listOfN(n, elem).map(xs => new GenericArrayData(xs.toArray))

  private def value(t: DataType): Gen[Any] = t match {
    case DoubleType => doubles
    case IntegerType => Gen.choose(-2, 300)
    case LongType => Gen.oneOf(Gen.long, Gen.choose(-3L, 3L))
    case StringType => utf8(text)
    case BinaryType => bytes
    case ArrayType(e, _) => array(value(e))
    case other => sys.error(s"no generator for $other")
  }

  /** Rows for a kernel: each child drawn from its generator, null 1 in 10. */
  private def rowsOf(childGens: Gen[Any]*): Gen[Seq[Any]] =
    Gen.sequence[Seq[Any], Any](childGens.map(orNull(_)))

  // ---- the kernels --------------------------------------------------------

  /** One kernel under contract: `twin` is a copy with cloned parameters,
    * `changed` differs in one parameter (or child, for parameterless
    * kernels); `nullLike` is, per child, the non-null input a PassThrough
    * kernel treats exactly like null. */
  private case class Case(kernel: GraftKernel, twin: GraftKernel, changed: GraftKernel,
                          rows: Gen[Seq[Any]], nullLike: Seq[Any] = Nil)

  private def generic(k: GraftKernel, twin: GraftKernel, changed: GraftKernel): Case =
    Case(k, twin, changed, rowsOf(k.children.map(c => value(c.dataType)): _*))

  /** An array<double> literal child: the bound query side of DotProduct
    * (null elements allowed, to reach its element-wise loop). */
  private def qlit(xs: Any*): Literal = Literal(new GenericArrayData(xs.toArray), arrD)
  private val q6 = Seq(0.5, -1.25, -0.0, 3.0, 1e300, -2.0)

  /** Array values of a row as UnsafeArrayData half the time (per value,
    * seeded): how a cached or shuffled row reaches a kernel, including its
    * null bitset. */
  private def someUnsafe(rows: Gen[Seq[Any]]): Gen[Seq[Any]] = rows.flatMap { vs =>
    Gen.sequence[Seq[Any], Any](vs.map {
      case a: GenericArrayData => Gen.oneOf(true, false).map(u => if (u) unsafe(a) else a)
      case v => Gen.const(v)
    })
  }
  private def unsafe(a: GenericArrayData): Any =
    UnsafeProjection.create(Array[DataType](arrD))(InternalRow(a)).getArray(0).copy()

  private val cents = Array(Array(0.25, -1.5, 3.0, 0.0), Array(1.0, 2.0, -0.125, 4.5),
    Array(-3.25, 0.5, 0.75, -2.0))
  private def clone2(a: Array[Array[Double]]) = a.map(_.clone())
  private def bump2(a: Array[Array[Double]]) = {
    val b = clone2(a); b(0)(0) += 1.0; b
  }
  private val thresholds = Array(0.0, 0.5, -0.5, 1.0, 0.0)
  private val planes = LshSignatures.planesFor(dim = 4, nBits = 3, nTables = 2, seed = 5L)
  private val (n3, n2) = {
    val r = new scala.util.Random(11)
    (Array.fill(27 * 27 * 27)(r.nextInt(50).toLong), Array.fill(27 * 27)(r.nextInt(500).toLong))
  }
  private val profiles = Seq("en" -> Set(" th", "the", "he ", "and"), "fr" -> Set(" le", "le ", "es "))
  private val fakeImage: Gen[Any] = for {
    w <- Gen.choose(-1, 4); h <- Gen.choose(0, 4); px <- Gen.listOf(Gen.choose(0, 255))
  } yield java.nio.ByteBuffer.allocate(8 + px.size).putInt(w).putInt(h)
    .put(px.map(_.toByte).toArray).array()

  private val cases: Seq[Case] = {
    val Seq(d0, d1) = refs(arrD, arrD)
    val Seq(l0, l1) = refs(arrL, arrL)
    val Seq(s0, s1, s2) = refs(StringType, StringType, StringType)
    val Seq(a0) = refs(arrS)
    val Seq(b0, bd1) = refs(BinaryType, arrD)
    val Seq(x0) = refs(DoubleType)
    val Seq(v0, cid) = refs(arrD, IntegerType)
    val Seq(i0) = refs(ArrayType(IntegerType))
    val other = BoundReference(7, StringType, nullable = true)
    Seq(
      generic(DotProduct(d0, d1), DotProduct(d0, d1), DotProduct(d1, d0)),
      Case(DotProduct(d0, qlit(q6: _*)), DotProduct(d0, qlit(q6: _*)),
        DotProduct(d0, qlit(q6.updated(0, 9.0): _*)), someUnsafe(rowsOf(value(arrD), value(arrD)))),
      Case(DotProduct(qlit(q6: _*), d1), DotProduct(qlit(q6: _*), d1),
        DotProduct(qlit(q6.updated(0, 9.0): _*), d1), someUnsafe(rowsOf(value(arrD), value(arrD)))),
      Case(DotProduct(d0, qlit(q6.updated(2, null): _*)), DotProduct(d0, qlit(q6.updated(2, null): _*)),
        DotProduct(d0, qlit(q6: _*)), someUnsafe(rowsOf(value(arrD), value(arrD)))),
      Case(HammingDistance(l0, l1), HammingDistance(l0, l1), HammingDistance(l1, l0),
        Gen.frequency(3 -> Gen.choose(0, 4).flatMap(n =>
          rowsOf(arrayN(n, value(LongType)), arrayN(n, value(LongType)))),
          1 -> rowsOf(value(arrL), value(arrL)))),
      generic(BqSignature(d0, thresholds), BqSignature(d0, thresholds.clone()),
        BqSignature(d0, thresholds.updated(0, 9.0))),
      Case(CentroidDelta(v0, cid, cents), CentroidDelta(v0, cid, clone2(cents)),
        CentroidDelta(v0, cid, bump2(cents)),
        rowsOf(Gen.frequency(4 -> arrayN(4, doubles), 1 -> value(arrD)), Gen.choose(-1, 3))),
      Case(CharLmScore(s0, n3, n2), CharLmScore(s0, n3.clone(), n2.clone()),
        CharLmScore(s0, n3.updated(5, 99L), n2),
        rowsOf(Gen.frequency(4 -> utf8(lmText), 1 -> value(StringType)))),
      Case(DenseFourierBlock(x0, 3), DenseFourierBlock(x0, 3), DenseFourierBlock(x0, 4),
        rowsOf(doubles), nullLike = Seq(Double.NaN)),
      Case(HashEmbed(Seq(s0, s1, s2), 16, Seq(1.0, 0.5, 2.0)),
        HashEmbed(Seq(s0, s1, s2), 16, Seq(1.0, 0.5, 2.0)),
        HashEmbed(Seq(s0, s1, s2), 16, Seq(1.0, 0.5, 3.0)),
        rowsOf(value(StringType), value(StringType), value(StringType)),
        nullLike = Seq.fill(3)(UTF8String.EMPTY_UTF8)),
      Case(ImageLumaGrid(b0, 2, 2, Multimodal.default), ImageLumaGrid(b0, 2, 2, Multimodal.default),
        ImageLumaGrid(b0, 2, 3, Multimodal.default),
        rowsOf(Gen.frequency(3 -> fakeImage, 1 -> bytes))),
      Case(IvfAssign(d0, cents), IvfAssign(d0, clone2(cents)), IvfAssign(d0, bump2(cents)),
        rowsOf(Gen.frequency(3 -> arrayN(4, doubles), 1 -> value(arrD)))),
      Case(LangIdPick(s0, profiles), LangIdPick(s0, profiles.map(p => (new String(p._1), p._2.map(identity)))),
        LangIdPick(s0, profiles.reverse),
        rowsOf(Gen.frequency(3 -> lmText.map(t => s" $t "), 1 -> text).map(UTF8String.fromString))),
      Case(LshSignatures(d0, planes, 2, 3), LshSignatures(d0, clone2(planes), 2, 3),
        LshSignatures(d0, bump2(planes), 2, 3),
        rowsOf(Gen.frequency(3 -> arrayN(4, doubles), 1 -> value(arrD)))),
      generic(MinHashBands(a0, 4, 2), MinHashBands(a0, 4, 2), MinHashBands(a0, 4, 4)),
      generic(MinHashSigs(a0, 3), MinHashSigs(a0, 3), MinHashSigs(a0, 4)),
      generic(PackDoubles(d0), PackDoubles(d0), PackDoubles(d1)),
      generic(UnpackDoubles(b0), UnpackDoubles(b0), UnpackDoubles(BoundReference(1, BinaryType, true))),
      generic(DotPacked(b0, bd1), DotPacked(b0, bd1), DotPacked(b0, d0)),
      generic(PackPqCodes(i0), PackPqCodes(i0), PackPqCodes(BoundReference(1, ArrayType(IntegerType), true))),
      generic(UnpackPqCodes(b0), UnpackPqCodes(b0), UnpackPqCodes(BoundReference(1, BinaryType, true))),
      Case(AdcPacked(b0, bd1, 4), AdcPacked(b0, bd1, 4), AdcPacked(b0, bd1, 2),
        rowsOf(Gen.choose(0, 3).flatMap(m => Gen.listOfN(m, Gen.choose(0, 3).map(_.toByte))
          .map(_.toArray)), arrayN(12, doubles))),
      generic(SimHash(a0), SimHash(a0), SimHash(BoundReference(1, arrS, true))),
      generic(SpanMinHash(s0, 2), SpanMinHash(s0, 2), SpanMinHash(s0, 3)),
      generic(TermFreqs(s0), TermFreqs(s0), TermFreqs(other)),
      generic(TokenCount(s0), TokenCount(s0), TokenCount(other)),
      generic(WsTokens(s0), WsTokens(s0), WsTokens(other)),
      generic(AlphaCount(s0), AlphaCount(s0), AlphaCount(other)),
      generic(LmNormalize(s0), LmNormalize(s0), LmNormalize(other)),
      generic(WordNgrams(a0, 2), WordNgrams(a0, 2), WordNgrams(a0, 3)),
      generic(GramHashes(a0, 2), GramHashes(a0, 2), GramHashes(a0, 3)))
  }

  private def name(k: Expression): String = k.getClass.getSimpleName

  private def sample(c: Case, salt: Long): Seq[InternalRow] =
    Gen.listOfN(Rows, c.rows).pureApply(Gen.Parameters.default.withSize(10),
      Seed(name(c.kernel).hashCode.toLong * 31 + salt))
      .map(vs => InternalRow.fromSeq(vs))

  private type Outcome = Either[Class[_], UnsafeRow]
  private def outcome(p: UnsafeProjection, row: InternalRow): Outcome =
    try Right(p(row).copy()) catch { case e: Exception => Left(e.getClass) }

  private def interpreted(k: Expression) = InterpretedUnsafeProjection.createProjection(Seq(k))
  private def generated(k: Expression) = GenerateUnsafeProjection.generate(Seq(k))

  private def serialRoundTrip[T <: AnyRef](x: T): T = {
    val bos = new ByteArrayOutputStream()
    val out = new ObjectOutputStream(bos)
    out.writeObject(x)
    out.close()
    new ObjectInputStream(new ByteArrayInputStream(bos.toByteArray)).readObject().asInstanceOf[T]
  }

  test("every GraftKernel class in org.apache.spark.sql.graft has a contract case") {
    val url = classOf[GraftKernel].getResource("GraftKernel.class")
    assume(url.getProtocol == "file", s"kernel classes not in a directory: $url")
    val found = new File(url.toURI).getParentFile.listFiles().toSeq
      .map(_.getName).filter(n => n.endsWith(".class") && !n.contains("$"))
      .map(n => Class.forName(s"org.apache.spark.sql.graft.${n.stripSuffix(".class")}",
        false, getClass.getClassLoader))
      .filter(c => classOf[GraftKernel].isAssignableFrom(c) && !Modifier.isAbstract(c.getModifiers))
      .map(_.getSimpleName).toSet
    assert(found.size == 28, found.toSeq.sorted)
    assert(cases.map(c => name(c.kernel)).toSet == found)
  }

  test("interpreted eval == generated code, bit for bit (or the same exception)") {
    cases.foreach { c =>
      val (ip, gp) = (interpreted(c.kernel), generated(c.kernel))
      sample(c, 1).foreach { row =>
        val (a, b) = (outcome(ip, row), outcome(gp, row))
        assert(a == b, s"${name(c.kernel)}: interpreted $a != generated $b on ${row.toSeq(
          c.kernel.children.map(_.dataType))}")
        if (!c.kernel.nullable) a.foreach(r => assert(!r.isNullAt(0), s"${name(c.kernel)} null"))
      }
    }
  }

  test("a null child gives exactly the declared null policy's result") {
    cases.foreach { c =>
      val k = c.kernel
      val (ip, gp) = (interpreted(k), generated(k))
      k.children.indices.foreach { i =>
        // a literal child is nulled as a null literal; a bound one by its row value
        val (kn, ipn, gpn) = k.children(i) match {
          case l: Literal =>
            val n = k.withNewChildren(k.children.updated(i, Literal(null, l.dataType)))
            (n, interpreted(n), generated(n))
          case _ => (k, ip, gp)
        }
        sample(c, 2 + i).take(30).foreach { base =>
          val vs = base.toSeq(k.children.map(_.dataType))
          val row = InternalRow.fromSeq(vs.updated(i, null))
          val want: Outcome = k.nullPolicy match {
            case NullOut =>
              assert(kn.nullable, s"${name(k)}: a null-out kernel over nullable children is nullable")
              Right(UnsafeProjection.create(Seq(Literal(null, k.dataType)))(InternalRow.empty).copy())
            case Fixed(v) =>
              Right(UnsafeProjection.create(Seq(Literal(v, k.dataType)))(InternalRow.empty).copy())
            case PassThrough => outcome(ip, InternalRow.fromSeq(vs.updated(i, c.nullLike(i))))
          }
          assert(outcome(ipn, row) == want, s"${name(k)} interpreted, null child $i")
          assert(outcome(gpn, row) == want, s"${name(k)} generated, null child $i")
        }
      }
    }
  }

  test("value equality: cloned parameters are ==, same hash, canonicalize equal; a change is !=") {
    cases.foreach { c =>
      val (k, t) = (c.kernel, c.twin)
      assert(t ne k)
      assert(t == k && t.hashCode == k.hashCode, name(k))
      assert(t.canonicalized == k.canonicalized && t.semanticEquals(k), name(k))
      assert(c.changed != k && k != c.changed, s"${name(k)} changed parameter still ==")
      // copies made through the tree API keep the parameters
      val moved = k.children.map {
        case b: BoundReference => b.copy(ordinal = b.ordinal + 1)
        case l: Literal => l
      }
      val copy = k.withNewChildren(moved)
      assert(copy.getClass == k.getClass && copy.children == moved && copy != k, name(k))
      assert(copy.withNewChildren(k.children) == k, name(k))
    }
  }

  test("a Java-serialization round trip is == and evaluates identically") {
    cases.foreach { c =>
      val copy = serialRoundTrip(c.kernel)
      assert(copy == c.kernel && copy.hashCode == c.kernel.hashCode, name(c.kernel))
      val (ip, cp, cg) = (interpreted(c.kernel), interpreted(copy), generated(copy))
      sample(c, 3).take(50).foreach { row =>
        val want = outcome(ip, row)
        assert(outcome(cp, row) == want && outcome(cg, row) == want, s"${name(c.kernel)} after round trip")
      }
    }
  }

  // ---- the typed aggregates: equality and serialization --------------------

  private val books = Array(cents.map(_.take(2)), cents.map(_.drop(2)))
  private val aggs: Seq[(TypedImperativeAggregate[_], TypedImperativeAggregate[_],
      TypedImperativeAggregate[_], Gen[Any])] = {
    val Seq(h) = refs(LongType)
    val Seq(v) = refs(arrD)
    val Seq(s) = refs(StringType)
    Seq(
      (KMinValues(h, 16), KMinValues(h, 16), KMinValues(h, 17), Gen.choose(0L, 1L << 40)),
      (VectorSum(v, exact = true), VectorSum(v, exact = true), VectorSum(v, exact = false),
        arrayN(3, Gen.choose(-4.0, 4.0))),
      (TriCounts(s), TriCounts(s), TriCounts(BoundReference(1, StringType, true)), utf8(lmText)),
      (PqFit(v, books, exact = true), PqFit(v, books.map(clone2), exact = true),
        PqFit(v, books.map(bump2), exact = true), arrayN(4, Gen.choose(-4.0, 4.0))))
  }

  private def fold[T](a: TypedImperativeAggregate[T], rows: Seq[InternalRow]): Array[Byte] =
    a.serialize(rows.foldLeft(a.createAggregationBuffer())((b, r) => a.update(b, r)))

  test("typed aggregates: value equality and a Java-serialization round trip") {
    aggs.foreach { case (a, twin, changed, gen) =>
      assert(twin ne a)
      assert(twin == a && twin.hashCode == a.hashCode, name(a))
      assert(twin.canonicalized == a.canonicalized, name(a))
      assert(changed != a, s"${name(a)} changed parameter still ==")
      val copy = serialRoundTrip(a)
      assert(copy == a && copy.hashCode == a.hashCode, name(a))
      val rows = Gen.listOfN(40, orNull(gen)).pureApply(Gen.Parameters.default.withSize(10),
        Seed(name(a).hashCode.toLong)).map(x => InternalRow(x))
      assert(java.util.Arrays.equals(fold(copy, rows), fold(a, rows)), name(a))
    }
  }
}
