package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.unsafe.Platform

/** The one contract of the native Catalyst kernels in this package. A
  * kernel states its input types, data type, `prettyName`, constructor
  * parameters and ONE `compute`; everything else is derived here, so the
  * interpreted and generated evaluation paths cannot drift apart:
  *
  *  - `children` are the kernel's Expression-typed constructor fields, in
  *    order (a variadic kernel names its Seq[Expression] field
  *    `children`), and tree copies go through the constructor;
  *  - `eval` evaluates the children left to right, applies the declared
  *    [[GraftKernel.NullPolicy]] and calls `compute`; `doGenCode` emits
  *    the same steps around one call of the same `compute` on the kernel
  *    object (a reference slot);
  *  - `nullable` follows from the policy (plus `computeMayReturnNull`);
  *  - equality and hashing are by value over every constructor field,
  *    arrays by content ([[ValueEquality]]), so value-equal kernels
  *    canonicalize equal and subexpression elimination can share them.
  *
  * `compute` must declare its exact Catalyst result type (Double,
  * ArrayData, UTF8String, …): the generated code assigns its return value
  * straight to the result slot. KernelContractSpec is the gate every
  * kernel passes: interpreted == generated bit for bit, the null policy,
  * value equality and a Java-serialization round trip.
  *
  * Hosted under org.apache.spark.sql because the Column↔Expression
  * conversion (ExpressionUtils) is private[sql]; [[GraftKernel.column]]
  * and [[GraftKernel.expr]] are the one bridge over it.
  */
abstract class GraftKernel extends Expression with ExpectsInputTypes with ValueEquality {
  import GraftKernel._

  /** What a null child produces; see [[GraftKernel.NullPolicy]]. */
  def nullPolicy: NullPolicy = NullOut

  /** True when `compute` can return null for non-null input. */
  protected def computeMayReturnNull: Boolean = false

  /** Interpreted call of `compute` with the children's values. */
  protected def invoke(args: Array[Any]): Any

  /** Java source of the `compute` call on the kernel slot `self`. */
  protected def call(self: String, args: Seq[String]): String =
    s"$self.compute(${args.mkString(", ")})"

  @transient private lazy val fieldChildren: IndexedSeq[Expression] =
    productIterator.collect { case e: Expression => e }.toIndexedSeq
  override def children: Seq[Expression] = fieldChildren

  override def nullable: Boolean = computeMayReturnNull || (nullPolicy match {
    case NullOut => children.exists(_.nullable)
    case _ => false
  })

  override def foldable: Boolean = children.forall(_.foldable)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = legacyWithNewChildren(newChildren)

  override def eval(input: InternalRow): Any = {
    val args = new Array[Any](children.length)
    var i = 0
    while (i < args.length) {
      args(i) = children(i).eval(input)
      if (args(i) == null) nullPolicy match {
        case NullOut => return null
        case Fixed(v) => return v
        case PassThrough =>
      }
      i += 1
    }
    invoke(args)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("kernel", this, getClass.getName)
    val gens = children.map(_.genCode(ctx))
    val args = children.zip(gens).map { case (c, g) =>
      if (nullPolicy != PassThrough) g.value.toString
      else if (CodeGenerator.isPrimitiveType(c.dataType))
        s"(${g.isNull} ? null : ${CodeGenerator.boxedType(c.dataType)}.valueOf(${g.value}))"
      else s"(${g.isNull} ? null : ${g.value})"
    }
    val store =
      if (!computeMayReturnNull) s"${ev.value} = ${call(self, args)};"
      else {
        val r = ctx.freshName("r")
        s"""${CodeGenerator.boxedType(dataType)} $r = ${call(self, args)};
           |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }""".stripMargin
      }
    val onAllPresent =
      (if (nullable && nullPolicy == NullOut) s"${ev.isNull} = false;\n" else "") + store
    // each child's code runs only when every child before it is non-null,
    // like eval's short circuit; PassThrough evaluates them all
    val body = children.zip(gens).foldRight(onAllPresent) { case ((c, g), inner) =>
      s"${g.code}\n" +
        (if (nullPolicy == PassThrough) inner
         else ctx.nullSafeExec(c.nullable, g.isNull.toString)(inner))
    }
    val init = nullPolicy match {
      case Fixed(v) => ctx.addReferenceObj("nullResult", v, CodeGenerator.boxedType(dataType))
      case _ => CodeGenerator.defaultValue(dataType)
    }
    val code = code"""
      ${if (nullable) s"boolean ${ev.isNull} = ${nullPolicy == NullOut};" else ""}
      ${CodeGenerator.javaType(dataType)} ${ev.value} = $init;
      $body
    """
    if (nullable) ev.copy(code = code) else ev.copy(code = code, isNull = FalseLiteral)
  }
}

/** A one-child kernel: `compute(a)` receives the child's value. */
abstract class GraftKernel1[A] extends GraftKernel {
  def compute(a: A): Any
  override protected def invoke(args: Array[Any]): Any = compute(args(0).asInstanceOf[A])
}

/** A two-child kernel: `compute(a, b)` receives the children's values. */
abstract class GraftKernel2[A, B] extends GraftKernel {
  def compute(a: A, b: B): Any
  override protected def invoke(args: Array[Any]): Any =
    compute(args(0).asInstanceOf[A], args(1).asInstanceOf[B])
}

/** A variadic kernel: `compute(values)` receives every child's value in
  * one array. */
abstract class GraftKernelN extends GraftKernel {
  def compute(values: Array[Any]): Any
  override protected def invoke(args: Array[Any]): Any = compute(args)
  override protected def call(self: String, args: Seq[String]): String =
    s"$self.compute(new Object[] {${args.mkString(", ")}})"
}

object GraftKernel {

  /** What a kernel produces when a child evaluates to null. */
  sealed trait NullPolicy extends Serializable
  /** Any null child gives null; `compute` never sees a null. */
  case object NullOut extends NullPolicy
  /** Any null child gives the constant `value`; the kernel is never null. */
  final case class Fixed(value: Any) extends NullPolicy
  /** `compute` receives the nulls (primitive values boxed) and decides. */
  case object PassThrough extends NullPolicy

  /** The one Column↔Expression bridge for code outside the sql package. */
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expr(c: Column): Expression = ExpressionUtils.expression(c)

  /** The query side of a scoring kernel, bound once: the value of a
    * foldable array<double> child as a primitive array, so the row loop
    * reads `q(i)` instead of unboxing a literal's element and testing its
    * null bit per row. Null when the child is not foldable, evaluates to
    * null or holds a null element; the kernel then keeps its element-wise
    * loop. Kernels hold it in a `@transient lazy val`: equality,
    * hashing and serialization see only the constructor fields, and each
    * deserialized copy binds again on first use. */
  def boundDoubles(child: Expression): Array[Double] =
    if (!child.foldable) null
    else child.eval() match {
      case a: ArrayData =>
        var i = 0
        while (i < a.numElements() && !a.isNullAt(i)) i += 1
        if (i < a.numElements()) null else a.toDoubleArray()
      case _ => null
    }

  /** Address of element 0 of `a`'s doubles, for `Platform.getDouble(
    * a.getBaseObject, offset + 8·i)`: an UnsafeArrayData whose null bitset
    * is all zero (checked a word at a time). -1 for any other array, or
    * one that holds a null element. */
  def nullFreeOffset(a: ArrayData): Long = a match {
    case u: UnsafeArrayData =>
      val base = u.getBaseObject
      val end = u.getBaseOffset + UnsafeArrayData.calculateHeaderPortionInBytes(u.numElements())
      var w = u.getBaseOffset + 8 // the null bitset follows the element count
      while (w < end) {
        if (Platform.getLong(base, w) != 0L) return -1L
        w += 8
      }
      end
    case _ => -1L
  }
}

/** Value equality and hashing over every constructor field, arrays (of
  * any nesting) by content. The synthesized case-class equality compares
  * array fields by reference, so two kernels or aggregates holding equal
  * model arrays would never canonicalize equal. */
trait ValueEquality extends Product {
  private def fields: Array[AnyRef] = productIterator.map(_.asInstanceOf[AnyRef]).toArray

  @transient private lazy val valueHash: Int =
    31 * getClass.getName.hashCode + java.util.Arrays.deepHashCode(fields)

  override def hashCode(): Int = valueHash

  override def equals(other: Any): Boolean = other match {
    case o: ValueEquality =>
      (o eq this) || (o.getClass == getClass && o.hashCode == hashCode &&
        java.util.Arrays.deepEquals(fields, o.fields))
    case _ => false
  }
}
