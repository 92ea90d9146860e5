package graft.functions

import java.lang.reflect.{InvocationTargetException, Method, Modifier}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, NullType}

/** A static kernel method and the Catalyst types of its arguments. `method`
  * is the Java name of a static method; a Scala object's method is reached
  * through its static forwarder, e.g. `graft.functions.MinHashSig.sig`.
  */
final case class Kernel(method: String, inputTypes: Seq[DataType]) {

  /** The one static method of that name (the kernels are not overloaded). */
  def resolve(): Method = {
    val dot = method.lastIndexOf('.')
    val name = method.substring(dot + 1)
    Class.forName(method.substring(0, dot)).getMethods.filter(m =>
      m.getName == name && Modifier.isStatic(m.getModifiers)) match {
      case Array(m) => m
      case ms => throw new IllegalStateException(
        s"$method: expected one static method, found ${ms.length}")
    }
  }
}

/** One call of a static kernel on the children's values: the Catalyst shell
  * shared by every graft function that is a single call of one kernel.
  *
  * Parameters of the kernel (a signature length, a band width, a seed, a BPE
  * pair) are literal children. The call is null-safe: any null argument
  * gives null without calling the kernel; `mayReturnNull` says the kernel
  * itself can answer null for non-null arguments (malformed input).
  * `dataType` is fixed when the function is built, from its resolved
  * children where the output type depends on them.
  *
  * Generated code evaluates the children into locals and calls
  * `method(args)` directly. Spark's `StaticInvoke` keeps its arguments in
  * class fields instead, which measured slower on the dedup hot path (a
  * noop projection over 6M rows at local[4]: simhash_band_keys 0.627 s
  * against 0.433 s, hamming_total 0.310 s against 0.280 s, medians of six
  * alternating pairs). Interpreted evaluation (constant folding, codegen
  * fallback) calls the same method by reflection.
  */
case class KernelCall(name: String, kernel: Kernel, children: Seq[Expression],
    dataType: DataType, mayReturnNull: Boolean = false) extends Expression {

  // a kernel that answers null for a non-null input must be nullable, or
  // codegen makes ev.isNull a literal, the generated assignment fails to
  // compile and the whole stage falls back to the interpreter
  override def nullable: Boolean = mayReturnNull || children.exists(_.nullable)

  override def foldable: Boolean = children.forall(_.foldable)

  override def prettyName: String = name

  override def toString: String = s"$name(${children.mkString(", ")})"

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.length != kernel.inputTypes.length)
      TypeCheckResult.TypeCheckFailure(
        s"$name takes ${kernel.inputTypes.length} arguments, got ${children.length}")
    else children.zip(kernel.inputTypes).zipWithIndex.collectFirst {
      case ((c, t), i) if !KernelCall.accepts(t, c.dataType) =>
        TypeCheckResult.TypeCheckFailure(
          s"$name argument ${i + 1} requires ${KernelCall.describe(t)}, " +
            s"got ${c.dataType.catalogString}")
    }.getOrElse(TypeCheckResult.TypeCheckSuccess)

  @transient private lazy val method: Method = kernel.resolve()

  override def eval(input: InternalRow): Any = {
    val args = new Array[AnyRef](children.length)
    var i = 0
    while (i < args.length) {
      val v = children(i).eval(input)
      if (v == null) return null
      args(i) = v.asInstanceOf[AnyRef]
      i += 1
    }
    try method.invoke(null, args: _*)
    catch { case e: InvocationTargetException => throw e.getCause }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val args = children.map(_.genCode(ctx))
    val call = s"${kernel.method}(${args.map(_.value).mkString(", ")})"
    val javaType = CodeGenerator.javaType(dataType)
    if (!nullable) {
      ev.copy(code = code"""
        ${args.map(_.code.toString).mkString("\n")}
        $javaType ${ev.value} = $call;""", isNull = FalseLiteral)
    } else {
      val assign =
        if (mayReturnNull) s"${ev.value} = $call;\n${ev.isNull} = ${ev.value} == null;"
        else s"${ev.isNull} = false;\n${ev.value} = $call;"
      val body = children.zip(args).foldRight(assign) { case ((c, a), inner) =>
        s"${a.code}\n${ctx.nullSafeExec(c.nullable, a.isNull.toString)(inner)}"
      }
      ev.copy(code = code"""
        boolean ${ev.isNull} = true;
        $javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
        $body""")
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KernelCall = copy(children = newChildren)
}

object KernelCall {

  /** Whether a `got` argument fits a declared `want` type. Nullability is
    * ignored except that a declared `containsNull = false` must hold: the
    * signature kernels read elements with `getLong`, which would take a
    * null slot as 0 and silently mis-measure. `NullType` fits anything: the
    * untyped empty `map()` is `map<void,void>`, and a side with null-typed
    * keys is necessarily empty, so the kernel never reads it.
    */
  private[functions] def accepts(want: DataType, got: DataType): Boolean =
    (want, got) match {
      case (_, NullType) => true
      case (ArrayType(w, wn), ArrayType(g, gn)) => accepts(w, g) && (wn || !gn)
      case (MapType(wk, wv, wn), MapType(gk, gv, gn)) =>
        accepts(wk, gk) && accepts(wv, gv) && (wn || !gn)
      case _ => want == got
    }

  private def describe(t: DataType): String = t match {
    case ArrayType(_, false) => s"${t.catalogString} without null elements"
    case _ => t.catalogString
  }
}
