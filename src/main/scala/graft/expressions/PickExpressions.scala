package graft.expressions

import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One pick over an `array<struct>`, resolved to ordinals: the first (or
  * last) non-null element whose match field equals `key`, whose `text` is
  * non-empty and, with a grammar, has a `find()` match of it; returns that
  * element's output field, or null when none qualifies.
  *
  * `matchOrds`/`matchWidths` walk the match path: every step but the last
  * descends into a struct of `matchWidths(i)` fields, the last reads the
  * string. */
final class ColumnPicker(width: Int, matchOrds: Array[Int],
    matchWidths: Array[Int], key: UTF8String, textOrd: Int, outOrd: Int,
    firstWins: Boolean, grammar: Pattern) extends Serializable {

  private def matches(e: InternalRow): Boolean = {
    var row = e
    var i = 0
    while (i < matchOrds.length - 1) {
      if (row.isNullAt(matchOrds(i))) return false
      row = row.getStruct(matchOrds(i), matchWidths(i))
      i += 1
    }
    val last = matchOrds(i)
    !row.isNullAt(last) && key == row.getUTF8String(last)
  }

  def apply(cvs: ArrayData): UTF8String = {
    val n = cvs.numElements()
    val step = if (firstWins) 1 else -1
    var i = if (firstWins) 0 else n - 1
    while (i >= 0 && i < n) {
      if (!cvs.isNullAt(i)) {
        val e = cvs.getStruct(i, width)
        if (matches(e) && !e.isNullAt(textOrd)) {
          val text = e.getUTF8String(textOrd)
          if (text.numBytes > 0 &&
              (grammar == null || grammar.matcher(text.toString).find(0)))
            return if (e.isNullAt(outOrd)) null else e.getUTF8String(outOrd)
        }
      }
      i += step
    }
    null
  }
}

/** Flatten's column dispatch as one expression: over an
  * `array<struct<…, text: string, …>>`, the `field` of the first
  * (`firstWins`) or last element whose `matchPath` string equals `key` and
  * whose `text` is non-empty and, when `grammar` is set, has a regex
  * `find()` match (the `rlike` rule). Null when no element qualifies.
  *
  * Equal to `try_element_at(filter(cvs, c => …), ±1).getField(field)`,
  * which runs outside whole-stage codegen (`ArrayFilter` is a
  * `CodegenFallback`, its lambda interpreted per element) and so splits
  * the projection from the `Generate` below it. This one emits a call to
  * its resolved [[ColumnPicker]], so the projection stays in the stage. */
case class ColumnPick(child: Expression, matchPath: Seq[String], key: String,
    field: String, firstWins: Boolean, grammar: Option[String])
    extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_column_pick"

  private def resolve: Either[String, ColumnPicker] = {
    def index(st: StructType, name: String): Option[Int] =
      Some(st.fieldNames.indexOf(name)).filter(_ >= 0)
    def stringField(st: StructType, name: String): Either[String, Int] =
      index(st, name).filter(st(_).dataType == StringType)
        .toRight(s"no string field '$name' in ${st.simpleString}")
    def walk(st: StructType, path: List[String]): Either[String, List[(Int, Int)]] =
      path match {
        case name :: Nil => stringField(st, name).map(o => List((o, 0)))
        case name :: rest => index(st, name).map(o => (o, st(o).dataType)) match {
          case Some((o: Int, inner: StructType)) => walk(inner, rest).map((o, inner.length) :: _)
          case _ => Left(s"no struct field '$name' in ${st.simpleString}")
        }
        case Nil => Left("empty match path")
      }
    child.dataType match {
      case ArrayType(elem: StructType, _) =>
        for {
          steps <- walk(elem, matchPath.toList)
          textOrd <- stringField(elem, "text")
          outOrd <- stringField(elem, field)
        } yield new ColumnPicker(elem.length, steps.map(_._1).toArray,
          steps.map(_._2).toArray, UTF8String.fromString(key), textOrd, outOrd,
          firstWins, grammar.map(Pattern.compile).orNull)
      case other => Left(s"expects array<struct>, got ${other.simpleString}")
    }
  }

  @transient private lazy val picker: ColumnPicker =
    resolve.fold(e => throw new IllegalArgumentException(e), identity)

  override def checkInputDataTypes(): TypeCheckResult =
    resolve.fold(TypeCheckResult.TypeCheckFailure(_), _ => TypeCheckResult.TypeCheckSuccess)

  override protected def nullSafeEval(input: Any): Any =
    picker(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val p = ctx.addReferenceObj("picker", picker, classOf[ColumnPicker].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $p.apply($c);\n${ev.isNull} = ${ev.value} == null;")
  }

  override protected def withNewChildInternal(newChild: Expression): ColumnPick =
    copy(child = newChild)
}
