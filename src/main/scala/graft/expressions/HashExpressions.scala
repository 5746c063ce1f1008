package graft.expressions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the two hash-sketch hot loops
  * (SURVEY.md §2.9: the only operators where built-ins genuinely can't
  * express the computation efficiently).
  *
  * The declarative forms (nested `transform`/`aggregate` lambdas) are
  * semantically identical but run interpreted — higher-order functions are
  * not whole-stage-codegen'd — and allocate a substring per token per bit.
  * These expressions keep the EXACT same output (the DuckDB oracle still
  * checks them against its own declarative replay) while running as a tight
  * primitive loop inside generated code: `doGenCode` emits a direct static
  * call, so the surrounding projection stays in one codegen stage.
  */
object HashSupport {
  private val md5Local = ThreadLocal.withInitial[MessageDigest](() =>
    MessageDigest.getInstance("MD5"))

  private val HEX = "0123456789abcdef".getBytes

  def md5Hex(bytes: Array[Byte]): Array[Byte] = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(bytes)
    val out = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = HEX((d(i) >>> 4) & 0xf)
      out(2 * i + 1) = HEX(d(i) & 0xf)
      i += 1
    }
    out
  }

  /** 16-bit SimHash: bit i set iff the count of tokens whose i-th md5 hex
    * digit is >= 8 strictly exceeds the count of those below — identical to
    * the declarative hex-digit vote. */
  def simhash16(tokens: ArrayData): Long = {
    val votes = new Array[Int](16)
    val md = md5Local.get()
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      val t = tokens.getUTF8String(i)
      if (t != null) {
        md.reset()
        val d = md.digest(t.getBytes)
        var j = 0
        while (j < 8) {
          val b = d(j) & 0xff
          if ((b >>> 4) >= 8) votes(2 * j) += 1 else votes(2 * j) -= 1
          if ((b & 0xf) >= 8) votes(2 * j + 1) += 1 else votes(2 * j + 1) -= 1
          j += 1
        }
      }
      i += 1
    }
    var out = 0L
    var k = 0
    while (k < 16) { if (votes(k) > 0) out |= 1L << k; k += 1 }
    out
  }

  private val seedPrefixes: Array[Array[Byte]] =
    Array.tabulate(16)(s => (s + ":").getBytes)

  /** 16 md5-minhashes: element s is min over shingles of
    * md5Hex(s + ":" + shingle) — byte-identical to the declarative
    * `array_min(transform(shingles, sh -> md5(concat(s, ':', sh))))`
    * (lexicographic min over lowercase hex == unsigned byte min). */
  def minhash16(shingles: ArrayData): ArrayData = {
    val n = shingles.numElements()
    val mins = new Array[Array[Byte]](16)
    var i = 0
    while (i < n) {
      val sh = shingles.getUTF8String(i)
      if (sh != null) {
        val shBytes = sh.getBytes
        var s = 0
        while (s < 16) {
          val seed = seedPrefixes(s)
          val buf = new Array[Byte](seed.length + shBytes.length)
          System.arraycopy(seed, 0, buf, 0, seed.length)
          System.arraycopy(shBytes, 0, buf, seed.length, shBytes.length)
          val h = md5Hex(buf)
          if (mins(s) == null || compareHex(h, mins(s)) < 0) mins(s) = h
          s += 1
        }
      }
      i += 1
    }
    val out = new Array[AnyRef](16)
    var s = 0
    while (s < 16) {
      out(s) = if (mins(s) == null) null else UTF8String.fromBytes(mins(s))
      s += 1
    }
    new GenericArrayData(out)
  }

  private def compareHex(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    while (i < 32) {
      if (a(i) != b(i)) return (a(i) & 0xff) - (b(i) & 0xff)
      i += 1
    }
    0
  }

  /** Distinct 3-gram word shingles straight from the raw text — identical to
    * the declarative chain
    * `array_distinct(transform(sequence(0, size(toks)-3),
    *    i -> concat_ws(' ', slice(toks, i+1, 3))))` over
    * `toks = filter(split(lower(text), '[^a-z0-9]+'), t -> t <> '')`,
    * which ran INTERPRETED (nested lambdas) and dominated every dedup key
    * (5.7s of a 6.6s LSH run at sf0.1 was this projection). Tokens are the
    * maximal runs of ASCII [a-z0-9] in the lowered string — equivalent to
    * the regex split because UTF-8 continuation bytes never collide with
    * ASCII, and `UTF8String.toLowerCase` is the exact `lower()` Spark
    * applies. Returns an EMPTY array when fewer than 3 tokens (callers
    * filter on size > 0, matching the old `len(toks) >= 3` gate). */
  def shingle3(text: UTF8String): ArrayData = {
    val bytes = text.toLowerCase.getBytes
    val n = bytes.length
    val toks = new java.util.ArrayList[String](64)
    var i = 0
    while (i < n) {
      val b = bytes(i)
      if ((b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')) {
        val start = i
        var j = i
        var run = true
        while (j < n && run) {
          val c = bytes(j)
          if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) j += 1
          else run = false
        }
        toks.add(new String(bytes, start, j - start,
          java.nio.charset.StandardCharsets.US_ASCII))
        i = j
      } else i += 1
    }
    val m = toks.size
    if (m < 3) return new GenericArrayData(new Array[AnyRef](0))
    // first-occurrence order, like array_distinct
    val seen = new java.util.LinkedHashSet[String](2 * m)
    var k = 0
    while (k + 2 < m) {
      seen.add(toks.get(k) + " " + toks.get(k + 1) + " " + toks.get(k + 2))
      k += 1
    }
    val out = new Array[AnyRef](seen.size)
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) { out(o) = UTF8String.fromString(it.next()); o += 1 }
    new GenericArrayData(out)
  }

  /** Quantized dot product over float vectors: Σ floor(a_i*1e6)*floor(b_i*1e6)
    * as exact BIGINT — identical to the declarative
    * `aggregate(zip_with(qa, qb, (x,y) -> x*y), 0L, +)` over
    * `transform(v, x -> cast(floor(cast(x as double)*1e6) as bigint))`. */
  def dotQ(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      val qa = math.floor(a.getFloat(i).toDouble * 1e6).toLong
      val qb = math.floor(b.getFloat(i).toDouble * 1e6).toLong
      acc += qa * qb
      i += 1
    }
    acc
  }

  /** Integer L2 distance over PRE-QUANTIZED bigint vectors: Σ (a_i - b_i)²
    * as exact BIGINT — identical to the declarative
    * `aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), 0L, +)`,
    * but a tight primitive loop inside whole-stage codegen (the lambda
    * form is interpreted per element and was the PQ hot path). */
  def l2q(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      val d = a.getLong(i) - b.getLong(i)
      acc += d * d
      i += 1
    }
    acc
  }
}

/** simhash16(array<string>) → bigint. */
case class SimHash16(child: Expression)
    extends UnaryExpression {

  // input contract: array<string> (AbstractDataType is private[sql] in
  // Spark 4, so ExpectsInputTypes can't be mixed in from outside)
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash16"

  override protected def nullSafeEval(input: Any): Any =
    HashSupport.simhash16(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.HashSupport$$.MODULE$$.simhash16($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash16 =
    copy(child = newChild)
}

/** minhash16(array<string>) → array<string> of 16 min-md5-hex values. */
case class MinHash16(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType)
  override def prettyName: String = "graft_minhash16"

  override protected def nullSafeEval(input: Any): Any =
    HashSupport.minhash16(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.HashSupport$$.MODULE$$.minhash16($c)")

  override protected def withNewChildInternal(newChild: Expression): MinHash16 =
    copy(child = newChild)
}

/** shingle3(string) → array<string> of distinct 3-gram word shingles. */
case class Shingle3(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType)
  override def prettyName: String = "graft_shingle3"

  override protected def nullSafeEval(input: Any): Any =
    HashSupport.shingle3(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.HashSupport$$.MODULE$$.shingle3($c)")

  override protected def withNewChildInternal(newChild: Expression): Shingle3 =
    copy(child = newChild)
}

/** dotq(array<float>, array<float>) → bigint (exact quantized dot product). */
case class DotQ(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_dotq"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    HashSupport.dotQ(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.expressions.HashSupport$$.MODULE$$.dotQ($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotQ =
    copy(left = newLeft, right = newRight)
}

/** l2q(array<bigint>, array<bigint>) → bigint (exact integer squared L2). */
case class L2Q(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_l2q"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    HashSupport.l2q(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.expressions.HashSupport$$.MODULE$$.l2q($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2Q =
    copy(left = newLeft, right = newRight)
}

/** Codegen bloom-filter membership test: wraps Spark's own internal
  * `BloomFilterMightContain` (the expression AQE's runtime row-level
  * filtering injects) around a driver-built sketch, so the fact-scan
  * prefilter runs INSIDE whole-stage codegen instead of as a Scala UDF
  * that breaks the stage. The sketch travels as a binary literal — the
  * expression deserializes it once per task, not per row.
  */
object BloomSupport {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
  import org.apache.spark.sql.graftbridge.ColumnBridge

  def mightContain(filter: org.apache.spark.util.sketch.BloomFilter,
      value: Column): Column = {
    val bos = new java.io.ByteArrayOutputStream()
    filter.writeTo(bos)
    ColumnBridge.column(BloomFilterMightContain(
      Literal(bos.toByteArray, BinaryType),
      ColumnBridge.expression(value.cast("long"))))
  }
}

/** The graft functions, two ways in. Library code calls the typed Column
  * functions below, which plant each expression through `ColumnBridge`
  * and so need nothing installed in the session (a session built without
  * `GraftExtensions` runs every library key). SQL text gets the
  * `graft_*` names from `GraftExtensions`, installed at session build,
  * which binds `builders`. Both paths build the same expression classes,
  * so a query's analyzed plan is identical whichever way it was written. */
object GraftFunctions {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}

  def simhash16(tokens: Column): Column = column(SimHash16(expression(tokens)))
  def minhash16(shingles: Column): Column = column(MinHash16(expression(shingles)))
  def shingle3(text: Column): Column = column(Shingle3(expression(text)))
  def dotq(a: Column, b: Column): Column = column(DotQ(expression(a), expression(b)))
  def l2q(a: Column, b: Column): Column = column(L2Q(expression(a), expression(b)))
  def nfc(text: Column): Column = column(NfcNormalize(expression(text)))

  /** The builder table `GraftExtensions` installs for SQL text. */
  val builders: Seq[(String, Int, Seq[Expression] => Expression)] = Seq(
    ("graft_simhash16", 1, exprs => SimHash16(exprs.head)),
    ("graft_minhash16", 1, exprs => MinHash16(exprs.head)),
    ("graft_dotq", 2, exprs => DotQ(exprs(0), exprs(1))),
    ("graft_l2q", 2, exprs => L2Q(exprs(0), exprs(1))),
    ("graft_shingle3", 1, exprs => Shingle3(exprs.head)),
    ("graft_nfc", 1, exprs => NfcNormalize(exprs.head)))

  /** Arity gate at analysis time (r10): a builder that blindly indexes
    * `exprs` turns a missing argument into a raw IndexOutOfBoundsException
    * and silently DROPS surplus arguments — both are analysis errors and
    * must fail as such, naming the function. */
  def arityChecked(name: String, n: Int)(
      build: Seq[Expression] => Expression): Seq[Expression] => Expression =
    exprs => {
      if (exprs.length != n)
        throw new org.apache.spark.sql.AnalysisException(
          errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
          messageParameters = Map(
            "functionName" -> name, "expectedNum" -> n.toString,
            "actualNum" -> exprs.length.toString,
            "docroot" -> "https://spark.apache.org/docs/latest"))
      build(exprs)
    }
}
