package graft.functions

import java.lang.reflect.{InvocationTargetException, Method}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graftbridge.CatalystBridge
import org.apache.spark.sql.types._

/** Declaration of a native kernel whose whole per-row work is ONE static
  * call `graft.functions.<owner>.<method>(inputs…, intArgs…)`.
  *
  * A declaration states the SQL name, the owner object and method, the
  * input types, the result type and the names of the plan-time int
  * arguments; [[KernelCall]] derives the rest from it: the input type
  * check, the generated call, the interpreted call (the SAME static
  * method, found by reflection, so the two paths cannot drift), and the
  * printed forms. Declarations are case objects so a call keeps
  * case-class equality, `semanticEquals` and canonicalization.
  *
  * A new kernel is one static method plus one case object below; the SQL
  * surface, if any, is one line in [[graft.GraftExtensions]].
  */
abstract class NativeKernel(
    val name: String,
    owner: AnyRef,
    method: String,
    val inputTypes: Seq[DataType],
    val dataType: DataType,
    val intArgs: String*) extends Serializable {

  /** Whether the method can return null on non-null inputs. */
  def mayReturnNull: Boolean = false

  /** Construction-time contract on the int arguments, shared by the
    * Column and SQL surfaces. */
  def requireArgs(args: Seq[Int]): Unit = ()

  /** The kernel call over `inputs` with the int arguments `args`. */
  def apply(inputs: Seq[Column], args: Int*): Column =
    CatalystBridge.column(KernelCall(this, inputs.map(CatalystBridge.expression), args))

  /** The generated code's callee, `graft.functions.<owner>.<method>`. */
  private[functions] val staticMethod = s"${owner.getClass.getName.stripSuffix("$")}.$method"

  private lazy val target: Method = owner.getClass.getMethod(method,
    inputTypes.map(CodeGenerator.javaClass) ++ intArgs.map(_ => Integer.TYPE): _*)

  private[functions] def invoke(values: Array[AnyRef]): Any =
    try target.invoke(owner, values: _*)
    catch { case e: InvocationTargetException => throw e.getCause }
}

/** A codegen'd call of a [[NativeKernel]]: null on any null input, else
  * the kernel's static method over the inputs and the int arguments. */
case class KernelCall(kernel: NativeKernel, children: Seq[Expression], args: Seq[Int])
    extends Expression {
  require(children.size == kernel.inputTypes.size && args.size == kernel.intArgs.size,
    s"${kernel.name} takes ${kernel.inputTypes.size} input(s) and (${kernel.intArgs.mkString(", ")})")
  kernel.requireArgs(args)

  override def dataType: DataType = kernel.dataType
  override def nullable: Boolean = kernel.mayReturnNull || children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)
  override def prettyName: String = kernel.name
  override protected def stringArgs: Iterator[Any] = children.iterator ++ args.iterator
  // the int arguments are part of the call: Spark names an unaliased
  // column by its `sql`, so graft_minhash(toks, 4) and graft_minhash(toks, 8)
  // must not both print as graft_minhash(toks)
  override def sql: String =
    s"$prettyName(${(children.map(_.sql) ++ args.map(_.toString)).mkString(", ")})"

  override def checkInputDataTypes(): TypeCheckResult = {
    val accepted = kernel.inputTypes.zip(children.map(_.dataType)).forall {
      case (ArrayType(e, _), ArrayType(a, _)) => e == a
      case (e, a) => e == a
    }
    def list(ts: Seq[String]) = if (ts.size == 1) ts.head else ts.mkString("(", ", ", ")")
    if (accepted) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires " +
      s"${list(kernel.inputTypes.map(_.simpleString))}, got ${list(children.map(_.dataType.sql))}")
  }

  override def eval(input: InternalRow): Any = {
    val values = new Array[AnyRef](children.size + args.size)
    val inputs = children.iterator
    var i = 0
    while (inputs.hasNext) {
      values(i) = inputs.next().eval(input).asInstanceOf[AnyRef]
      if (values(i) == null) return null
      i += 1
    }
    for (a <- args) { values(i) = Int.box(a); i += 1 }
    kernel.invoke(values)
  }

  // Spark's null-safe UnaryExpression / BinaryExpression code shapes,
  // line for line: an input is evaluated only when the ones before it are
  // non-null
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gens = children.map(_.genCode(ctx))
    val call = s"${kernel.staticMethod}(${(gens.map(_.value) ++ args).mkString(", ")})"
    val result = s"${ev.value} = $call;" +
      (if (kernel.mayReturnNull) s"\n${ev.isNull} = ${ev.value} == null;\n" else "")
    val declare = s"${CodeGenerator.javaType(dataType)} ${ev.value} = ${CodeGenerator.defaultValue(dataType)};"
    if (!nullable) {
      ev.copy(code = code"${gens.map(_.code).mkString("\n")}\n$declare\n$result",
        isNull = FalseLiteral)
    } else if (children.size == 1) {
      val exec = ctx.nullSafeExec(children.head.nullable, gens.head.isNull)(result)
      ev.copy(code = code"""${gens.head.code}
        boolean ${ev.isNull} = ${gens.head.isNull};
        $declare
        $exec""")
    } else {
      val body = children.zip(gens).foldRight(
          s"\n${ev.isNull} = false; // resultCode could change nullability.\n$result\n") {
        case ((c, g), inner) => s"${g.code}${ctx.nullSafeExec(c.nullable, g.isNull)(inner)}"
      }
      ev.copy(code = code"""boolean ${ev.isNull} = true;
        $declare
        $body""")
    }
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): KernelCall =
    copy(children = newChildren)
}

object NativeKernel {
  private[functions] val Tokens: DataType = ArrayType(StringType)
  private[functions] val Strings: DataType = ArrayType(StringType, containsNull = false)
}
import NativeKernel.{Strings, Tokens}

/** MinHash signature over a shingle array column. */
case object MinHashSig extends NativeKernel("graft_minhash",
  HashKernels, "minhashSignature", Seq(Tokens), Strings, "k")

/** Distinct n-gram shingling over a token array column. */
case object Shingles extends NativeKernel("graft_shingles",
  HashKernels, "shingles", Seq(Tokens), Strings, "n")

/** Top-n-gram repetition ratio over a token array column. */
case object RepeatRatio extends NativeKernel("graft_repeat_ratio",
  HashKernels, "repeatRatio", Seq(Tokens), DoubleType, "n")

/** Consecutive-duplicate-run collapsing over a token array column. */
case object CollapseRuns extends NativeKernel("graft_collapse_runs",
  HashKernels, "collapseRuns", Seq(Tokens), Strings, "maxRun")

/** SimHash fingerprint over a token array column. */
case object SimHash extends NativeKernel("graft_simhash",
  HashKernels, "simhash", Seq(Tokens), LongType, "bits")

/** Positional winnowing fingerprints (k-gram hashes, window w) of a string
  * column; texts shorter than one k-gram yield null. */
case object WinnowFps extends NativeKernel("graft_winnow",
    HashKernels, "winnow", Seq(StringType),
    ArrayType(StructType(Seq(StructField("gh", LongType, nullable = false),
      StructField("p", IntegerType, nullable = false))), containsNull = false), "k", "w") {
  override def mayReturnNull: Boolean = true
}

/** Unicode NFC canonical composition of a string column. */
case object NfcNormalize extends NativeKernel("graft_nfc_normalize",
  HashKernels, "nfcNormalize", Seq(StringType), StringType)

/** Code-point n-gram array over a string column. */
case object CharGrams extends NativeKernel("graft_char_grams",
  HashKernels, "charGrams", Seq(StringType), Strings, "n")

/** IDN (punycode) host-label decode over a string column. */
case object IdnDecodeHost extends NativeKernel("graft_idn_host",
  HashKernels, "idnDecodeHost", Seq(StringType), StringType)

/** Shannon entropy (bits) over a string column's code points. */
case object CharEntropy extends NativeKernel("graft_char_entropy",
  HashKernels, "charEntropy", Seq(StringType), DoubleType)

/** Average-hash perceptual fingerprint over a binary payload. */
case object PhashFp extends NativeKernel("graft_phash",
    HashKernels, "phashFp", Seq(BinaryType), LongType, "bits") {
  // below 2 the mean is degenerate, above 62 the 1L << (bits-1-i)
  // weights wrap mod 64
  override def requireArgs(args: Seq[Int]): Unit =
    require(args(0) >= 2 && args(0) <= 62, s"$name bits must be in [2, 62], got ${args(0)}")
}

/** Adjacent-token bigram pair generator over a string column. */
case object TokenPairs extends NativeKernel("graft_token_pairs",
  HashKernels, "tokenPairs", Seq(StringType), ArrayType(StructType(Seq(
    StructField("w1", StringType, nullable = false),
    StructField("w2", StringType, nullable = false))), containsNull = false))

/** HTTP response-message split: binary payload →
  * struct(status, content_type, body, err). */
case object HttpParse extends NativeKernel("graft_http_parse",
  WebKernels, "httpParse", Seq(BinaryType), StructType(Seq(
    StructField("status", IntegerType),
    StructField("content_type", StringType),
    StructField("body", BinaryType),
    StructField("err", StringType))))

/** Charset resolution + decode: (binary body, content_type) →
  * struct(charset, text). Null on a null input like every kernel — callers
  * pass a MISSING Content-Type as the empty string
  * ([[WebExpressions.charsetDecodeOf]] coalesces), which resolves through
  * the sniff/fallback chain. */
case object CharsetDecode extends NativeKernel("graft_charset_decode",
  WebKernels, "charsetDecode", Seq(BinaryType, StringType), StructType(Seq(
    StructField("charset", StringType),
    StructField("text", StringType))))

/** HTML visible-text extraction of a string column. */
case object HtmlToText extends NativeKernel("graft_html_text",
  WebKernels, "htmlToText", Seq(StringType), StringType)

/** HTML block segmentation of a string column:
  * array(struct(text, links, chars)) — see [[WebKernels.htmlToBlocks]]. */
case object HtmlBlocks extends NativeKernel("graft_html_blocks",
  WebKernels, "htmlToBlocks", Seq(StringType), ArrayType(StructType(Seq(
    StructField("text", StringType),
    StructField("links", IntegerType),
    StructField("chars", IntegerType))), containsNull = false))

/** How a kernel's `sql` prints a plan-time array argument (a codebook, a
  * filter's words, a BPE merges table): the first 8 hex digits of the
  * SHA-256 of its content, so two calls that differ only in that array
  * name their columns apart without the array being printed. */
private[functions] object ArgDigest {
  private def of(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
      .take(4).map(b => f"${b & 0xff}%02x").mkString

  def apply(values: Array[Long]): String = {
    val bytes = java.nio.ByteBuffer.allocate(8 * values.length)
    values.foreach(bytes.putLong)
    of(bytes.array())
  }

  def apply(values: Seq[Double]): String =
    apply(values.map(java.lang.Double.doubleToLongBits).toArray)

  /** String pairs, each string length-prefixed so that no two tables
    * share an encoding. */
  def apply(pairs: Seq[(String, String)])(implicit d: DummyImplicit): String = {
    val out = new java.io.ByteArrayOutputStream
    val data = new java.io.DataOutputStream(out)
    pairs.foreach { case (a, b) =>
      Seq(a, b).map(_.getBytes("UTF-8")).foreach { s => data.writeInt(s.length); data.write(s) }
    }
    of(out.toByteArray)
  }
}
