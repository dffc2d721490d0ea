package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graftbridge.CatalystBridge
import org.apache.spark.sql.types.{BinaryType, IntegerType, StringType}

import graft.functions._

/** SQL-surface registration of graft's native expressions, so SQL-string
  * pipelines can call them like built-ins. [[GraftExtensions.functions]]
  * is the list: each entry's usage text is what `DESCRIBE FUNCTION`
  * prints. The SQL forms of the [[graft.functions.NativeKernel]]
  * declarations derive their arity and "must be an integer literal"
  * checks from the declaration; `graft_bpe_count` / `graft_bpe_encode`
  * run over the library's default merges table (custom vocabularies go
  * through the Column API, a merges table is not SQL-literal-shaped).
  *
  * Production path: `spark.sql.extensions=graft.GraftExtensions` (applied
  * at session build). For an existing session or REPL,
  * `GraftExtensions.register(spark)` adds them to the live function
  * registry.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {
  private type Entry = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def entry(name: String, params: Seq[String], doc: String)(
      build: Seq[Expression] => Expression): Entry =
    (FunctionIdentifier(name), new ExpressionInfo(classOf[GraftExtensions].getName, null, name,
        s"$name(${params.mkString(", ")}) - $doc", ""),
      args => {
        if (args.size != params.size) throw new IllegalArgumentException(
          s"$name expects ${params.size} arg${if (params.size == 1) "" else "s"}, got ${args.size}")
        build(args)
      })

  private def kernel(k: NativeKernel, doc: String): Entry = {
    val inputs = k.inputTypes.map(t =>
      if (t == BinaryType) "payload" else if (t == StringType) "text" else "tokens")
    entry(k.name, inputs ++ k.intArgs, doc) { args =>
      val (in, ints) = args.splitAt(inputs.size)
      KernelCall(k, in, ints.zip(k.intArgs).map {
        case (Literal(v: Int, IntegerType), _) => v
        case (other, arg) => throw new IllegalArgumentException(
          s"${k.name}: $arg must be an integer literal, got $other")
      })
    }
  }

  val functions: Seq[Entry] = Seq(
    entry("graft_dot", Seq("a", "b"), "codegen'd dot product of two numeric arrays")(
      args => DotProduct(args(0), args(1))),
    kernel(MinHashSig, "k-wide MinHash signature"),
    kernel(SimHash, "bits-wide SimHash fingerprint"),
    kernel(Shingles, "distinct word n-gram shingles"),
    kernel(RepeatRatio, "top full-n-gram frequency over all full n-grams"),
    kernel(CollapseRuns, "collapse consecutive duplicate-token runs to maxRun"),
    kernel(PhashFp, "bits-wide average-hash perceptual fingerprint of a binary payload"),
    kernel(TokenPairs, "adjacent whitespace-token bigram pairs, non-distinct, reading order"),
    kernel(CharEntropy, "Shannon entropy (bits) over the text's code points"),
    kernel(NfcNormalize, "Unicode NFC canonical composition"),
    kernel(WinnowFps, "positional winnowing fingerprints (k-gram hashes, window w)"),
    entry("graft_bpe_count", Seq("text"),
        "byte-level BPE token count over the library's default merges table")(
      args => BpeCount(args(0), graft.operators.TextAnalysis.DefaultBpeMerges)),
    entry("graft_bpe_encode", Seq("text"),
        "byte-level BPE token ids (array<int>) over the library's default merges table")(
      args => BpeEncode(args(0), graft.operators.TextAnalysis.DefaultBpeMerges)))

  /** Register on a live session (tests, REPL, existing sessions). */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (ident, inf, builder) =>
      CatalystBridge.registerFunction(spark, ident, inf, builder)
    }
}
