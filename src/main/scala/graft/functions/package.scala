package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftshim.Bridge
import org.apache.spark.sql.types.IntegerType

/** Column-level entry points for graft's native expressions. */
package object functions {

  private[graft] def toColumn(e: Expression): Column = Bridge.column(e)
  private[graft] def toExpr(c: Column): Expression = Bridge.expression(c)

  /** Porter-stem a string column (lowercases; non-`[a-z]+` pass through). */
  def porter_stem(c: Column): Column = toColumn(PorterStem(toExpr(c)))

  /** Native codegen'd dot product of two `array<float>` columns. */
  def float_dot(a: Column, b: Column): Column =
    toColumn(FloatDot(toExpr(a), toExpr(b)))

  /** Unicode NFC canonical composition of a string column. */
  def nfc_normalize(c: Column): Column = toColumn(NfcNormalize(toExpr(c)))

  /** Fused cosine of two `array<float>` columns: one array pass for
    * dot + both norms; bit-identical to
    * `float_dot(a,b)/(sqrt(float_dot(a,a))*sqrt(float_dot(b,b)))`.
    */
  def float_cosine(a: Column, b: Column): Column =
    toColumn(FloatCosine(toExpr(a), toExpr(b)))

  /** Jaro-Winkler similarity of two string columns (RapidFuzz/DuckDB
    * semantics; see [[JaroWinkler]]).
    */
  def jaro_winkler(a: Column, b: Column): Column =
    toColumn(JaroWinkler(toExpr(a), toExpr(b)))

  /** Full (unrestricted) Damerau-Levenshtein distance of two string
    * columns (byte-wise DuckDB semantics; see [[DamerauLevenshtein]]).
    */
  def damerau_levenshtein(a: Column, b: Column): Column =
    toColumn(DamerauLevenshtein(toExpr(a), toExpr(b)))

  /** Longest common TOKEN subsequence length of two string columns
    * (whitespace tokens; the ROUGE-L core — see [[TokenLcs]]).
    */
  def token_lcs(a: Column, b: Column): Column =
    toColumn(TokenLcs(toExpr(a), toExpr(b)))

  /** Clipped n-gram match count Σ min(count_cand, count_ref) over
    * whitespace-token n-grams (the BLEU numerator — see
    * [[TokenNgramClip]]).
    */
  def token_ngram_clip(cand: Column, ref: Column, n: Column): Column =
    toColumn(TokenNgramClip(toExpr(cand), toExpr(ref), toExpr(n)))

  /** 2-D Hilbert curve index of two already-normalized long columns in
    * [0, 2^bits) (the locality-superior clustering key — see
    * [[HilbertIndex]]).
    */
  def hilbert_index(x: Column, y: Column, bits: Int): Column =
    toColumn(HilbertIndex(toExpr(x), toExpr(y), bits))

  /** Apply a trained BPE merge table to a word column (sequential
    * greedy passes in table order — see [[BpeEncode]]). The table is a
    * driver-side artifact, so this takes a Scala Seq, not a Column;
    * no SQL registration (SQL has no clean spelling for the bounded
    * tokenizer artifact — use the Column API).
    */
  def bpe_encode(word: Column, merges: Seq[(String, String)]): Column =
    toColumn(BpeEncode(toExpr(word), merges))

  /** Distinct 0-based indices of the blocklist `patterns` occurring as
    * substrings of the text column, via one Aho–Corasick pass (see
    * [[MultiMatch]]). The pattern list is a driver-side artifact, so
    * this takes a Scala Seq, not a Column; no SQL registration.
    */
  def multi_match(text: Column, patterns: Seq[String]): Column =
    toColumn(MultiMatch(toExpr(text), patterns))

  /** Replace every leftmost-longest non-overlapping blocklist
    * occurrence with `token` in one Aho–Corasick pass (see
    * [[MultiReplace]]).
    */
  def multi_replace(text: Column, patterns: Seq[String],
      token: String): Column =
    toColumn(MultiReplace(toExpr(text), patterns, token))

  /** Every SQL-callable graft function: name and arity-checked builder.
    * The one list behind both [[registerAll]] and [[graft.GraftExtensions]].
    */
  private[graft] val sqlFunctions: Seq[(String, Seq[Expression] => Expression)] =
    Seq(
      sql("porter_stem", 1)(e => PorterStem(e(0))),
      sql("float_dot", 2)(e => FloatDot(e(0), e(1))),
      sql("nfc_normalize", 1)(e => NfcNormalize(e(0))),
      sql("float_cosine", 2)(e => FloatCosine(e(0), e(1))),
      sql("jaro_winkler", 2)(e => JaroWinkler(e(0), e(1))),
      sql("damerau_levenshtein", 2)(e => DamerauLevenshtein(e(0), e(1))),
      sql("token_lcs", 2)(e => TokenLcs(e(0), e(1))),
      sql("token_ngram_clip", 3)(e => TokenNgramClip(e(0), e(1), e(2))),
      sql("hilbert_index", 3)(e => HilbertIndex(e(0), e(1), e(2) match {
        case b if b.foldable && b.dataType == IntegerType =>
          b.eval().asInstanceOf[Int]
        case b => throw new IllegalArgumentException(
          s"hilbert_index: bits must be an int literal, got $b")
      })))

  private def sql(name: String, arity: Int)(
      build: Seq[Expression] => Expression)
      : (String, Seq[Expression] => Expression) =
    name -> { exprs =>
      require(exprs.length == arity, s"$name requires exactly $arity " +
        s"argument${if (arity == 1) "" else "s"}, got ${exprs.length}")
      build(exprs)
    }

  /** Register graft SQL functions on a session (idempotent), enabling
    * `SELECT porter_stem(col)` in `spark.sql`.
    */
  def registerAll(spark: SparkSession): Unit =
    sqlFunctions.foreach { case (name, build) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, build, "scala_udf")
    }
}
