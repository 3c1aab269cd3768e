package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.classic.ClassicConversions

/** Registers the graft custom expressions into a session's function
  * registry so they resolve from SQL text (and via
  * `functions.call_function` from the DataFrame API).
  *
  * [[register]] is the only way these names get into a session. It
  * works on any existing session (no `spark.sql.extensions` at build
  * time), so callers that bring their own session, and those built by
  * `graft.GraftSession`, go through the same path. Registration is
  * per-session and idempotent: a name already bound to a graft function
  * is left alone, so repeated calls (every `Engine` and every
  * `Queries.prep`) do not re-register it.
  */
object GraftFunctions {

  type Builder = Seq[Expression] => Expression

  /** `ExpressionInfo` class name that marks a graft registration. */
  private val Origin = "graft.functions"

  private val all: Seq[(String, Int, Builder)] = Seq(
    ("duck_index", 2, args => DuckIndex(args(0), args(1))),
    ("duck_slice", 3, args => DuckSlice(args(0), args(1), args(2))),
    ("duck_datediff", 3, args => DuckDateDiff(args(0), args(1), args(2))),
    ("current_setting", 1, args => CurrentSetting(args(0))),
    ("pragma_version", 0, _ => PragmaVersion()),
    ("simhash64", 1, args => SimHash64Expr(args(0))),
    ("simhash_md5", 1, args => SimHashMd5Expr(args(0))),
    ("simhash_md5w", 1, args => SimHashMd5WideExpr(args(0))),
    ("minhash_sig", 2, args => MinHashSigExpr(args(0), args(1))),
    ("minhash_md5", 2, args => MinHashMd5Expr(args(0), args(1))),
    ("rp_sketch", 3, args => RpSketchExpr(args(0), args(1), args(2))),
    ("duck_round", 2, args => DuckRoundExpr(args(0), args(1))),
    ("ivf_probe", 3, args => IvfProbeExpr(args(0), args(1), args(2))),
    ("vec_cosine", 2, args => VecCosineExpr(args(0), args(1))),
    ("vec_dot", 2, args => VecDotExpr(args(0), args(1))),
    ("vec_quantize8", 1, args => VecQuantize8Expr(args(0))),
    ("norm_prefix", 2, args => NormPrefixExpr(args(0), args(1))),
    ("vec_cosine_q8", 2, args => VecCosineQ8Expr(args(0), args(1))),
    ("vec_norm", 1, args => VecNormExpr(args(0))),
    ("word_shingles", 2, args => WordShinglesExpr(args(0), args(1))),
    ("word_shingles_all", 2, args => WordShinglesAllExpr(args(0), args(1))),
    ("char_ngrams_all", 2, args => CharNgramsAllExpr(args(0), args(1))),
    ("lsh_band_hashes", 3, args => LshBandsExpr(args(0), args(1), args(2))),
    ("correct_casing", 1, args => SqlCorrectCasingExpr(args(0))),
    ("normalize_sql", 1, args => SqlNormalizeExpr(args(0))),
    ("html_extract_main", 1, args => HtmlExtractMainExpr(args(0)))
  )

  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graft.ColumnBridge.{column => toCol, expression => toExpr}

  /** Column-API entry points (no session registration needed). */
  def simhash64(tokens: Column): Column =
    toCol(SimHash64Expr(toExpr(tokens)))
  def simhashMd5(tokens: Column): Column =
    toCol(SimHashMd5Expr(toExpr(tokens)))
  def simhashMd5Wide(tokens: Column): Column =
    toCol(SimHashMd5WideExpr(toExpr(tokens)))
  def minhashSig(shingles: Column, k: Column): Column =
    toCol(MinHashSigExpr(toExpr(shingles), toExpr(k)))
  def minhashMd5(shingles: Column, k: Column): Column =
    toCol(MinHashMd5Expr(toExpr(shingles), toExpr(k)))
  def rpSketch(vec: Column, bits: Column, seed: Column): Column =
    toCol(RpSketchExpr(toExpr(vec), toExpr(bits), toExpr(seed)))
  def rpSketchProbes(vec: Column, bits: Column, seed: Column,
      probes: Column): Column =
    toCol(RpSketchProbesExpr(toExpr(vec), toExpr(bits), toExpr(seed),
      toExpr(probes)))
  def duckDatediff(unit: Column, start: Column, end: Column): Column =
    toCol(DuckDateDiff(toExpr(unit), toExpr(start), toExpr(end)))
  def ivfProbe(vec: Column, cents: Column, nprobe: Column): Column =
    toCol(IvfProbeExpr(toExpr(vec), toExpr(cents), toExpr(nprobe)))
  def duckRound(x: Column, d: Int): Column =
    toCol(DuckRoundExpr(toExpr(x),
      org.apache.spark.sql.catalyst.expressions.Literal(d)))
  def vecCosine(a: Column, b: Column): Column =
    toCol(VecCosineExpr(toExpr(a), toExpr(b)))
  def vecDot(a: Column, b: Column): Column =
    toCol(VecDotExpr(toExpr(a), toExpr(b)))
  def vecNorm(a: Column): Column = toCol(VecNormExpr(toExpr(a)))
  def vecQuantize8(a: Column): Column = toCol(VecQuantize8Expr(toExpr(a)))
  def normPrefix(text: Column, n: Column): Column =
    toCol(NormPrefixExpr(toExpr(text), toExpr(n)))
  def htmlExtractMain(html: Column): Column =
    toCol(HtmlExtractMainExpr(toExpr(html)))
  /** Path → index in `paths` (-1 if absent), `file:` spelling
    * normalized — the DV read path's integer file key. */
  def pathOrdinal(path: Column, paths: Seq[String]): Column =
    toCol(PathOrdinalExpr(toExpr(path),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        paths, org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType))))
  /** `key ∈ keys` via binary search (keys sorted here, once) — the
    * allocation-free large-set membership probe. */
  def inSortedLongs(key: Column, keys: Seq[Long]): Column =
    toCol(LongInSortedExpr(toExpr(key),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        keys.sorted, org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType))))
  /** Bounded "k smallest longs, sorted" aggregate — O(k) state per
    * group vs collect_list's O(group). */
  def boundedMinLongs(x: Column, k: Int): Column =
    toCol(BoundedMinLongsAgg(toExpr(x), k).toAggregateExpression())
  /** collect_list capped at cap+1 elements — exact for groups within
    * the cap, flag-sized for groups the caller drops anyway. */
  def cappedCollectLongs(x: Column, cap: Int): Column =
    toCol(CappedCollectLongsAgg(toExpr(x), cap).toAggregateExpression())
  def vecCosineQ8(a: Column, b: Column): Column =
    toCol(VecCosineQ8Expr(toExpr(a), toExpr(b)))
  def wordShingles(text: Column, n: Column): Column =
    toCol(WordShinglesExpr(toExpr(text), toExpr(n)))
  def lshBandHashes(sig: Column, b: Column, r: Column): Column =
    toCol(LshBandsExpr(toExpr(sig), toExpr(b), toExpr(r)))
  def shingleFps(words: Column, n: Column): Column =
    toCol(ShingleFpsExpr(toExpr(words), toExpr(n)))
  def spanRollup(words: Column, starts: Column, n: Column): Column =
    toCol(SpanRollupExpr(toExpr(words), toExpr(starts), toExpr(n)))
  def termCounts(words: Column, terms: Column): Column =
    toCol(TermCountsExpr(toExpr(words), toExpr(terms)))

  def register(spark: SparkSession): Unit = {
    val registry =
      ClassicConversions.castToImpl(spark).sessionState.functionRegistry
    all.foreach { case (name, arity, builder) =>
      // re-binding a name that is already ours only logs Spark's
      // "replaced a previously registered function" WARN
      val ours = registry.lookupFunction(FunctionIdentifier(name))
        .exists(_.getClassName == Origin)
      if (!ours) registry.registerFunction(
        FunctionIdentifier(name),
        new ExpressionInfo(Origin, name),
        (args: Seq[Expression]) => {
          require(args.length == arity,
            s"$name expects $arity argument(s), got ${args.length}")
          builder(args)
        })
    }
  }
}
