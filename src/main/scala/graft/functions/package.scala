package graft

import org.apache.spark.sql.{AnalysisException, Column, GraftColumns}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** Typed `Column` constructors for this library's Catalyst expressions, and
  * the one table of SQL names that [[graft.GraftExtensions]] installs.
  *
  * A query calls a constructor and gets the expression itself, so it runs
  * in any session, with or without the extensions, and needs no function
  * registration. SQL text reaches the same builders by name through the
  * extensions. */
package object functions {

  /** One native function: SQL name, argument count, the expression class
    * `DESCRIBE FUNCTION` reports, and the builder both paths share. */
  private[graft] final case class NativeFunction(
      name: String, arity: Int, cls: Class[_], build: Seq[Expression] => Expression) {

    def apply(args: Column*): Column =
      GraftColumns.column(build(args.map(GraftColumns.expression)))

    /** The SQL builder: `build` behind an argument-count check, so a
      * miscalled name is an analysis error that names it. */
    def sqlBuilder(args: Seq[Expression]): Expression = {
      if (args.length != arity) throw new AnalysisException(
        "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        Map("functionName" -> s"`$name`", "expectedNum" -> arity.toString,
            "actualNum" -> args.length.toString,
            "docroot" -> "https://spark.apache.org/docs/latest"))
      build(args)
    }
  }

  private val DotF32Fn = NativeFunction("dot_f32", 2, classOf[DotProduct],
    e => DotProduct(e(0), e(1)))
  private val SqDistFn = NativeFunction("sq_dist", 2, classOf[SqDist],
    e => SqDist(e(0), e(1)))
  private val HyperplaneFpFn = NativeFunction("hyperplane_fp", 2, classOf[HyperplaneFp],
    e => HyperplaneFp(e(0), e(1)))
  private val DotI8Fn = NativeFunction("dot_i8", 2, classOf[DotProductI8],
    e => DotProductI8(e(0), e(1)))
  private val BpeMergeFn = NativeFunction("bpe_merge", 3, classOf[BpeMerge],
    e => BpeMerge(e(0), e(1), e(2)))
  private val CdcSplitFn = NativeFunction("cdc_split", 1, classOf[CdcSplit],
    e => CdcSplit(e(0)))
  private val InterleaveBitsFn = NativeFunction("interleave_bits", 2, classOf[InterleaveBits],
    e => InterleaveBits(e(0), e(1)))
  private val UniqueWordsRatioFn = NativeFunction("unique_words_ratio", 1,
    classOf[UniqueWordsRatio], e => UniqueWordsRatio(e(0)))
  // Spark's runtime-filter bloom expressions, which Spark composes inside
  // its InjectRuntimeFilter rule but does not expose as functions
  private val BloomFilterAggFn = NativeFunction("bloom_filter_agg", 3,
    classOf[BloomFilterAggregate],
    e => new BloomFilterAggregate(e(0), e(1), e(2)).toAggregateExpression())
  private val MightContainFn = NativeFunction("might_contain", 2,
    classOf[BloomFilterMightContain], e => BloomFilterMightContain(e(0), e(1)))

  /** Every native function, as `GraftExtensions` injects them. */
  private[graft] val nativeFunctions: Seq[NativeFunction] = Seq(
    DotF32Fn, SqDistFn, HyperplaneFpFn, DotI8Fn, BpeMergeFn, CdcSplitFn,
    InterleaveBitsFn, UniqueWordsRatioFn, BloomFilterAggFn, MightContainFn)

  /** Float-vector dot product ([[DotProduct]]). */
  def dot_f32(a: Column, b: Column): Column = DotF32Fn(a, b)
  /** Squared euclidean distance of float/double vectors ([[SqDist]]). */
  def sq_dist(a: Column, b: Column): Column = SqDistFn(a, b)
  /** Random-hyperplane sign fingerprint of `nbits` bits ([[HyperplaneFp]]). */
  def hyperplane_fp(v: Column, nbits: Column): Column = HyperplaneFpFn(v, nbits)
  /** int8-vector dot product ([[DotProductI8]]). */
  def dot_i8(a: Column, b: Column): Column = DotI8Fn(a, b)
  /** One greedy left-to-right merge pass of the pair (a, b) ([[BpeMerge]]). */
  def bpe_merge(tokens: Column, a: Column, b: Column): Column = BpeMergeFn(tokens, a, b)
  /** Content-defined chunks of an ASCII string ([[CdcSplit]]). */
  def cdc_split(text: Column): Column = CdcSplitFn(text)
  /** Morton code of two bigint keys ([[InterleaveBits]]). */
  def interleave_bits(x: Column, y: Column): Column = InterleaveBitsFn(x, y)
  /** Distinct over total space-separated tokens ([[UniqueWordsRatio]]). */
  def unique_words_ratio(text: Column): Column = UniqueWordsRatioFn(text)
  /** Aggregate: a bloom-filter sketch of `hash` values (`xxhash64(key)`),
    * sized by two bigint constants (expected items, bits). A fixed-size
    * sketch of a large build side can be broadcast where its key set
    * cannot: probe rows that cannot match are dropped before a shuffle
    * join, and the exact join over the survivors keeps the result
    * identical, since a bloom filter has no false negatives. */
  def bloom_filter_agg(hash: Column, items: Column, bits: Column): Column =
    BloomFilterAggFn(hash, items, bits)
  /** Whether `sketch` may hold `hash`. The sketch must be a constant or a
    * scalar subquery (`Dataset.scalar()`): Spark builds it once and inlines
    * it into the codegen'd probe filter. */
  def might_contain(sketch: Column, hash: Column): Column = MightContainFn(sketch, hash)
}
