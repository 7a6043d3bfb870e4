package graft.plans

import org.apache.spark.sql.{Column, GraftBridge}

/** Column-API wrappers for graft's custom catalyst expressions. */
object Exprs {
  /** Codegen'd float-array dot product (see [[ArrayDotProduct]]). */
  def dot(a: Column, b: Column): Column =
    GraftBridge.column(ArrayDotProduct(GraftBridge.expression(a), GraftBridge.expression(b)))

  /** Codegen'd int8-code dot product (see [[Int8DotProduct]]). */
  def dotInt8(a: Column, b: Column): Column =
    GraftBridge.column(Int8DotProduct(GraftBridge.expression(a), GraftBridge.expression(b)))

  /** Compiled distinct word n-grams (see [[WordNgrams]]). */
  def wordNgrams(tokens: Column, n: Int): Column =
    GraftBridge.column(WordNgrams(GraftBridge.expression(tokens), n))

  /** Compiled MinHash signature (see [[MinHashSignature]]). */
  def minhash(shingles: Column, numHashes: Int): Column =
    GraftBridge.column(MinHashSignature(GraftBridge.expression(shingles), numHashes))

  /** Compiled MinHash signature-agreement count (see [[SigAgreement]]). */
  def sigAgreement(a: Column, b: Column): Column =
    GraftBridge.column(SigAgreement(GraftBridge.expression(a), GraftBridge.expression(b)))

  /** Per-bucket int8 cosine pair screen (see [[BucketScreenPairs]]). */
  def bucketScreen(members: Column, threshold: Double): Column =
    GraftBridge.column(BucketScreenPairs(GraftBridge.expression(members), threshold))

  /** Compiled 64-bit SimHash fingerprint (see [[SimHash64]]). */
  def simhash(tokens: Column): Column =
    GraftBridge.column(SimHash64(GraftBridge.expression(tokens)))

  /** Compiled random-hyperplane LSH signature (see [[HyperplaneLSH]]);
    * `offset` picks a disjoint hyperplane family for stacked/banded use.
    */
  def hyperplaneLsh(vec: Column, planes: Int, offset: Int = 0): Column =
    GraftBridge.column(HyperplaneLSH(GraftBridge.expression(vec), planes, offset))

  /** Compiled one-pass int8 quantization (see [[Int8Quantize]]). */
  def quantizeInt8(vec: Column): Column =
    GraftBridge.column(Int8Quantize(GraftBridge.expression(vec)))

  /** One-pass quality-score text statistics (see [[TextStats]]). */
  def textStats(text: Column): Column =
    GraftBridge.column(TextStats(GraftBridge.expression(text)))

  /** Compiled map-side IVF centroid assignment (see [[NearestCentroid]]). */
  def nearestCentroid(vec: Column, centroids: Array[Array[Double]]): Column =
    GraftBridge.column(NearestCentroid(GraftBridge.expression(vec), centroids))

  /** Compiled sorted-timeline binary search (see [[SortedAsOfLookup]]). */
  def asofLookup(sortedArr: Column, ts: Column): Column =
    GraftBridge.column(SortedAsOfLookup(GraftBridge.expression(sortedArr), GraftBridge.expression(ts)))

  /** Winnowing rolling-hash fingerprint set (see [[Winnow]]). */
  def winnow(text: Column, k: Int = 8, w: Int = 4): Column =
    GraftBridge.column(Winnow(GraftBridge.expression(text), k, w))

  /** Compiled character-diversity (Gini impurity) signal (see [[CharDiversity]]). */
  def charDiversity(text: Column): Column =
    GraftBridge.column(CharDiversity(GraftBridge.expression(text)))

  /** Compiled deflate compression-ratio signal (see [[CompressRatio]]). */
  def compressRatio(text: Column): Column =
    GraftBridge.column(CompressRatio(GraftBridge.expression(text)))

  /** Compiled per-row BPE segmentation with a trained merge list (see
    * [[BpeEncode]]). The merge table ships as a foldable literal — model
    * state inside the plan, like the codebook expressions.
    */
  def bpeEncode(word: Column, merges: Seq[(String, String)]): Column = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val lit = Literal.create(merges.map(m => Seq(m._1, m._2)),
      ArrayType(ArrayType(StringType, containsNull = false), containsNull = false))
    GraftBridge.column(BpeEncode(GraftBridge.expression(word), lit))
  }

  /** Compiled per-row unigram-LM Viterbi segmentation with a trained
    * (piece, log-prob) table (see [[UnigramEncode]]). The model ships as
    * a foldable literal — model state inside the plan, like [[bpeEncode]].
    */
  def unigramEncode(word: Column, model: Seq[(String, Double)]): Column = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType, StringType, StructField, StructType}
    import org.apache.spark.unsafe.types.UTF8String
    val value = new GenericArrayData(model.map { case (p, lp) =>
      InternalRow(UTF8String.fromString(p), lp)
    }.toArray[Any])
    val litType = ArrayType(StructType(Seq(
      StructField("piece", StringType, nullable = false),
      StructField("logp", DoubleType, nullable = false))), containsNull = false)
    GraftBridge.column(UnigramEncode(GraftBridge.expression(word), Literal(value, litType)))
  }

  /** Compiled char n-gram stream (see [[CharNgrams]]). */
  def charNgrams(text: Column, n: Int): Column =
    GraftBridge.column(CharNgrams(GraftBridge.expression(text), n))

  /** Compiled product-quantization encode (see [[PqEncode]]). */
  def pqEncode(vec: Column, codebooks: Array[Array[Array[Double]]]): Column =
    GraftBridge.column(PqEncode(GraftBridge.expression(vec), codebooks))

  /** Compiled PQ asymmetric-distance approximate cosine (see [[PqAdcScore]]). */
  def pqAdcScore(codes: Column, ipLut: Array[Array[Double]],
                 normSqLut: Array[Array[Double]], qNorm: Double): Column =
    GraftBridge.column(PqAdcScore(GraftBridge.expression(codes), ipLut, normSqLut, qNorm))

  /** Compiled centroid residual r = x − c[centIdx] (see [[SubtractCentroid]]). */
  def subtractCentroid(vec: Column, centIdx: Column,
                       centroids: Array[Array[Double]]): Column =
    GraftBridge.column(SubtractCentroid(
      GraftBridge.expression(vec), GraftBridge.expression(centIdx), centroids))

  /** Compiled residual-IVF-PQ asymmetric cosine (see [[PqResidualScore]]). */
  def pqResidualScore(codes: Column, centIdx: Column,
                      ipLut: Array[Array[Double]], resNormSq: Array[Array[Double]],
                      qCentDot: Array[Double], centNormSq: Array[Double],
                      centCross: Array[Array[Array[Double]]], qNorm: Double): Column =
    GraftBridge.column(PqResidualScore(
      GraftBridge.expression(codes), GraftBridge.expression(centIdx),
      ipLut, resNormSq, qCentDot, centNormSq, centCross, qNorm))

  /** Bloom-filter aggregate over xxhash64'd values (Spark's own runtime-
    * filter machinery, surfaced as a library call): one binary sketch sized
    * by `spark.sql.optimizer.runtime.bloomFilter.expectedNumItems` and
    * `.numBits` regardless of item count — the membership-set shape when
    * the set outgrows a broadcast of its raw values. `hashed` MUST be an
    * xxhash64 column (the aggregate hashes longs).
    */
  def bloomAgg(hashed: Column): Column = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    GraftBridge.column(
      new BloomFilterAggregate(GraftBridge.expression(hashed)).toAggregateExpression())
  }

  /** Membership probe against a [[bloomAgg]] sketch: false positives at the
    * configured rate, NO false negatives — safe as a pre-screen whose
    * survivors an exact join confirms.
    */
  def bloomMightContain(bloom: Column, hashed: Column): Column = {
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    GraftBridge.column(BloomFilterMightContain(
      GraftBridge.expression(bloom), GraftBridge.expression(hashed)))
  }

  /** Order-preserving double→long bit encoding (see [[DoubleSortBits]]). */
  def doubleSortBits(v: Column): Column =
    GraftBridge.column(DoubleSortBits(GraftBridge.expression(v)))

  /** EXACT string-set membership probe against a broadcast, executor-cached
    * hash set (see [[StringSetContains]]): O(1) per row where an
    * `arrays_overlap` confirm against a literal array is O(|set|). The
    * exact side of `Dedup.gramScreen`.
    */
  def stringSetContains(item: Column,
                        set: org.apache.spark.broadcast.Broadcast[Array[Array[Byte]]]): Column =
    GraftBridge.column(StringSetContains(GraftBridge.expression(item), set))
}
