package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.{GraftColumnShim => ExpressionUtils}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the dedup/similarity hot paths.
  *
  * Spark's higher-order functions (`transform`/`aggregate`/`zip_with`)
  * evaluate their lambdas interpreted, one virtual call per element —
  * measured here at ~18 s for SimHash over sf0.1 (64 lambda evals per
  * shingle). These expressions generate tight Java loops instead
  * (`doGenCode`), participating in whole-stage codegen: the same work
  * runs in ~100 ms. Per the engine design rules, a native Expression
  * with codegen is the preferred extension point when builtins can't
  * express the computation efficiently (SURVEY §3).
  */
object HashExpressions {

  /** array<string> shingles → array<long> MinHash signature. */
  def minhashSig(shingles: Column, numHashes: Int = 64, seed: Long = 42L): Column =
    ExpressionUtils.column(MinHashSignature(ExpressionUtils.expression(shingles), numHashes, seed))

  /** array<string> shingles → 64-bit SimHash. */
  def simhash64(shingles: Column, seed: Long = 42L): Column =
    ExpressionUtils.column(SimHash64(ExpressionUtils.expression(shingles), seed))

  /** dot product of two equal-length array<double> columns. */
  def dotProduct(a: Column, b: Column): Column =
    ExpressionUtils.column(DotProduct(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** first `nHex` hex digits of sha256(s) as an unsigned long — equals
    * `CAST(conv(substring(sha2(s,256),1,nHex),16,10) AS BIGINT)` without
    * materializing the 64-char hex string per row.
    */
  def sha256PrefixLong(s: Column, nHex: Int): Column =
    ExpressionUtils.column(Sha256PrefixLong(ExpressionUtils.expression(s), nHex))

  /** Bloom filter aggregate over a LONG key column (Spark's internal
    * runtime-filter machinery, exposed as a first-class function: these
    * classes are public but not in the SQL registry). The aggregation
    * state is an O(numBits) sketch — mergeable map-side like any partial
    * aggregate, never a driver-side collection.
    */
  def bloomFilterAgg(key: Column, expectedItems: Long, numBits: Long): Column =
    ExpressionUtils.column(
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        ExpressionUtils.expression(key),
        org.apache.spark.sql.catalyst.expressions.Literal(expectedItems),
        org.apache.spark.sql.catalyst.expressions.Literal(numBits)).toAggregateExpression())

  /** Codegen'd membership probe against a bloom filter binary column. */
  def mightContain(bloom: Column, key: Column): Column =
    ExpressionUtils.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        ExpressionUtils.expression(bloom), ExpressionUtils.expression(key)))

  /** array<string> shingles → oracle-exact MinHash signature (sha base
    * hash + OracleHashConstants arithmetic) in one narrow codegen pass.
    */
  def shaMinHash(shingles: Column, numHashes: Int): Column =
    ExpressionUtils.column(ShaMinHash(ExpressionUtils.expression(shingles), numHashes))

  /** array<string> shingles → oracle-exact SimHash (sha base hash,
    * per-bit majority vote) in one narrow codegen pass.
    */
  def shaSimHash(shingles: Column, bits: Int): Column =
    ExpressionUtils.column(ShaSimHash(ExpressionUtils.expression(shingles), bits))

  /** array<string> tokens → array<struct<bigram,cnt>> of the row's
    * DISTINCT adjacent-pair bigrams with occurrence counts, in one
    * generated loop (first-occurrence order; empty for <2 tokens).
    */
  def bigramCounts(tokens: Column): Column =
    ExpressionUtils.column(BigramCounts(ExpressionUtils.expression(tokens)))

  /** string text → array<string> of its distinct 2-word shingles in
    * first-occurrence order, in one generated loop ([[Shingles]]).
    */
  def shingles(text: Column): Column =
    ExpressionUtils.column(Shingles(ExpressionUtils.expression(text)))

  /** array<float|double> → L2-normalized array<double> in one generated
    * two-pass loop (sum of squares, then divide). Replaces the
    * cast-transform + aggregate + divide-transform HOF chain, which the
    * optimizer collapses into a single transform whose lambda re-runs
    * the full sum-of-squares fold PER ELEMENT (O(d²) per row,
    * interpreted — HOFs never enter whole-stage codegen).
    */
  def l2Normalize(vec: Column): Column =
    ExpressionUtils.column(L2Normalize(ExpressionUtils.expression(vec)))

}

/** The engine-independent signature arithmetic shared by the Spark
  * expressions AND the generated DuckDB oracle SQL (graft.ops.Dedup):
  * one definition, two engines, bit-identical results.
  */
object OracleHashConstants {
  val Prime = 4294967311L // smallest prime > 2^32
  def minhashA(k: Int): Long = 2L * (((k + 1) * 2654435761L) % 1000003L) + 1
  def minhashB(k: Int): Long = ((k + 1) * 40503L) % 1000003L
}

/** Digest helper behind [[Sha256PrefixLong]] (thread-local digest:
  * MessageDigest is not thread-safe and codegen shares the classloader).
  */
object GraftSha {
  private val tl = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("SHA-256")
  }
  def prefixLong(s: UTF8String, nHex: Int): Long = {
    val md = tl.get()
    md.reset()
    val d = md.digest(s.getBytes)
    var v = 0L
    var i = 0
    val full = nHex / 2
    while (i < full) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    if ((nHex & 1) == 1) v = (v << 4) | ((d(full) & 0xf0L) >> 4)
    v
  }
}

/** sha256 prefix as unsigned long (≤ 15 hex digits so it fits a signed
  * 64-bit value in every engine): the engine-independent base hash of
  * the oracle-checked dedup pipelines (d2/d3). Cross-engine equivalent:
  * DuckDB `('0x' || substr(sha256(s), 1, n))::BIGINT`.
  */
case class Sha256PrefixLong(child: Expression, nHex: Int) extends UnaryExpression {
  require(nHex >= 1 && nHex <= 15, "nHex must be in [1, 15] to fit a signed long")

  override def dataType: DataType = LongType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"sha256_prefix requires string, got ${other.simpleString}")
    }

  override protected def nullSafeEval(input: Any): Any =
    GraftSha.prefixLong(input.asInstanceOf[UTF8String], nHex)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GraftSha.prefixLong($c, $nHex)")

  override protected def withNewChildInternal(newChild: Expression): Sha256PrefixLong =
    copy(child = newChild)
}

/** Oracle-exact MinHash: per shingle the 32-bit sha256 prefix, then k
  * affine slot-hashes mod OracleHashConstants.Prime, running minima —
  * the same arithmetic the DuckDB oracle executes, in one generated
  * loop per row (narrow: no explode, no shuffle, no aggregation).
  */
case class ShaMinHash(child: Expression, numHashes: Int) extends UnaryExpression {
  @transient private lazy val permA: Array[Long] =
    Array.tabulate(numHashes)(OracleHashConstants.minhashA)
  @transient private lazy val permB: Array[Long] =
    Array.tabulate(numHashes)(OracleHashConstants.minhashB)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"sha_minhash requires array<string>, got ${other.simpleString}")
    }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        val h = GraftSha.prefixLong(arr.getUTF8String(i), 8)
        var j = 0
        while (j < numHashes) {
          val v = (permA(j) * h + permB(j)) % OracleHashConstants.Prime
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("shaMinhashA", permA, "long[]")
    val bRef = ctx.addReferenceObj("shaMinhashB", permB, "long[]")
    nullSafeCodeGen(ctx, ev, c => {
      val mins = ctx.freshName("mins")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      val v = ctx.freshName("v")
      s"""
         |long[] $mins = new long[$numHashes];
         |java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |for (int $i = 0; $i < $c.numElements(); $i++) {
         |  if (!$c.isNullAt($i)) {
         |    long $h = graft.functions.GraftSha.prefixLong($c.getUTF8String($i), 8);
         |    for (int $j = 0; $j < $numHashes; $j++) {
         |      long $v = ($aRef[$j] * $h + $bRef[$j]) % ${OracleHashConstants.Prime}L;
         |      if ($v < $mins[$j]) $mins[$j] = $v;
         |    }
         |  }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray($mins);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): ShaMinHash =
    copy(child = newChild)
}

/** Oracle-exact SimHash: per shingle the 60-bit sha256 prefix, signed
  * per-bit votes, sign of each vote becomes the output bit. Narrow
  * generated loop; bit-identical to the DuckDB oracle.
  */
case class ShaSimHash(child: Expression, bits: Int) extends UnaryExpression {
  require(bits >= 1 && bits <= 60, "bits must be in [1, 60]")

  override def dataType: DataType = LongType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"sha_simhash requires array<string>, got ${other.simpleString}")
    }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val votes = new Array[Long](bits)
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        val h = GraftSha.prefixLong(arr.getUTF8String(i), 15)
        var b = 0
        while (b < bits) { votes(b) += ((h >> b) & 1L) * 2L - 1L; b += 1 }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < bits) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val votes = ctx.freshName("votes")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val h = ctx.freshName("h")
      s"""
         |long[] $votes = new long[$bits];
         |for (int $i = 0; $i < $c.numElements(); $i++) {
         |  if (!$c.isNullAt($i)) {
         |    long $h = graft.functions.GraftSha.prefixLong($c.getUTF8String($i), 15);
         |    for (int $b = 0; $b < $bits; $b++) {
         |      $votes[$b] += (($h >> $b) & 1L) * 2L - 1L;
         |    }
         |  }
         |}
         |${ev.value} = 0L;
         |for (int $b = 0; $b < $bits; $b++) {
         |  if ($votes[$b] > 0) ${ev.value} |= (1L << $b);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): ShaSimHash =
    copy(child = newChild)
}

/** MinHash signature: per element one xxhash64 folded to 32 bits, then k
  * universal-hash permutations (a·h+b) mod p with p = 4294967311 (prime
  * > 2^32) — the modulus is what makes the k orderings independent (a
  * plain affine map is monotonic in h and every slot would pick the same
  * element). Multipliers stay < 2^31 so a·h+b < 2^63 never overflows.
  * One pass over the array, k multiply-add-mods per element, all in
  * generated code.
  */
case class MinHashSignature(child: Expression, numHashes: Int, seed: Long)
    extends UnaryExpression {

  private final val Prime = 4294967311L

  // Deterministic permutation parameters; 31-bit so a*h32+b < 2^63.
  @transient private lazy val (permA: Array[Long], permB: Array[Long]) = {
    val rng = new scala.util.Random(seed)
    val a = Array.fill(numHashes)(rng.nextInt(Int.MaxValue).toLong | 1L)
    val b = Array.fill(numHashes)(rng.nextInt(Int.MaxValue).toLong)
    (a, b)
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"minhash_sig requires array<string>, got ${other.simpleString}")
    }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        val h = XXH64.hashUTF8String(arr.getUTF8String(i), seed) & 4294967295L
        var j = 0
        while (j < numHashes) {
          val v = (h * permA(j) + permB(j)) % Prime
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("minhashA", permA, "long[]")
    val bRef = ctx.addReferenceObj("minhashB", permB, "long[]")
    nullSafeCodeGen(ctx, ev, c => {
      val mins = ctx.freshName("mins")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      val v = ctx.freshName("v")
      s"""
         |long[] $mins = new long[$numHashes];
         |java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |for (int $i = 0; $i < $c.numElements(); $i++) {
         |  if (!$c.isNullAt($i)) {
         |    long $h = org.apache.spark.sql.catalyst.expressions.XXH64
         |      .hashUTF8String($c.getUTF8String($i), ${seed}L) & 4294967295L;
         |    for (int $j = 0; $j < $numHashes; $j++) {
         |      long $v = ($h * $aRef[$j] + $bRef[$j]) % ${Prime}L;
         |      if ($v < $mins[$j]) $mins[$j] = $v;
         |    }
         |  }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray($mins);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

/** 64-bit SimHash: per element one hash, 64 signed bit-counter updates;
  * sign of each counter becomes the output bit.
  */
case class SimHash64(child: Expression, seed: Long) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"simhash64 requires array<string>, got ${other.simpleString}")
    }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val cnt = new Array[Int](64)
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        val h = XXH64.hashUTF8String(arr.getUTF8String(i), seed)
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) cnt(j) += 1 else cnt(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) { if (cnt(j) > 0) out |= (1L << j); j += 1 }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val cnt = ctx.freshName("cnt")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      s"""
         |int[] $cnt = new int[64];
         |for (int $i = 0; $i < $c.numElements(); $i++) {
         |  if (!$c.isNullAt($i)) {
         |    long $h = org.apache.spark.sql.catalyst.expressions.XXH64
         |      .hashUTF8String($c.getUTF8String($i), ${seed}L);
         |    for (int $j = 0; $j < 64; $j++) {
         |      if ((($h >>> $j) & 1L) == 1L) $cnt[$j]++; else $cnt[$j]--;
         |    }
         |  }
         |}
         |${ev.value} = 0L;
         |for (int $j = 0; $j < 64; $j++) {
         |  if ($cnt[$j] > 0) ${ev.value} |= (1L << $j);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** Exact dot product over two array<double> columns (embedding math). */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"dot_product requires (array<double>, array<double>), got $other")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |${ev.value} = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  ${ev.value} += $a.getDouble($i) * $b.getDouble($i);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)
}

/** Loop helper behind [[L2Normalize]] (shared by eval and codegen). */
object GraftVec {

  /** L2-normalize in the exact IEEE order of the HOF chain it replaces:
    * cast each element to double, sequential in-order sum-of-squares
    * fold, then per-element divide by the sqrt. A null element matches
    * the fold's null-poisoning (`acc + null = null` → every quotient
    * null): the output is an all-null array of the input length.
    */
  def l2normalize(a: ArrayData, isFloat: Boolean): ArrayData = {
    val n = a.numElements()
    var ss = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i))
        return new org.apache.spark.sql.catalyst.util.GenericArrayData(new Array[Any](n))
      val v = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
      ss += v * v
      i += 1
    }
    val norm = math.sqrt(ss)
    val out = new Array[Any](n)
    i = 0
    while (i < n) {
      val v = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
      out(i) = v / norm
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** One-pass codegen'd L2 normalization of an embedding column — see
  * [[HashExpressions.l2Normalize]] for why this beats the HOF chain.
  */
case class L2Normalize(child: Expression) extends UnaryExpression {

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"l2_normalize requires array<float> or array<double>, got ${other.simpleString}")
    }

  override protected def nullSafeEval(input: Any): Any =
    GraftVec.l2normalize(input.asInstanceOf[ArrayData], isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GraftVec.l2normalize($c, $isFloat)")

  override protected def withNewChildInternal(newChild: Expression): L2Normalize =
    copy(child = newChild)
}

/** Loop helper behind [[BigramCounts]] (shared by eval and codegen). */
object GraftBigrams {
  private val Space = UTF8String.fromString(" ")

  /** Distinct adjacent-pair bigrams of a token array with counts, in
    * first-occurrence order. Null tokens are skipped (neither pair they
    * would participate in is emitted); <2 usable tokens → empty array.
    */
  def bigramCounts(toks: ArrayData): ArrayData = {
    val n = toks.numElements()
    val m = new java.util.LinkedHashMap[UTF8String, Array[Long]]()
    var i = 0
    while (i < n - 1) {
      if (!toks.isNullAt(i) && !toks.isNullAt(i + 1)) {
        val bg = UTF8String.concat(toks.getUTF8String(i), Space, toks.getUTF8String(i + 1))
        val slot = m.get(bg)
        if (slot == null) m.put(bg, Array(1L)) else slot(0) += 1L
      }
      i += 1
    }
    val rows = new Array[Any](m.size)
    var j = 0
    val it = m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      rows(j) = org.apache.spark.sql.catalyst.InternalRow(e.getKey, e.getValue()(0))
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
  }
}

/** Per-row distinct-bigram counting (t16's LM front end): replaces a
  * 4-stage higher-order-function chain (transform → array_sort → filter
  * → transform, each lambda interpreted per element) with one generated
  * hash-map loop — the pair stream leaves the scan already collapsed to
  * distinct (bigram, cnt) per document, and no shuffle ever carries raw
  * occurrences.
  */
case class BigramCounts(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("bigram", StringType, nullable = false),
      StructField("cnt", LongType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"bigram_counts requires array<string>, got ${other.simpleString}")
    }

  override protected def nullSafeEval(input: Any): Any =
    GraftBigrams.bigramCounts(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GraftBigrams.bigramCounts($c)")

  override protected def withNewChildInternal(newChild: Expression): BigramCounts =
    copy(child = newChild)
}

/** Loop helper behind [[Shingles]] (shared by eval and codegen). */
object GraftShingles {
  private val Space = UTF8String.fromString(" ")
  private val SpaceByte = ' '.toByte

  /** The distinct 2-word shingles of `text` in first-occurrence order:
    * tokens are the non-empty runs between ' ' characters (a space byte
    * never occurs inside a multi-byte UTF-8 character), each shingle is
    * two adjacent tokens joined by ' '. Under 2 tokens the one shingle is
    * the tokens joined by ' ' (`""` for none), and null text has no
    * tokens.
    */
  def bigrams(text: UTF8String): ArrayData = {
    val toks = new java.util.ArrayList[UTF8String]()
    if (text != null) {
      val b = text.getBytes
      var start = 0
      var i = 0
      while (i <= b.length) {
        if (i == b.length || b(i) == SpaceByte) {
          if (i > start) toks.add(UTF8String.fromBytes(b, start, i - start))
          start = i + 1
        }
        i += 1
      }
    }
    if (toks.size < 2) {
      val one = if (toks.isEmpty) UTF8String.EMPTY_UTF8 else toks.get(0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array[Any](one))
    }
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var j = 0
    while (j < toks.size - 1) {
      seen.add(UTF8String.concat(toks.get(j), Space, toks.get(j + 1)))
      j += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** text → distinct 2-word shingles (the dedup family's document
  * representation, [[GraftShingles.bigrams]]) in one generated loop.
  * Equals `array_distinct(CASE WHEN size(toks) >= 2 THEN transform(
  * sequence(0, size(toks) - 2), i -> concat_ws(' ', toks[i], toks[i+1]))
  * ELSE array(concat_ws(' ', toks)) END)` over `toks = filter(split(text,
  * ' '), x -> x != '')`, null text included (`[""]`: `size(null)` is
  * null, so that form takes the ELSE branch), without the interpreted
  * lambdas that keep the scan stage out of whole-stage codegen.
  */
case class Shingles(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"shingles requires string, got ${other.simpleString}")
    }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    GraftShingles.bigrams(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |ArrayData ${ev.value} =
      |  graft.functions.GraftShingles.bigrams(${c.isNull} ? null : ${c.value});
      """.stripMargin,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Shingles =
    copy(child = newChild)
}
