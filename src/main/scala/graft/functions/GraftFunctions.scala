package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, QuaternaryExpression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{BooleanType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.sql.Column
import org.apache.spark.unsafe.types.UTF8String

/** The reference's scalar-function surface that Spark does not ship under
  * the same name/semantics (reference: FlinkSqlOperatorTable.java +
  * SqlFunctionUtils.java, SURVEY.md §2.8).
  *
  * Implementation stance: every gap function is a native Catalyst
  * [[Expression]] with a real `doGenCode` (eval + generated Java both
  * delegate to the [[FnKernels]] static byte kernels), so the whole
  * surface fuses into whole-stage codegen — no ScalaUDF boxing, no
  * per-row regex. `DIV_INT` alone stays a composition because Spark's
  * built-in `div` already has the exact semantics.
  */
object GraftFunctions {

  /** SPLIT_INDEX(s, sep, i): i-th (0-based) field after splitting on the
    * LITERAL separator; NULL when out of range (reference
    * SqlFunctionUtils.splitIndex). Native codegen'd [[SplitIndex]]. */
  def splitIndex(s: Column, sep: String, i: Int): Column =
    Bridge.column(SplitIndex(Bridge.expression(s),
      Bridge.expression(lit(sep)), Bridge.expression(lit(i))))

  /** KEYVALUE(s, pairSep, kvSep, key): value for `key` in a
    * "k1=v1&k2=v2"-style string (reference SqlFunctionUtils.keyValue).
    * Native codegen'd [[KeyValue]]. */
  def keyValue(s: Column, pairSep: String, kvSep: String, key: String): Column =
    Bridge.column(KeyValue(Bridge.expression(s), Bridge.expression(lit(pairSep)),
      Bridge.expression(lit(kvSep)), Bridge.expression(lit(key))))

  /** IS_DECIMAL(s): string parses as a decimal number ([[IsDecimal]]). */
  def isDecimal(s: Column): Column = Bridge.column(IsDecimal(Bridge.expression(s)))

  /** IS_DIGIT(s): non-empty and all ASCII digits ([[IsDigit]]). */
  def isDigit(s: Column): Column = Bridge.column(IsDigit(Bridge.expression(s)))

  /** IS_ALPHA(s): non-empty and all ASCII letters ([[IsAlpha]]). */
  def isAlpha(s: Column): Column = Bridge.column(IsAlpha(Bridge.expression(s)))

  /** DIV_INT(a, b): integral division truncating toward zero. */
  def divInt(a: Column, b: Column): Column = call_function("div", a, b)

  /** HASH_CODE(s): Java String.hashCode of the UTF-16 representation. */
  def hashCode(s: Column): Column =
    Bridge.column(JavaHashCode(Bridge.expression(s)))

  /** TOP_WORD_RUN(s): highest frequency of any space-separated word
    * (native codegen'd [[TopWordRun]] — the Gopher-gate concentration
    * kernel). */
  def topWordRun(s: Column): Column =
    Bridge.column(TopWordRun(Bridge.expression(s)))

  /** SORTED_INTERSECT_SIZE(a, b): count of shared elements between two
    * SORTED long arrays of distinct values — a linear primitive merge
    * with zero allocation, the hot verify kernel of the exact-Jaccard
    * candidate path ([[graft.operators.Dedup]]); `array_intersect` would
    * build a hash set per invocation. Caller contract: both arrays
    * ascending and duplicate-free (sort_array over a distinct relation). */
  def sortedIntersectSize(a: Column, b: Column): Column =
    Bridge.column(SortedIntersectSize(Bridge.expression(a),
      Bridge.expression(b)))

  /** MINHASH_SIG96(hs): the 96-permutation MinHash signature of a long
    * hash array — one linear pass over the array per row, the same
    * permutation bank as [[graft.operators.Dedup.MinHashSig]] (the
    * aggregating form). Lets the signature be DERIVED from a per-doc
    * hash-set relation that the exact-verify join needs anyway, instead
    * of re-aggregating the exploded shingle stream a second time
    * ([[MinHashSig96]]). */
  def minHashSig96(hs: Column): Column =
    Bridge.column(MinHashSig96(Bridge.expression(hs)))

  /** SHINGLE_HASH_SET(text, n): sorted distinct xxhash64 values of the
    * n-word shingles of `text`, hashed in place over the string's bytes
    * ([[ShingleHashSet]]) — the map-only replacement for the
    * explode + window + distinct shingle pipeline wherever the consumer
    * needs hashes, not shingle strings. */
  def shingleHashSet(text: Column, n: Int): Column =
    Bridge.column(ShingleHashSet(Bridge.expression(text), n))

  /** MINHASH_BANDS96(hs, bands): the LSH band-bucket hash vector of a
    * hash set's 96-permutation MinHash signature ([[MinHashBands96]]) —
    * bit-identical to `array(xxhash64(lit(b), sig slice b)...)` over
    * [[minHashSig96]], in one kernel call per row. */
  def minHashBands96(hs: Column, bands: Int): Column =
    Bridge.column(MinHashBands96(Bridge.expression(hs), bands))
}

/** Static kernels invoked from both interpreted eval and generated Java —
  * one implementation per function, shared byte-level logic (a Scala
  * top-level object emits static forwarders the generated code calls as
  * `graft.functions.FnKernels.<name>(...)`). The `is*` predicates are
  * allocation-free byte loops — the reference implements the same checks
  * as char scans in SqlFunctionUtils.java (isDecimal/isDigit/isAlpha),
  * and the pre-round-8 `String.matches` closures recompiled their regex
  * per row. */
object FnKernels {

  /** SPLIT_INDEX: i-th 0-based field on the LITERAL separator, trailing
    * empties kept, null when out of range / negative / empty separator
    * (reference SqlFunctionUtils.splitIndex). `splitSQL` is Spark's
    * literal (non-regex) splitter. */
  def splitIndex(s: UTF8String, sep: UTF8String, i: Int): UTF8String =
    if (i < 0 || sep.numBytes == 0) null
    else {
      val parts = s.splitSQL(sep, -1)
      if (i < parts.length) parts(i) else null
    }

  /** KEYVALUE: value of `key` in a "k1=v1&k2=v2"-style string — the pair
    * whose text before its FIRST kvSep equals `key` (reference
    * SqlFunctionUtils.keyValue). Byte-wise: the first kvSep occurrence
    * must sit exactly at key.numBytes with the key as prefix. */
  def keyValue(s: UTF8String, pairSep: UTF8String, kvSep: UTF8String,
      key: UTF8String): UTF8String = {
    if (pairSep.numBytes == 0 || kvSep.numBytes == 0) return null
    val pairs = s.splitSQL(pairSep, -1)
    var i = 0
    while (i < pairs.length) {
      val p = pairs(i)
      if (p.find(kvSep, 0) == key.numBytes && p.startsWith(key)) {
        val bytes = p.getBytes
        return UTF8String.fromBytes(java.util.Arrays.copyOfRange(
          bytes, key.numBytes + kvSep.numBytes, bytes.length))
      }
      i += 1
    }
    null
  }

  /** IS_DECIMAL: `[+-]? (digits [. digits*] | . digits+)` over ASCII
    * bytes (non-ASCII bytes are negative and fail every range check). */
  def isDecimal(s: UTF8String): Boolean = {
    val n = s.numBytes
    var i = 0
    if (i < n && (s.getByte(i) == '+' || s.getByte(i) == '-')) i += 1
    var intDigits = 0
    while (i < n && s.getByte(i) >= '0' && s.getByte(i) <= '9') { i += 1; intDigits += 1 }
    if (i == n) return intDigits > 0
    if (s.getByte(i) != '.') return false
    i += 1 // consume the dot
    var fracDigits = 0
    while (i < n && s.getByte(i) >= '0' && s.getByte(i) <= '9') { i += 1; fracDigits += 1 }
    i == n && (intDigits > 0 || fracDigits > 0)
  }

  /** IS_DIGIT: non-empty, all ASCII digits. */
  def isDigit(s: UTF8String): Boolean = {
    val n = s.numBytes
    if (n == 0) return false
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      if (b < '0' || b > '9') return false
      i += 1
    }
    true
  }

  private val SpaceSep = UTF8String.fromString(" ")

  /** TOP_WORD_RUN: highest frequency of any space-separated word — the
    * concentration kernel of the Gopher quality gates
    * ([[graft.operators.Scrub.gopherGates]]). Sort-then-max-run over the
    * split array (binary UTF8String order; equal runs = equal counts), so
    * one native call replaces an interpreted array_sort + aggregate
    * lambda fold that costs O(words) boxed lambda invocations per row.
    * Empty text behaves like Spark's `split`: one empty-string word,
    * run 1. */
  def topWordRun(s: UTF8String): Long = {
    val parts = s.splitSQL(SpaceSep, -1)
    java.util.Arrays.sort(parts,
      java.util.Comparator.naturalOrder[UTF8String]())
    var best = 0L
    var run = 0L
    var prev: UTF8String = null
    var i = 0
    while (i < parts.length) {
      val w = parts(i)
      run = if (prev != null && w.equals(prev)) run + 1 else 1L
      if (run > best) best = run
      prev = w
      i += 1
    }
    best
  }

  /** IS_ALPHA: non-empty, all ASCII letters. */
  def isAlpha(s: UTF8String): Boolean = {
    val n = s.numBytes
    if (n == 0) return false
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      if (!((b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z'))) return false
      i += 1
    }
    true
  }

  /** Linear merge-count over two ascending duplicate-free long arrays. */
  def sortedIntersectSize(
      a: org.apache.spark.sql.catalyst.util.ArrayData,
      b: org.apache.spark.sql.catalyst.util.ArrayData): Long = {
    val la = a.numElements(); val lb = b.numElements()
    var i = 0; var j = 0; var n = 0L
    while (i < la && j < lb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { n += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    n
  }

  // The MinHash permutation bank: linear maps mod 2^31-1 over one
  // xxhash64. MUST stay numerically identical to
  // graft.operators.Dedup.MinHashSig (the aggregating twin) — the two
  // forms are interchangeable producers of the same signature.
  private val MinHashP = 2147483647L // 2^31 - 1
  private val MinHashA = Array.tabulate(96)(i => (1234567L * (i + 1)) % MinHashP)
  private val MinHashB = Array.tabulate(96)(i => (987654321L * i) % MinHashP)

  /** Sorted distinct xxhash64 values of the n-word shingles of `s`,
    * computed IN PLACE over the string's bytes — byte-identical to
    * `xxhash64(concat_ws(" ", w_i, ..., w_{i+n-1}))` over the
    * `posexplode(split(s, " ", -1))` word stream, because `split` keeps
    * empty words, so any n consecutive words with their single-space
    * separators are a CONTIGUOUS byte range of the original string (runs
    * of spaces round-trip as empty words). Replaces the
    * explode + window(lead) + distinct shingle pipeline with a map-only
    * kernel: no explode fan-out, no per-doc sort exchange, no distinct
    * shuffle. UTF-8 continuation bytes are >= 0x80, so scanning for the
    * 0x20 separator byte is multi-byte-safe. */
  def shingleHashSet(s: UTF8String, n: Int)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val nb = s.numBytes
    var spaces = 0
    var k = 0
    while (k < nb) {
      if (s.getByte(k) == 0x20) spaces += 1
      k += 1
    }
    val words = spaces + 1
    val m = words - n + 1 // shingle count (windows of n words)
    if (m <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.emptyLongArray)
    // byte offsets: word i spans [starts(i), ends(i))
    val starts = new Array[Int](words)
    val ends = new Array[Int](words)
    var wi = 0
    var st = 0
    k = 0
    while (k < nb) {
      if (s.getByte(k) == 0x20) {
        starts(wi) = st; ends(wi) = k; wi += 1; st = k + 1
      }
      k += 1
    }
    starts(wi) = st; ends(wi) = nb
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val hs = new Array[Long](m)
    var i = 0
    while (i < m) {
      val a = starts(i)
      hs(i) = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(base, off + a, ends(i + n - 1) - a, 42L)
      i += 1
    }
    java.util.Arrays.sort(hs)
    var out = 1
    i = 1
    while (i < m) {
      if (hs(i) != hs(out - 1)) { hs(out) = hs(i); out += 1 }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      if (out == m) hs else java.util.Arrays.copyOf(hs, out))
  }

  /** 96-permutation MinHash signature of a long hash array: for each
    * permutation i, min over elements h of ((h mod P) * A(i) + B(i)) mod P.
    * Operands stay < 2^62, so the Long arithmetic never overflows. */
  def minHashSig96(hs: org.apache.spark.sql.catalyst.util.ArrayData)
      : org.apache.spark.sql.catalyst.util.ArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(minHashSig96Raw(hs))

  private def minHashSig96Raw(
      hs: org.apache.spark.sql.catalyst.util.ArrayData): Array[Long] = {
    val sig = Array.fill(96)(Long.MaxValue)
    val n = hs.numElements()
    var j = 0
    while (j < n) {
      val hp = (hs.getLong(j) % MinHashP + MinHashP) % MinHashP
      var i = 0
      while (i < 96) {
        val v = (hp * MinHashA(i) + MinHashB(i)) % MinHashP
        if (v < sig(i)) sig(i) = v
        i += 1
      }
      j += 1
    }
    sig
  }

  /** The `bands` LSH band-bucket hashes of a hash set's 96-permutation
    * MinHash signature, in ONE kernel call: bucket(b) replicates
    * `xxhash64(lit(b), sig(b*rows+1), ..., sig(b*rows+rows))` — Spark's
    * XxHash64 chains XXH64.hashInt/hashLong over its children starting
    * from seed 42 — so the buckets are bit-identical to the column
    * construction. One call per row replaces a 32-wide array expression
    * whose 96 element_at references each inlined a fresh signature
    * computation after CollapseProject (measured 7x slower). */
  def minHashBands96(hs: org.apache.spark.sql.catalyst.util.ArrayData,
      bands: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val sig = minHashSig96Raw(hs)
    val rows = 96 / bands
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = org.apache.spark.sql.catalyst.expressions.XXH64.hashInt(b, 42L)
      var k = 0
      while (k < rows) {
        h = org.apache.spark.sql.catalyst.expressions.XXH64
          .hashLong(sig(b * rows + k), h)
        k += 1
      }
      out(b) = h
      b += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** SPLIT_INDEX(s, sep, i) as a codegen'd Catalyst expression (reference
  * FlinkSqlOperatorTable SPLIT_INDEX / SqlFunctionUtils.splitIndex).
  * Null-propagating on its inputs; additionally null when the index is
  * out of range, so codegen re-checks the kernel result. */
case class SplitIndex(str: Expression, sep: Expression, idx: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {

  override def first: Expression = str
  override def second: Expression = sep
  override def third: Expression = idx
  override def inputTypes: Seq[DataType] =
    Seq(StringType, StringType, IntegerType)
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "split_index"

  override protected def nullSafeEval(s: Any, p: Any, i: Any): Any =
    FnKernels.splitIndex(s.asInstanceOf[UTF8String],
      p.asInstanceOf[UTF8String], i.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, p, i) =>
      s"""${ev.value} = graft.functions.FnKernels.splitIndex($s, $p, $i);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): SplitIndex =
    copy(str = newFirst, sep = newSecond, idx = newThird)
}

/** KEYVALUE(s, pairSep, kvSep, key) as a codegen'd Catalyst expression
  * (reference FlinkSqlOperatorTable KEYVALUE / SqlFunctionUtils.keyValue).
  * Null-propagating; null when the key is absent. */
case class KeyValue(str: Expression, pairSep: Expression, kvSep: Expression,
    key: Expression) extends QuaternaryExpression with ImplicitCastInputTypes {

  override def first: Expression = str
  override def second: Expression = pairSep
  override def third: Expression = kvSep
  override def fourth: Expression = key
  override def inputTypes: Seq[DataType] =
    Seq(StringType, StringType, StringType, StringType)
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "keyvalue"

  override protected def nullSafeEval(s: Any, ps: Any, ks: Any, k: Any): Any =
    FnKernels.keyValue(s.asInstanceOf[UTF8String], ps.asInstanceOf[UTF8String],
      ks.asInstanceOf[UTF8String], k.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, ps, ks, k) =>
      s"""${ev.value} = graft.functions.FnKernels.keyValue($s, $ps, $ks, $k);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression,
      newFourth: Expression): KeyValue =
    copy(str = newFirst, pairSep = newSecond, kvSep = newThird, key = newFourth)
}

/** Shared shape of the three ASCII-class predicates: STRING → BOOLEAN,
  * null-propagating (the SQL registrations wrap with `coalesce(_, false)`
  * to keep the historical is_decimal(NULL) = false contract), eval and
  * codegen both delegating to the same [[FnKernels]] byte loop. */
abstract class AsciiPredicate extends UnaryExpression with ImplicitCastInputTypes {
  /** FnKernels static method name — the single point both paths call. */
  protected def kernel: String
  protected def test(s: UTF8String): Boolean

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = BooleanType

  override protected def nullSafeEval(input: Any): Any =
    test(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.FnKernels.$kernel($c)")
}

/** IS_DECIMAL(s) (reference SqlFunctionUtils.isDecimal). */
case class IsDecimal(child: Expression) extends AsciiPredicate {
  override protected def kernel: String = "isDecimal"
  override protected def test(s: UTF8String): Boolean = FnKernels.isDecimal(s)
  override def prettyName: String = "is_decimal"
  override protected def withNewChildInternal(newChild: Expression): IsDecimal =
    copy(child = newChild)
}

/** IS_DIGIT(s) (reference SqlFunctionUtils.isDigit). */
case class IsDigit(child: Expression) extends AsciiPredicate {
  override protected def kernel: String = "isDigit"
  override protected def test(s: UTF8String): Boolean = FnKernels.isDigit(s)
  override def prettyName: String = "is_digit"
  override protected def withNewChildInternal(newChild: Expression): IsDigit =
    copy(child = newChild)
}

/** IS_ALPHA(s) (reference SqlFunctionUtils.isAlpha). */
case class IsAlpha(child: Expression) extends AsciiPredicate {
  override protected def kernel: String = "isAlpha"
  override protected def test(s: UTF8String): Boolean = FnKernels.isAlpha(s)
  override def prettyName: String = "is_alpha"
  override protected def withNewChildInternal(newChild: Expression): IsAlpha =
    copy(child = newChild)
}

/** Java `String.hashCode` as a codegen'd Catalyst expression — the
  * reference exposes HASH_CODE(str) (FlinkSqlOperatorTable.java:486) with
  * JVM-hashCode semantics, which no Spark built-in matches (Spark `hash` is
  * Murmur3). Null-safe unary; fuses into whole-stage codegen. */
case class JavaHashCode(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"hash_code requires STRING, got ${child.dataType.catalogString}")
  override def dataType: DataType = IntegerType
  override def prettyName: String = "hash_code"

  override protected def nullSafeEval(input: Any): Any =
    input.asInstanceOf[UTF8String].toString.hashCode

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"($c).toString().hashCode()")

  override protected def withNewChildInternal(newChild: Expression): JavaHashCode =
    copy(child = newChild)
}

/** TOP_WORD_RUN(s): highest frequency of any space-separated word, as a
  * codegen'd Catalyst expression (kernel: [[FnKernels.topWordRun]]) — the
  * per-row concentration signal of the Gopher gates, promoted from an
  * interpreted higher-order fold for the same reason the r8 gap functions
  * were: on a 100 TB text column the boxed per-element lambda is the hot
  * path. Null-propagating; STRING → BIGINT. */
case class TopWordRun(child: Expression) extends UnaryExpression
    with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "top_word_run"

  override protected def nullSafeEval(input: Any): Any =
    FnKernels.topWordRun(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.FnKernels.topWordRun($c)")

  override protected def withNewChildInternal(newChild: Expression): TopWordRun =
    copy(child = newChild)
}


/** Intersection cardinality of two SORTED duplicate-free long arrays as a
  * codegen'd Catalyst expression — the exact-Jaccard verify kernel
  * ([[graft.operators.Dedup]] prefix-filter path): a linear primitive
  * merge, no per-invocation hash set, fused into whole-stage codegen. */
case class SortedIntersectSize(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] =
    Seq(org.apache.spark.sql.types.ArrayType(LongType),
      org.apache.spark.sql.types.ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "sorted_intersect_size"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    FnKernels.sortedIntersectSize(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.FnKernels.sortedIntersectSize($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): SortedIntersectSize =
    copy(left = newLeft, right = newRight)
}

/** 96-permutation MinHash signature of a long hash array as a codegen'd
  * Catalyst expression (kernel: [[FnKernels.minHashSig96]]) — the
  * per-row twin of [[graft.operators.Dedup.MinHashSig]]. Exists so the
  * LSH signature can be computed FROM the per-doc sorted hash-set
  * relation the exact-Jaccard verify join already aggregates, collapsing
  * the signature pipeline's second scan+shuffle of the shingle stream. */
case class MinHashSig96(child: Expression) extends UnaryExpression
    with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] =
    Seq(org.apache.spark.sql.types.ArrayType(LongType))
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig96"

  override protected def nullSafeEval(a: Any): Any =
    FnKernels.minHashSig96(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.FnKernels.minHashSig96($a);")

  override protected def withNewChildInternal(newChild: Expression): MinHashSig96 =
    copy(child = newChild)
}

/** Sorted distinct xxhash64 set of the n-word shingles of a string as a
  * codegen'd Catalyst expression (kernel: [[FnKernels.shingleHashSet]]).
  * Bit-identical to hashing the concat_ws-built shingle strings — see
  * the kernel's contiguity argument — while staying map-only. */
case class ShingleHashSet(child: Expression, n: Int) extends UnaryExpression
    with ImplicitCastInputTypes {

  require(n >= 1, s"shingle width must be >= 1, got $n")

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hash_set"

  override protected def nullSafeEval(s: Any): Any =
    FnKernels.shingleHashSet(s.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.FnKernels.shingleHashSet($s, $n);")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashSet =
    copy(child = newChild)
}

/** LSH band-bucket hashes over the 96-permutation MinHash signature as a
  * codegen'd Catalyst expression (kernel: [[FnKernels.minHashBands96]]). */
case class MinHashBands96(child: Expression, bands: Int) extends UnaryExpression
    with ImplicitCastInputTypes {

  require(bands >= 1 && bands <= 96 && 96 % bands == 0,
    s"bands must divide the 96-hash signature, got $bands")

  override def inputTypes: Seq[DataType] =
    Seq(org.apache.spark.sql.types.ArrayType(LongType))
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_bands96"

  override protected def nullSafeEval(a: Any): Any =
    FnKernels.minHashBands96(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], bands)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.FnKernels.minHashBands96($a, $bands);")

  override protected def withNewChildInternal(newChild: Expression): MinHashBands96 =
    copy(child = newChild)
}
