package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, BinaryExpression, UnsafeArrayData, XxHash64Function}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.call_function

/** Native Catalyst expressions for the hot text/vector loops (SURVEY §7.2:
  * "a custom Expression beats a Scala UDF beats anything else").
  *
  * The SQL higher-order-function formulations of these operators are
  * interpreted per element (LambdaFunction has no codegen and no common-
  * subexpression elimination), which made the per-row O(tokens × hashes)
  * loops allocation- and interpreter-bound. Each expression below runs the
  * same loop as tight JIT-compiled Scala over Spark's internal UTF8String /
  * ArrayData — one virtual call per row, zero boxing per element.
  *
  * Hash function: Spark's own XxHash64Function (the engine behind SQL
  * `xxhash64(...)`, seed 42), so values are identical to the SQL formulation.
  */
object TextHashes {

  private val XxSeed = 42L

  def hashToken(s: UTF8String): Long = XxHash64Function.hash(s, StringType, XxSeed)

  /** 3-token shingles, distinct, as one pass over the token array. */
  case class Shingles3(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    def evalArray(toks: ArrayData): ArrayData =
      nullSafeEval(toks).asInstanceOf[ArrayData]
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val self = ctx.addReferenceObj("shingles3", this, classOf[Shingles3].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.evalArray($c);")
    }
    override def nullSafeEval(input: Any): Any = {
      val toks = input.asInstanceOf[ArrayData]
      val n = toks.numElements()
      if (n < 3) return new GenericArrayData(Array.empty[Any])
      val seen = new java.util.LinkedHashSet[UTF8String](n - 2)
      var i = 0
      while (i <= n - 3) {
        seen.add(UTF8String.concatWs(UTF8String.fromString(" "),
          toks.getUTF8String(i), toks.getUTF8String(i + 1),
          toks.getUTF8String(i + 2)))
        i += 1
      }
      new GenericArrayData(seen.toArray.asInstanceOf[Array[AnyRef]])
    }
    override protected def withNewChildInternal(c: Expression): Shingles3 = copy(c)
  }

  /** 3-token shingles of a text split on single spaces, distinct in
    * first-occurrence order: the same array as `Shingles3(split(text, ' '))`.
    * Tokens split on single spaces and re-joined by single spaces are the
    * original bytes, so every shingle is one slice of the text's bytes and
    * no token or shingle is copied. The bytes are taken once per row with
    * `getBytes`, which copies unless the string owns its whole array, so no
    * slice aliases a buffer the input row may reuse. Invalid UTF-8 is
    * decoded and re-encoded first, as `split` does through `toString`.
    */
  case class Shingles3OfText(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    def evalArray(text: UTF8String): ArrayData =
      nullSafeEval(text).asInstanceOf[ArrayData]
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val self = ctx.addReferenceObj("shingles3Text", this,
        classOf[Shingles3OfText].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.evalArray($c);")
    }
    override def nullSafeEval(input: Any): Any = {
      val text = input.asInstanceOf[UTF8String]
      val bytes =
        if (text.isValid) text.getBytes
        else text.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var spaces = 0
      var p = 0
      while (p < bytes.length) { if (bytes(p) == ' ') spaces += 1; p += 1 }
      val n = spaces + 1 // tokens
      if (n < 3) return new GenericArrayData(Array.empty[Any])
      // starts(t) is token t's first byte; token t ends at starts(t + 1) - 1
      val starts = new Array[Int](n + 1)
      starts(n) = bytes.length + 1
      var t = 1
      p = 0
      while (p < bytes.length) {
        if (bytes(p) == ' ') { starts(t) = p + 1; t += 1 }
        p += 1
      }
      val seen = new java.util.HashSet[UTF8String](2 * n)
      val out = new Array[Any](n - 2)
      var m = 0
      var i = 0
      while (i <= n - 3) {
        val sh = UTF8String.fromBytes(bytes, starts(i), starts(i + 3) - 1 - starts(i))
        if (seen.add(sh)) { out(m) = sh; m += 1 }
        i += 1
      }
      new GenericArrayData(if (m == out.length) out else out.take(m))
    }
    override protected def withNewChildInternal(c: Expression): Shingles3OfText = copy(c)
  }

  /** Minima over shingles of (a_j·h + b_j) mod p, j < as.length, where h is
    * the shingle's xxhash64 mod p: the one loop behind [[MinHashSig]] and
    * [[MinHashBands]].
    */
  private def minima(sh: ArrayData, as: Array[Long], bs: Array[Long],
                     prime: Long): Array[Long] = {
    val n = sh.numElements()
    val k = as.length
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = java.lang.Math.floorMod(hashToken(sh.getUTF8String(i)), prime)
      var j = 0
      while (j < k) {
        val v = java.lang.Math.floorMod(as(j) * h + bs(j), prime)
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    mins
  }

  /** MinHash signature: min over shingles of (a_j·h + b_j) mod p, j < k. */
  case class MinHashSig(child: Expression, as: Array[Long], bs: Array[Long],
                        prime: Long)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    def evalArray(sh: ArrayData): ArrayData =
      nullSafeEval(sh).asInstanceOf[ArrayData]
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val self = ctx.addReferenceObj("minhash", this, classOf[MinHashSig].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.evalArray($c);")
    }
    override def nullSafeEval(input: Any): Any =
      UnsafeArrayData.fromPrimitiveArray(
        minima(input.asInstanceOf[ArrayData], as, bs, prime))
    override protected def withNewChildInternal(c: Expression): MinHashSig = copy(child = c)
  }

  /** LSH band keys of a shingle array: the MinHash minima cut into `bands`
    * bands of as.length / bands rows, each band keyed by xxhash64 (seed 42)
    * of its minima as comma-joined decimals, i.e.
    * `xxhash64(concat_ws(',', sig[i], ..., sig[i + rows - 1]))`.
    */
  case class MinHashBands(child: Expression, as: Array[Long], bs: Array[Long],
                          prime: Long, bands: Int)
      extends UnaryExpression {
    private val rows = as.length / bands
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    def evalArray(sh: ArrayData): ArrayData =
      nullSafeEval(sh).asInstanceOf[ArrayData]
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val self = ctx.addReferenceObj("minhashBands", this, classOf[MinHashBands].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.evalArray($c);")
    }
    override def nullSafeEval(input: Any): Any = {
      val mins = minima(input.asInstanceOf[ArrayData], as, bs, prime)
      val buf = new Array[Byte](rows * 21) // ≤ 19 digits and a comma each
      val keys = new Array[Long](bands)
      var b = 0
      while (b < bands) {
        var len = 0
        var r = 0
        while (r < rows) {
          if (r > 0) { buf(len) = ','; len += 1 }
          len = putDecimal(mins(b * rows + r), buf, len)
          r += 1
        }
        keys(b) = hashToken(UTF8String.fromBytes(buf, 0, len))
        b += 1
      }
      UnsafeArrayData.fromPrimitiveArray(keys)
    }
    override protected def withNewChildInternal(c: Expression): MinHashBands =
      copy(child = c)
  }

  /** Writes non-negative `v` in decimal at `buf(at)`, returns the end. */
  private def putDecimal(v: Long, buf: Array[Byte], at: Int): Int = {
    var digits = 1
    var x = v / 10
    while (x > 0) { digits += 1; x /= 10 }
    x = v
    var p = at + digits - 1
    while (p >= at) { buf(p) = ('0' + x % 10).toByte; x /= 10; p -= 1 }
    at + digits
  }

  /** Number of distinct elements two string arrays share:
    * `size(array_intersect(a, b))` without building the intersection.
    */
  case class IntersectSize(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = IntegerType
    def evalInt(a: ArrayData, b: ArrayData): Int =
      nullSafeEval(a, b).asInstanceOf[java.lang.Integer].intValue()
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val self = ctx.addReferenceObj("intersectSize", this, classOf[IntersectSize].getName)
      nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $self.evalInt($a, $b);")
    }
    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData]
      val b = r.asInstanceOf[ArrayData]
      val inB = new java.util.HashSet[UTF8String](2 * b.numElements())
      var bNull = false
      var i = 0
      while (i < b.numElements()) {
        if (b.isNullAt(i)) bNull = true else inB.add(b.getUTF8String(i))
        i += 1
      }
      // removing a match counts each shared value once, as the set
      // semantics of array_intersect do
      var common = 0
      i = 0
      while (i < a.numElements()) {
        if (a.isNullAt(i)) { if (bNull) { common += 1; bNull = false } }
        else if (inB.remove(a.getUTF8String(i))) common += 1
        i += 1
      }
      java.lang.Integer.valueOf(common)
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression)
        : IntersectSize = copy(left = l, right = r)
  }

  /** 64-bit SimHash of a token array: per-bit signed vote of token hashes. */
  case class SimHash64(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    def evalLong(toks: ArrayData): Long =
      nullSafeEval(toks).asInstanceOf[java.lang.Long].longValue()
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val self = ctx.addReferenceObj("simhash", this, classOf[SimHash64].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.evalLong($c);")
    }
    override def nullSafeEval(input: Any): Any = {
      val toks = input.asInstanceOf[ArrayData]
      val n = toks.numElements()
      val votes = new Array[Int](64)
      var i = 0
      while (i < n) {
        val h = hashToken(toks.getUTF8String(i))
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
        i += 1
      }
      var sim = 0L
      var b = 0
      while (b < 64) { if (votes(b) > 0) sim |= (1L << b); b += 1 }
      java.lang.Long.valueOf(sim)
    }
    override protected def withNewChildInternal(c: Expression): SimHash64 = copy(c)
  }

  /** 64-bit SimHash over md5-derived token bits — the PORTABLE hash family.
    *
    * Same per-bit signed-vote algorithm as [[SimHash64]], but the 64 vote
    * bits per token come from the first 8 bytes of `md5(token)` (two big-
    * endian 32-bit halves: bits 0–31 from hex chars 1–8, bits 32–63 from hex
    * chars 9–16). md5 is computed identically by every engine, so a DuckDB
    * oracle can rebuild the signature bit-for-bit with
    * `('0x' || substr(md5(t), 1, 8))::BIGINT` — which is what turns the
    * declared `q_dedup_simhash` gate from rows-only into hash-matched.
    * [[SimHash64]] (xxhash64 family) remains registered for hot paths where
    * oracle portability is not needed; the banding/verify structure above
    * both is identical.
    */
  case class SimHashMd5(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    def evalLong(toks: ArrayData): Long =
      nullSafeEval(toks).asInstanceOf[java.lang.Long].longValue()
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val self = ctx.addReferenceObj("simhashMd5", this, classOf[SimHashMd5].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.evalLong($c);")
    }
    override def nullSafeEval(input: Any): Any = {
      val toks = input.asInstanceOf[ArrayData]
      val n = toks.numElements()
      val votes = new Array[Int](64)
      val md = TextHashes.md5Digest.get()
      var i = 0
      while (i < n) {
        md.reset()
        val d = md.digest(toks.getUTF8String(i).getBytes)
        val h1 = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
          ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
        val h2 = ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
          ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
        var b = 0
        while (b < 32) {
          if (((h1 >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          if (((h2 >>> b) & 1L) == 1L) votes(b + 32) += 1 else votes(b + 32) -= 1
          b += 1
        }
        i += 1
      }
      var sim = 0L
      var b = 0
      while (b < 64) { if (votes(b) > 0) sim |= (1L << b); b += 1 }
      java.lang.Long.valueOf(sim)
    }
    override protected def withNewChildInternal(c: Expression): SimHashMd5 = copy(c)
  }

  /** Per-thread MD5 instance — MessageDigest is stateful and not thread-safe,
    * and tasks in local mode share the JVM.
    */
  private[expressions] val md5Digest =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  /** Sequential-fold dot product of two double arrays — the identical
    * index-order left fold the DuckDB oracle computes (`list_reduce` over
    * `list_zip`), so results stay bit-identical across engines while running
    * ~10× faster than the interpreted `aggregate(zip_with(...))` form.
    */
  case class VecDot(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    def evalDouble(a: ArrayData, b: ArrayData): Double =
      nullSafeEval(a, b).asInstanceOf[java.lang.Double].doubleValue()
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val self = ctx.addReferenceObj("vecdot", this, classOf[VecDot].getName)
      nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $self.evalDouble($a, $b);")
    }
    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData]
      val b = r.asInstanceOf[ArrayData]
      val n = math.min(a.numElements(), b.numElements())
      var acc = 0.0
      var i = 0
      while (i < n) { acc += a.getDouble(i) * b.getDouble(i); i += 1 }
      java.lang.Double.valueOf(acc)
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): VecDot =
      copy(left = l, right = r)
  }

  /** Registers the expressions in the session's FunctionRegistry (the public
    * extension point — Column construction from a raw Expression is sealed in
    * Spark 4). Idempotent; callers invoke once per query build.
    * `minhashAs`/`minhashBs`/`minhashPrime` parameterize `graft_minhash`
    * and `graft_minhash_bands`, which cuts the minima into `minhashBands`
    * bands.
    */
  def register(spark: SparkSession, minhashAs: Array[Long],
               minhashBs: Array[Long], minhashPrime: Long,
               minhashBands: Int): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("graft_shingles3",
      es => Shingles3(es.head), "built-in")
    reg.createOrReplaceTempFunction("graft_shingles3_text",
      es => Shingles3OfText(es.head), "built-in")
    reg.createOrReplaceTempFunction("graft_minhash",
      es => MinHashSig(es.head, minhashAs, minhashBs, minhashPrime), "built-in")
    reg.createOrReplaceTempFunction("graft_minhash_bands",
      es => MinHashBands(es.head, minhashAs, minhashBs, minhashPrime,
        minhashBands), "built-in")
    reg.createOrReplaceTempFunction("graft_intersect_size",
      es => IntersectSize(es(0), es(1)), "built-in")
    reg.createOrReplaceTempFunction("graft_simhash64",
      es => SimHash64(es.head), "built-in")
    reg.createOrReplaceTempFunction("graft_simhash_md5",
      es => SimHashMd5(es.head), "built-in")
    reg.createOrReplaceTempFunction("graft_vecdot",
      es => VecDot(es(0), es(1)), "built-in")
  }

  // Column-level wrappers (valid after register())
  def shingles3(tokens: Column): Column = call_function("graft_shingles3", tokens)
  def shingles3OfText(text: Column): Column =
    call_function("graft_shingles3_text", text)
  def minhashSig(shingles: Column): Column = call_function("graft_minhash", shingles)
  def minhashBands(shingles: Column): Column =
    call_function("graft_minhash_bands", shingles)
  def intersectSize(a: Column, b: Column): Column =
    call_function("graft_intersect_size", a, b)
  def simhash64(tokens: Column): Column = call_function("graft_simhash64", tokens)
  def simhashMd5(tokens: Column): Column = call_function("graft_simhash_md5", tokens)
  def vecDot(a: Column, b: Column): Column = call_function("graft_vecdot", a, b)
}
