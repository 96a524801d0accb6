package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the batch MinHash signature of one
  * document: `minhash_sets_text(text)` → struct(m0..m15, hs, sz), where
  * m0..m15 are the 16 permutation minima, `hs` the distinct shingle
  * hashes in ascending order and `sz` their count. NULL when the text
  * is NULL or has fewer than 5 tokens: such a document has no
  * shingles.
  *
  * One compiled pass per row, through the same
  * [[MinhashSetsText.shingleHashes]] and [[MinhashSetsText.minhash]]
  * routines as the streaming index's `lsh_bands_text`, so batch
  * signatures and stream bands cannot drift apart. */
case class MinhashSetsText(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"minhash_sets_text expects STRING, got ${t.simpleString}")
  }

  override def dataType: DataType = MinhashSetsText.schema

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any): Any =
    MinhashSetsText.compute(a.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val out = ctx.freshName("sig")
      s"""
         |org.apache.spark.sql.catalyst.InternalRow $out =
         |  graft.functions.MinhashSetsText.compute($s);
         |if ($out == null) { ${ev.isNull} = true; } else { ${ev.value} = $out; }
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): MinhashSetsText = copy(child = newChild)
}

object MinhashSetsText {

  val schema: StructType = StructType(
    (0 until 16).map(i => StructField(s"m$i", LongType, nullable = false)) ++
      Seq(StructField("hs", ArrayType(LongType, containsNull = false),
          nullable = false),
        StructField("sz", LongType, nullable = false)))

  // MD5 digest and its 16-byte output per executor thread, reset per
  // shingle: allocating either per row or per shingle would sit on the
  // hot path.
  private val digests = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val digestOut = new ThreadLocal[Array[Byte]] {
    override def initialValue(): Array[Byte] = new Array[Byte](16)
  }

  /** 32-bit hash of every 5-token shingle of `text`, in text order
    * (repeats kept); null when the text has fewer than 5 tokens.
    *
    * Reproduces the SQL definition bit for bit:
    * `split(text, ' ')` keeps empty tokens (Java split, limit -1),
    * a shingle is 5 consecutive tokens joined by one space, and its
    * hash is the first 8 hex chars of md5 over the shingle's UTF-8
    * bytes (0..2³²−1, so the permutation arithmetic never overflows).
    * A space byte never occurs inside a multi-byte UTF-8 sequence, so
    * a shingle is exactly the byte range of the text from the start
    * of its first token to the end of its fifth and is hashed in
    * place. Text that is not valid UTF-8 is first decoded and
    * re-encoded, as Spark's `split` does. */
  def shingleHashes(text: UTF8String): Array[Long] = {
    val bytes =
      if (text.isValid) text.getBytes
      else text.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val len = bytes.length
    var nSp = 0
    var j = 0
    while (j < len) { if (bytes(j) == ' ') nSp += 1; j += 1 }
    // tokens = spaces + 1
    if (nSp < 4) return null
    val sp = new Array[Int](nSp)
    nSp = 0
    j = 0
    while (j < len) {
      if (bytes(j) == ' ') { sp(nSp) = j; nSp += 1 }
      j += 1
    }
    val md = digests.get()
    val dig = digestOut.get()
    val out = new Array[Long](nSp - 3)
    var i = 0
    while (i < out.length) {
      val from = if (i == 0) 0 else sp(i - 1) + 1
      val until = if (i + 4 < nSp) sp(i + 4) else len
      md.reset()
      md.update(bytes, from, until - from)
      md.digest(dig, 0, 16)
      // first 8 hex chars = the top 4 digest bytes, unsigned
      out(i) = ((dig(0) & 0xffL) << 24) | ((dig(1) & 0xffL) << 16) |
        ((dig(2) & 0xffL) << 8) | (dig(3) & 0xffL)
      i += 1
    }
    out
  }

  /** The 16 MinHash minima of a shingle-hash set:
    * h_k(x) = ((2k+1)x + 7k+3) mod (2³¹ − 1), fixed affine seeds, so
    * the DuckDB oracle reproduces them. Repeats in `hs` do not change
    * a minimum. */
  def minhash(hs: Array[Long]): Array[Long] = {
    val m = Array.fill(16)(Long.MaxValue)
    var i = 0
    while (i < hs.length) {
      val x = hs(i)
      var k = 0
      while (k < 16) {
        val h = ((2 * k + 1) * x + (7 * k + 3)) % 2147483647L
        if (h < m(k)) m(k) = h
        k += 1
      }
      i += 1
    }
    m
  }

  /** Signature row (m0..m15, hs, sz); static so generated code can
    * call it. Null when fewer than 5 tokens. */
  def compute(text: UTF8String): InternalRow = {
    val all = shingleHashes(text)
    if (all == null) return null
    java.util.Arrays.sort(all)
    var n = 0
    var i = 0
    while (i < all.length) {
      if (n == 0 || all(i) != all(n - 1)) { all(n) = all(i); n += 1 }
      i += 1
    }
    val hs = java.util.Arrays.copyOf(all, n)
    val m = minhash(hs)
    val row = new Array[Any](18)
    i = 0
    while (i < 16) { row(i) = m(i); i += 1 }
    row(16) = UnsafeArrayData.fromPrimitiveArray(hs)
    row(17) = n.toLong
    new GenericInternalRow(row)
  }

  /** Arity-checked builder of `GraftExtensions.sqlFunctions`. */
  def build(exprs: Seq[Expression]): MinhashSetsText = {
    if (exprs.length != 1)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> "minhash_sets_text",
          "expectedNum" -> "1",
          "actualNum" -> exprs.length.toString,
          "docroot" -> ""))
    MinhashSetsText(exprs.head)
  }
}
