package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}

/** Native n-token window hashing for the text-dedup family: one
  * compiled pass over a document's token array computes the
  * [[Md5Seeded60]] portable-family hash of EVERY n-token window —
  * the exact values of
  * `transform(Dedup.shingles(text, n), g => md5_seeded60(seed, g))`
  * — without ever materializing the window strings.
  *
  * Why an expression: `Dedup.shingles` is
  * `transform(sequence(...), i => concat_ws(" ", slice(toks, i+1,
  * n)))` — a CodegenFallback higher-order function that interprets a
  * lambda per window AND allocates an n-token string copy per window
  * (a ~10-token window over ~6-byte tokens copies ~70 bytes per
  * position — the corpus text re-materializes ~n times over). Every
  * downstream consumer immediately hashes those strings to 64-bit
  * keys and drops them. This expression assembles each window's
  * bytes directly into the digest (token byte slices + single-space
  * separators — exactly the `concat_ws(" ", ...)` byte stream,
  * including its skip-nulls-and-their-separator rule) and emits the
  * longs, staying inside whole-stage codegen via a static call.
  *
  * Input is the TOKEN array (`split(trim(text), "\\s+")` — kept
  * outside so tokenization stays a shared codegen'd expression).
  * Fewer than n tokens ⇒ EMPTY output (the `when(count > 0, ...)`
  * branch of `shingles`: such docs have no windows).
  *
  * Three output modes, matching the three downstream shapes:
  *  - [[Md5WindowHashes.ModeAll]]: `array<long>`, one hash per
  *    window position, in position order (the `posexplode` span-cut
  *    consumer);
  *  - [[Md5WindowHashes.ModeDistinctSorted]]: `array<long>`,
  *    distinct hashes ascending (the set consumers — jaccard shingle
  *    sets, decontam gram sets — where only set membership/size
  *    matters downstream);
  *  - [[Md5WindowHashes.ModeRle]]: `array<struct<h:long,c:long>>`,
  *    distinct hashes ascending with their multiplicities (the
  *    per-doc window histogram of `TextOps.windowRuns`, the
  *    `duplicateSpans` and split-leakage grain, folded scan-local
  *    instead of via a corpus-scale `groupBy(doc, h)` exchange or
  *    an interpreted sort/run-start HOF ladder).
  */
@SerialVersionUID(1L)
case class Md5WindowHashes(child: Expression, n: Int, seed: Int,
                           mode: Int) extends UnaryExpression {
  import Md5WindowHashes._

  require(n >= 1, s"md5_window_hashes: window width must be >= 1, got $n")
  require(mode == ModeAll || mode == ModeDistinctSorted || mode == ModeRle,
    s"md5_window_hashes: unknown mode $mode")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"md5_window_hashes requires array<string>, got ${other.catalogString}")
    }

  override def dataType: DataType = mode match {
    case ModeRle => ArrayType(StructType(Seq(
      StructField("h", LongType, nullable = false),
      StructField("c", LongType, nullable = false))),
      containsNull = false)
    case _ => ArrayType(LongType, containsNull = false)
  }

  override def prettyName: String = "md5_window_hashes"

  private lazy val prefix: Array[Byte] = s"$seed:".getBytes("UTF-8")

  override def nullSafeEval(input: Any): Any =
    Md5WindowHashes.compute(prefix, n, mode, input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val prefixRef = ctx.addReferenceObj("seedPrefix", prefix, "byte[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.Md5WindowHashes.compute($prefixRef, $n, $mode, $c)")
  }

  override protected def withNewChildInternal(
      newChild: Expression): Md5WindowHashes = copy(child = newChild)
}

object Md5WindowHashes {
  /** One hash per window position, in position order. */
  val ModeAll = 0
  /** Distinct window hashes, ascending. */
  val ModeDistinctSorted = 1
  /** (hash, multiplicity) runs, hashes ascending. */
  val ModeRle = 2

  private val mdPool = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private val emptyLongs = new GenericArrayData(Array.emptyLongArray)
  private val emptyRows = new GenericArrayData(new Array[Any](0))

  /** Static so generated code can call it directly. One MD5 per
    * window (the intrinsic cost — identical digest count to the
    * compositional form); token bytes are extracted once per ROW and
    * fed to the digest as slices, so no window string is ever built.
    */
  def compute(prefix: Array[Byte], n: Int, mode: Int,
              toks: ArrayData): ArrayData = {
    val t = toks.numElements()
    val w = t - (n - 1)
    if (w <= 0)
      return if (mode == ModeRle) emptyRows else emptyLongs
    // token payloads once per row (concat_ws skips null elements AND
    // their separator; split() never yields nulls, but the contract
    // is the composed form's)
    val tb = new Array[Array[Byte]](t)
    var i = 0
    while (i < t) {
      if (!toks.isNullAt(i)) tb(i) = toks.getUTF8String(i).getBytes
      i += 1
    }
    val md = mdPool.get()
    val digest = new Array[Byte](16)
    val hs = new Array[Long](w)
    i = 0
    while (i < w) {
      md.reset()
      md.update(prefix)
      var first = true
      var j = i
      val end = i + n
      while (j < end) {
        val b = tb(j)
        if (b != null) {
          if (!first) md.update(' '.toByte)
          md.update(b)
          first = false
        }
        j += 1
      }
      md.digest(digest, 0, 16)
      // first 15 hex digits = big-endian first 8 bytes >>> 4 (the
      // Md5Seeded60 convention — always non-negative, < 2^60)
      var acc = 0L
      var k = 0
      while (k < 8) {
        acc = (acc << 8) | (digest(k) & 0xffL)
        k += 1
      }
      hs(i) = acc >>> 4
      i += 1
    }
    mode match {
      case ModeAll => new GenericArrayData(hs)
      case ModeDistinctSorted =>
        java.util.Arrays.sort(hs)
        var out = 1
        var p = 1
        while (p < w) {
          if (hs(p) != hs(p - 1)) { hs(out) = hs(p); out += 1 }
          p += 1
        }
        new GenericArrayData(java.util.Arrays.copyOf(hs, out))
      case _ =>
        java.util.Arrays.sort(hs)
        // count runs, then emit (h, c) rows
        var runs = 1
        var p = 1
        while (p < w) { if (hs(p) != hs(p - 1)) runs += 1; p += 1 }
        val rows = new Array[Any](runs)
        var r = 0
        var start = 0
        p = 1
        while (p <= w) {
          if (p == w || hs(p) != hs(start)) {
            rows(r) = new GenericInternalRow(
              Array[Any](hs(start), (p - start).toLong))
            r += 1
            start = p
          }
          p += 1
        }
        new GenericArrayData(rows)
    }
  }

  /** Column-API entry point over a token array. */
  def md5_window_hashes(toks: Column, n: Int, seed: Int,
                        mode: Int): Column =
    ColumnShim.column(Md5WindowHashes(ColumnShim.expression(toks), n,
      seed, mode))
}
