package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The word-shingle and MinHash kernel of the near-duplicate operators:
  * static functions over Spark's array and string formats, called from the
  * code [[ShinglesExpr]] and [[MinhashBandsExpr]] generate, so the pass
  * stays in whole-stage codegen: no Scala UDF, no higher-order function.
  */
object MinhashKernel {
  /** 64-bit string hash (xx-style avalanche over UTF-16 chars). */
  private[graft] def hash64(s: String): Long = {
    var h = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i)
      h *= 0xc2b2ae3d27d4eb4fL
      h ^= h >>> 29
      i += 1
    }
    h * 0xff51afd7ed558ccdL
  }

  /** Per-permutation hash family: h_i(x) = a(x) + i·b(x) over Z/2^64 with
    * `b` odd (a bijection per i) — the Kirsch–Mitzenmacher two-hash
    * construction, the standard practical MinHash family (spark.ml's
    * MinHashLSH uses the same affine-per-permutation shape). `a` is the
    * string hash, `b` one more avalanche round of it, forced odd. The
    * per-permutation cost is ONE add: the signature loop walks i
    * incrementally.
    */
  private[graft] def deriveB(a: Long): Long = {
    var b = a
    b ^= b >>> 33
    b *= 0xc2b2ae3d27d4eb4fL
    b ^= b >>> 29
    b | 1L
  }

  /** Word k-shingles of a token array: shingle i is tokens [i, i + k)
    * joined by one space, null tokens skipped as `concat_ws` skips them
    * (empty tokens are kept); fewer than k tokens give no shingles.
    */
  def shingles(toks: ArrayData, k: Int): ArrayData = {
    val ts = toks.toArray[UTF8String](StringType)
    new GenericArrayData(Array.tabulate[Any](math.max(ts.length - k + 1, 0)) { i =>
      UTF8String.concatWs(Space, ts.slice(i, i + k): _*)
    })
  }

  private val Space = UTF8String.fromString(" ")

  /** MinHash signature of a shingle array: each shingle is hashed once
    * (`a`), [[deriveB]] strides the family h_i = a + i·b, and the inner
    * loop keeps the running minima with one add and one compare per
    * permutation. Duplicate shingles cannot change a minimum, and a null
    * array or null element adds nothing: the empty set's signature is all
    * `Long.MaxValue`.
    */
  private def signature(sh: ArrayData, numHashes: Int): Array[Long] = {
    val mins = Array.fill(numHashes)(Long.MaxValue)
    if (sh != null) {
      val n = sh.numElements()
      var e = 0
      while (e < n) {
        if (!sh.isNullAt(e)) {
          val a = hash64(sh.getUTF8String(e).toString)
          val b = deriveB(a)
          var v = a
          var i = 0
          while (i < numHashes) {
            if (v < mins(i)) mins(i) = v
            v += b
            i += 1
          }
        }
        e += 1
      }
    }
    mins
  }

  /** LSH band hashes of a shingle array: band b is Spark's
    * `xxhash64(concat_ws(",", <its signature slice as decimal strings>), b)`,
    * that is XXH64 of the slice's text with seed 42, then of the int `b`
    * with that hash as the seed. These are the values a MinHash band index
    * stores, so they must not change.
    */
  def bandHashes(sh: ArrayData, numHashes: Int, bands: Int): ArrayData = {
    val mins = signature(sh, numHashes)
    val rows = numHashes / bands
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      val text = new java.lang.StringBuilder
      var j = 0
      while (j < rows) {
        if (j > 0) text.append(',')
        text.append(mins(b * rows + j))
        j += 1
      }
      out(b) = XXH64.hashInt(b, XXH64.hashUTF8String(UTF8String.fromString(text.toString), 42L))
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  private[functions] def checkStrings(e: Expression): TypeCheckResult = e.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"expected array<string>, got ${t.simpleString}")
  }
}

/** `shingles(tokens, k)`: [[MinhashKernel.shingles]] as a native
  * expression; a null array gives null. The elements are never null, but
  * the type says they may be, so that written shingle columns keep the
  * schema they had under the `transform`/`concat_ws` composition.
  */
case class ShinglesExpr(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1, s"shingles needs k >= 1, got $k")
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def checkInputDataTypes(): TypeCheckResult = MinhashKernel.checkStrings(child)
  override def nullSafeEval(input: Any): Any =
    MinhashKernel.shingles(input.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinhashKernel.shingles($c, $k)")
  override def prettyName: String = "shingles"
  override protected def withNewChildInternal(newChild: Expression): ShinglesExpr =
    copy(child = newChild)
}

/** `minhash_bands(shingles, numHashes, bands)`: [[MinhashKernel.bandHashes]]
  * as a native expression. Never null: a null shingle array is the empty
  * set.
  */
case class MinhashBandsExpr(child: Expression, numHashes: Int, bands: Int)
    extends UnaryExpression {
  require(bands > 0 && numHashes % bands == 0, "bands must divide numHashes")
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = MinhashKernel.checkStrings(child)
  override def eval(input: InternalRow): Any =
    MinhashKernel.bandHashes(child.eval(input).asInstanceOf[ArrayData], numHashes, bands)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ${classOf[ArrayData].getName} ${ev.value} = graft.functions.MinhashKernel.bandHashes(
        ${c.isNull} ? null : ${c.value}, $numHashes, $bands);""", isNull = FalseLiteral)
  }
  override def prettyName: String = "minhash_bands"
  override protected def withNewChildInternal(newChild: Expression): MinhashBandsExpr =
    copy(child = newChild)
}
