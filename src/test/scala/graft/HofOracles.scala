package graft

import org.apache.spark.sql.{Column, functions => F}
import org.apache.spark.sql.types.DoubleType

import graft.pipeline.{Dedup, Similarity, Sketches, TextAnalysis}

/** Reference higher-order-function formulations of the codegen'd hash
  * kernels — the parity oracles KernelParitySpec checks the kernels
  * against (interpreted lambdas; no pipeline uses them). */
object HofOracles {
  // the Scala shiftright/shiftleft wrappers only take Int shifts; the SQL
  // expressions accept column shifts, needed for the lambda bit index
  private def shr(v: Column, bits: Column) = F.call_function("shiftright", v, bits)
  private def shl(v: Column, bits: Column) = F.call_function("shiftleft", v, bits)

  /** [[Dedup.simhash64]] as HOFs (a 64-wide boxed loop per token). */
  def simhash64Hof(text: Column): Column = {
    val toks = Dedup.tokens(text)
    val votes = F.aggregate(
      toks,
      F.array_repeat(F.lit(0L), 64),
      (acc, t) => {
        val h = F.xxhash64(t)
        F.zip_with(acc,
          F.transform(F.sequence(F.lit(0), F.lit(63)),
            b => F.when(shr(h, b).bitwiseAND(F.lit(1L)) =!= 0, 1L).otherwise(-1L)),
          (a, v) => a + v)
      })
    // fold votes into a 64-bit long: bit b set iff votes(b) > 0
    F.aggregate(
      F.sequence(F.lit(0), F.lit(63)),
      F.lit(0L),
      (acc, b) => acc + F.when(F.element_at(votes, b + 1) > 0, shl(F.lit(1L), b)).otherwise(0L))
  }

  /** [[Dedup.simhash60Md5]] as HOFs. The token hash and the vote array are
    * each BOUND through a single-element `aggregate` wrapper so neither
    * re-evaluates per lambda element (Catalyst has no CSE inside HOF
    * lambda bodies: an inline md5 referenced by the 60-wide bit transform
    * would otherwise run 60× per token). */
  def simhash60Md5Hof(text: Column): Column = {
    val votes = F.aggregate(
      Dedup.tokens(text),
      F.array_repeat(F.lit(0L), 60),
      (acc, t) => F.aggregate(
        // binds h = hexPrefix(md5(t)) ONCE per token
        F.array(Sketches.hexPrefix(t)), acc,
        (a, h) => F.zip_with(a,
          F.transform(F.sequence(F.lit(0), F.lit(59)),
            b => F.when(shr(h, b).bitwiseAND(F.lit(1L)) =!= 0, 1L)
              .otherwise(-1L)),
          (x, v) => x + v)))
    val sig = F.aggregate(
      // binds the vote array ONCE for the 60-wide sign fold
      F.array(votes), F.lit(0L),
      (acc0, vs) => F.aggregate(F.sequence(F.lit(0), F.lit(59)), acc0,
        (acc, b) => acc +
          F.when(F.element_at(vs, b + 1) > 0, shl(F.lit(1L), b))
            .otherwise(0L)))
    F.coalesce(sig, F.lit(0L))
  }

  /** [[TextAnalysis.winnowFingerprint]] as HOFs (fresh slice per window). */
  def winnowFingerprintHof(text: Column, w: Int = 4): Column = {
    val toks = TextAnalysis.tokens(text)
    val windows = F.transform(F.sequence(F.lit(0), F.greatest(F.size(toks) - w, F.lit(0))),
      i => F.xxhash64(F.array_join(F.slice(toks, i + 1, F.lit(w)), " ")))
    F.array_min(windows)
  }

  /** [[Similarity.lshBucket]] as HOFs (one pass per hyperplane), including
    * the nbits=0 single-bucket mode (constant 0). */
  def lshBucketHof(vec: Column, nbits: Int = 8): Column = {
    val bits = (0 until nbits).map { p =>
      val proj = F.aggregate(
        F.zip_with(vec, F.transform(F.sequence(F.lit(0), F.size(vec) - 1),
          j => Similarity.planeComponent(p, j)), (x, w) => x.cast(DoubleType) * w),
        F.lit(0.0), (acc, v) => acc + v)
      F.when(proj > 0, 1L << p).otherwise(0L)
    }
    if (bits.isEmpty) F.lit(0L)
    else bits.reduce((a: Column, b: Column) => a + b)
  }
}
