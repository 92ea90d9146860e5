package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** ALL adjacent pairs of an array<string>, space-joined, WITH multiplicity
  * (size m-1; empty under 2 elements) — the non-distinct sibling of
  * [[WordShingles]]. Byte-identical to
  * `transform(sequence(0, size(t)-2), i -> concat(t[i], ' ', t[i+1]))`
  * but codegen'd: the HOF form is CodegenFallback and one such expression
  * excludes its whole operator from whole-stage codegen (the repo's
  * measured 3-5x hazard class). Feeds text_lm_score's bigram explode and
  * text_bpe_train's pair counting.
  */
object WordPairs {
  private val Space = UTF8String.fromString(" ")

  def pairs(tokens: ArrayData): ArrayData = {
    val m = tokens.numElements()
    if (m < 2) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](m - 1)
    var i = 0
    while (i < m - 1) {
      out(i) = UTF8String.concatWs(Space,
        tokens.getUTF8String(i), tokens.getUTF8String(i + 1))
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** One BPE merge step over a symbol array: every adjacent (left, right)
  * occurrence combines into one symbol `left+right`, greedily left to
  * right (after a merge the scan resumes AFTER the merged symbol, so
  * "a a a" under (a,a) yields ["aa", "a"] — the standard BPE convention).
  * The pair is baked in as literals: text_bpe_train chains one of these
  * per learned rank over the base split, all inside one codegen'd
  * projection per iteration.
  */
object BpeMerge {
  def merge(syms: ArrayData, left: UTF8String, right: UTF8String): ArrayData = {
    val m = syms.numElements()
    if (m < 2) {
      val out = new Array[Any](m)
      var i = 0
      while (i < m) { out(i) = syms.getUTF8String(i); i += 1 }
      return new GenericArrayData(out)
    }
    val buf = new java.util.ArrayList[Any](m)
    var i = 0
    while (i < m) {
      if (i < m - 1 && syms.getUTF8String(i).equals(left) &&
          syms.getUTF8String(i + 1).equals(right)) {
        buf.add(UTF8String.concat(left, right))
        i += 2
      } else {
        buf.add(syms.getUTF8String(i))
        i += 1
      }
    }
    new GenericArrayData(buf.toArray)
  }
}
