package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** MinHash signature of a shingle set: for each of `k` seeded hash
  * functions, the minimum hash over the distinct shingles. Jaccard(A,B) is
  * estimated by the fraction of matching signature positions; banding the
  * signature gives LSH candidate buckets (dedup at 10^9-document scale
  * without O(n^2) pairs).
  *
  * One pass over the shingle array per row, all k mins updated in place —
  * a native expression instead of k array-transform steps.
  */
object MinHashSig {
  /** Each shingle's bytes are hashed ONCE; the k per-position values are
    * derived from that base hash with a splitmix64 mix per position
    * (h_j = mix(base + (j+1)·golden)). Cost per shingle is L + 6k ops
    * instead of the k·L of re-hashing per position — the round-1 kernel
    * re-walked every shingle 64 times and dedup_minhash paid 39% of the
    * whole bench suite for it.
    */
  def sig(shingles: ArrayData, k: Int): ArrayData = {
    val mins = Array.fill[Long](k)(Long.MaxValue)
    val n = shingles.numElements()
    var i = 0
    while (i < n) {
      if (!shingles.isNullAt(i)) {
        val base = Fingerprint64.hash64(shingles.getUTF8String(i))
        var j = 0
        while (j < k) {
          val h = Fingerprint64.mix(base + (j + 1) * 0x9E3779B97F4A7C15L)
          if (h < mins(j)) mins(j) = h
          j += 1
        }
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(mins)
  }
}

/** Distinct word n-gram shingles from an ALREADY-TOKENIZED array<string>,
  * in one kernel pass: byte-identical to the
  * `array_distinct(transform(sequence(...), i -> concat_ws(" ", t[i], ...)))`
  * expression stack it replaces (UTF8String.concatWs is what concat_ws
  * lowers to), but without the per-shingle sequence/transform/array
  * allocations — the stack version dominated the shared shingle-frame
  * cache build (~10 s of a 64 s bench suite at sf0.1). Tokenization stays
  * Spark's `split` so the oracle-mirrored semantics are untouched.
  * Under n tokens -> empty array (matching the `when(size >= n)` guard).
  */
object WordShingles {
  private val Space = org.apache.spark.unsafe.types.UTF8String.fromString(" ")

  def shingles(tokens: ArrayData, n: Int): ArrayData = {
    val m = tokens.numElements()
    if (m < n) return new GenericArrayData(Array.empty[Any])
    // insertion-ordered distinct, like array_distinct (first wins)
    val seen = new java.util.LinkedHashSet[org.apache.spark.unsafe.types.UTF8String]()
    val parts = new Array[org.apache.spark.unsafe.types.UTF8String](n)
    var i = 0
    while (i <= m - n) {
      var j = 0
      while (j < n) { parts(j) = tokens.getUTF8String(i + j); j += 1 }
      seen.add(org.apache.spark.unsafe.types.UTF8String.concatWs(Space, parts: _*))
      i += 1
    }
    val out = new Array[Any](seen.size())
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }
}

/** `nSigs` independent 64-bit SimHashes of a token array in ONE pass: each
  * token's bytes are hashed once, then per signature a splitmix64 mix of the
  * base derives that signature's 64 vote bits. Returns array<long> of length
  * nSigs — the multi-signature LSH source for near-dup banding (16-bit bands
  * sliced from the concatenated signatures).
  */
object SimHashMulti {
  def sigs(tokens: ArrayData, nSigs: Int): ArrayData = {
    val n = tokens.numElements()
    val votes = new SimHashVotes(nSigs, n)
    var voters = 0
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val base = Fingerprint64.hash64(tokens.getUTF8String(i))
        var sgi = 0
        while (sgi < nSigs) {
          votes.add(sgi, Fingerprint64.mix(base + (sgi + 1) * 0x9E3779B97F4A7C15L))
          sgi += 1
        }
        voters += 1
      }
      i += 1
    }
    val out = new Array[Long](nSigs)
    var sgi = 0
    while (sgi < nSigs) {
      out(sgi) = votes.signature(sgi, voters)
      sgi += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** The one SimHash vote kernel, shared by [[SimHashMulti]], [[SimHash64]]
  * and [[SimHashAgg]]. A SimHash bit is the sign of that bit's +1/-1 tally
  * over the voters' hashes, i.e. whether more than half of them set it, so
  * only each bit's count of ones is needed. The counts are bit-sliced:
  * plane k of a signature holds bit k of all 64 lanes' counts, and adding
  * a hash is a ripple carry through the planes, a few word operations in
  * place of 64 branches on random hash bits (mispredicted about half the
  * time).
  *
  * `maxVoters` bounds the hashes added to any one signature. Every count is
  * at most `maxVoters`, below 2^`depth`, so a carry never leaves its
  * signature's `depth` planes.
  */
private[functions] final class SimHashVotes(nSigs: Int, maxVoters: Int) {
  private val depth = 32 - Integer.numberOfLeadingZeros(maxVoters)
  private val planes = new Array[Long](nSigs * depth)

  /** Counts one voter's hash `h` for signature `sig`: +1 in every lane whose
    * bit is set.
    */
  def add(sig: Int, h: Long): Unit = {
    var carry = h
    var i = sig * depth
    while (carry != 0L) {
      val t = planes(i) & carry
      planes(i) ^= carry
      carry = t
      i += 1
    }
  }

  /** Signature `sig` over `voters` hashes: bit b is set iff lane b's ones
    * outnumber its zeros (2·ones > voters), so ties give 0. All 64 lanes
    * are compared against ⌊voters/2⌋ at once, from the top plane down.
    */
  def signature(sig: Int, voters: Int): Long = {
    val half = voters >>> 1
    val off = sig * depth
    var gt = 0L
    var eq = -1L
    var k = depth - 1
    while (k >= 0) {
      val p = planes(off + k)
      val bit = -((half >>> k) & 1).toLong
      gt |= eq & p & ~bit
      eq &= ~(p ^ bit)
      k -= 1
    }
    gt
  }

  /** Adds signature `sig`'s +1/-1 tallies over `voters` hashes, 2·ones -
    * voters per lane, to `tallies`: the mergeable form [[SimHashAgg]] keeps.
    */
  def addTallies(sig: Int, voters: Int, tallies: Array[Int]): Unit = {
    val off = sig * depth
    var b = 0
    while (b < 64) {
      var ones = 0
      var k = 0
      while (k < depth) {
        ones |= ((planes(off + k) >>> b).toInt & 1) << k
        k += 1
      }
      tallies(b) += 2 * ones - voters
      b += 1
    }
  }
}

/** Random-hyperplane (signed random projection) signature of a float
  * vector: bit p = sign(sum_d vec[d] * u(seed,p,d)) with u a deterministic
  * Rademacher (+1/-1) sequence derived from splitmix64 — the LSH bucketing
  * primitive for cosine similarity search (two vectors with high cosine get
  * equal signatures with high probability). nBits <= 64, packed in a long.
  */
object RpSign {
  def mixPublic(z: Long): Long = mix(z)

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def sign(vec: ArrayData, nBits: Int, seed: Long): Long = {
    val n = vec.numElements()
    var out = 0L
    var p = 0
    while (p < nBits) {
      var dot = 0.0
      var d = 0
      while (d < n) {
        val u = if ((mix(seed * 1000003L + p * 131071L + d) & 1L) == 0L) 1.0 else -1.0
        dot += vec.getFloat(d) * u
        d += 1
      }
      if (dot >= 0) out |= (1L << p)
      p += 1
    }
    out
  }
}

/** Rademacher random projection of a float vector to `outDims` dimensions
  * (deterministic, seed-derived +-1 matrix, scaled 1/sqrt(outDims)) — the
  * coarse-quantization half of the approximate nearest-neighbor path: score
  * all candidates in the cheap projected space, exact-rerank only the top
  * fraction. Isotropic embeddings (no cluster structure) make bucket-style
  * LSH unrecallable; projection+rerank trades a tunable candidate depth for
  * a ~dims/outDims flop and IO reduction instead.
  */
object RpProject {
  def project(vec: ArrayData, outDims: Int, seed: Long): ArrayData = {
    val n = vec.numElements()
    val out = new Array[Float](outDims)
    val scale = (1.0 / math.sqrt(outDims)).toFloat
    var p = 0
    while (p < outDims) {
      var acc = 0.0f
      var d = 0
      while (d < n) {
        val u = if ((RpSign.mixPublic(seed * 1000003L + p * 131071L + d) & 1L) == 0L) 1.0f else -1.0f
        acc += vec.getFloat(d) * u
        d += 1
      }
      out(p) = acc * scale
      p += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** 64-bit SimHash over a token array: each token's 64-bit hash votes +1/-1
  * per bit position; the sign of each tally forms the fingerprint. Near-dup
  * detection = Hamming distance on the resulting long (bit_count(a XOR b)).
  */
object SimHash64 {
  def simhash(tokens: ArrayData, seed: Long): Long = {
    val n = tokens.numElements()
    val votes = new SimHashVotes(1, n)
    var voters = 0
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        votes.add(0, Fingerprint64.hash64Seeded(tokens.getUTF8String(i), seed))
        voters += 1
      }
      i += 1
    }
    votes.signature(0, voters)
  }
}

/** Encoded band keys of a multi-signature simhash: for signature si and
  * band slot b (bandBits wide), emit (globalBand << bandBits) | key as ONE
  * long. The banding explode previously composed `transform(sequence(...))`
  * higher-order functions — CodegenFallback, so the projection building
  * 36 rows/doc (and 612/doc on the probe side) ran interpreted AND fell
  * out of whole-stage codegen; the encoded single-long key also replaces a
  * two-column (band, key) join key.
  */
object SimHashBandKeys {
  def keys(sigs: ArrayData, bandBits: Int): ArrayData = {
    val perSig = 64 / bandBits
    val mask = (1L << bandBits) - 1
    val nSigs = sigs.numElements()
    val out = new Array[Long](nSigs * perSig)
    var si = 0
    var band = 0
    while (si < nSigs) {
      val sig = sigs.getLong(si)
      var slot = 0
      while (slot < perSig) {
        out(band) = (band.toLong << bandBits) | ((sig >>> (slot * bandBits)) & mask)
        band += 1
        slot += 1
      }
      si += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** Multi-probe variant of [[SimHashBandKeys]]: every band key XOR'd with
  * each mask of band-Hamming <= 1 (bandBits + 1 masks), so the equi-join
  * of exact keys against probe keys catches every pair whose band keys
  * differ in at most one bit.
  */
object SimHashProbeKeys {
  def keys(sigs: ArrayData, bandBits: Int): ArrayData = {
    val perSig = 64 / bandBits
    val mask = (1L << bandBits) - 1
    val nMasks = bandBits + 1
    val nSigs = sigs.numElements()
    val out = new Array[Long](nSigs * perSig * nMasks)
    var si = 0
    var band = 0
    var o = 0
    while (si < nSigs) {
      val sig = sigs.getLong(si)
      var slot = 0
      while (slot < perSig) {
        val key = (sig >>> (slot * bandBits)) & mask
        val enc = band.toLong << bandBits
        out(o) = enc | key
        o += 1
        var b = 0
        while (b < bandBits) {
          out(o) = enc | (key ^ (1L << b))
          o += 1
          b += 1
        }
        band += 1
        slot += 1
      }
      si += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** One hashed long per MinHash band (the `rows`-wide signature slice mixed
  * with a band-dependent seed): replaces the `slice()` array-valued join
  * key — a 64-bit collision can only ADD a candidate pair, and every
  * candidate is exact-verified downstream, so the result set is unchanged
  * while the LSH join runs on a primitive key.
  */
object MinHashBandKeys {
  def keys(sig: ArrayData, bands: Int): ArrayData = {
    val n = sig.numElements()
    val rows = n / bands
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = 0x9E3779B97F4A7C15L * (b + 1)
      var r = 0
      while (r < rows) {
        h = Fingerprint64.mix(h ^ sig.getLong(b * rows + r))
        r += 1
      }
      out(b) = h
      b += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** Total Hamming distance between two equal-length array<long> signatures
  * (sum of per-word popcounts of the XOR) — the simhash prefilter as one
  * codegen'd call; the `aggregate(zip_with(..., bit_count(...)))`
  * composition it replaces is a higher-order-function tree, which is
  * CodegenFallback and excluded its projection from whole-stage codegen.
  *
  * `hamming_total` rejects array<long> inputs with containsNull at ANALYSIS
  * time: getLong would read a null slot as 0 and silently mis-measure.
  * Inputs are always sketch outputs (minhash_sig / simhash_multi), which
  * declare containsNull=false.
  */
object HammingTotal {
  def dist(a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements()
    // signatures are fixed-length by construction; a mismatch is a caller
    // bug that the old math.min truncation would have silently absorbed
    require(b.numElements() == n,
      s"hamming_total: signature lengths differ ($n vs ${b.numElements()})")
    var d = 0
    var i = 0
    while (i < n) {
      d += java.lang.Long.bitCount(a.getLong(i) ^ b.getLong(i))
      i += 1
    }
    d
  }
}

/** Count of equal positions between two array<long> signatures — the
  * MinHash prefilter (estimated-Jaccard bar) as one codegen'd call,
  * replacing a `size(filter(zip_with(...)))` CodegenFallback tree.
  *
  * Same analysis-time containsNull rejection as [[HammingTotal]]: a null
  * slot read as 0 could spuriously "match" and inflate the estimated
  * Jaccard.
  */
object MatchCount {
  def count(a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements()
    require(b.numElements() == n,
      s"match_count: signature lengths differ ($n vs ${b.numElements()})")
    var c = 0
    var i = 0
    while (i < n) {
      if (a.getLong(i) == b.getLong(i)) c += 1
      i += 1
    }
    c
  }
}
