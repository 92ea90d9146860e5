package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.unsafe.types.UTF8String

/** Typed custom AGGREGATE: a 64-bit SimHash over all tokens of a GROUP
  * (e.g. one fingerprint per conversation across its turns). The buffer is
  * the 64 vote counters, so the aggregate is partial-mergeable — map-side
  * combine works and no group ever materializes its token multiset (the
  * `collect_list + flatten + simhash64` equivalent does, and dies on a
  * 100k-turn conversation).
  *
  * Bit-compatible with [[SimHash64]] at seed 0: SimHash is order-invariant
  * over the token multiset, so `simhash_agg(tokens per row)` ==
  * `simhash64(flatten(collect_list(tokens)), 0)` — pinned by AggSpec.
  */
object SimHashAgg extends Aggregator[Seq[String], Array[Int], Long] {

  override def zero: Array[Int] = new Array[Int](64)

  override def reduce(tallies: Array[Int], tokens: Seq[String]): Array[Int] = {
    val n = tokens.size
    val votes = new SimHashVotes(1, n)
    tokens.foreach { tok =>
      votes.add(0, Fingerprint64.hash64Seeded(UTF8String.fromString(tok), 0L))
    }
    votes.addTallies(0, n, tallies)
    tallies
  }

  override def merge(a: Array[Int], b: Array[Int]): Array[Int] = {
    var i = 0
    while (i < 64) { a(i) += b(i); i += 1 }
    a
  }

  override def finish(votes: Array[Int]): Long = {
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  override def bufferEncoder: Encoder[Array[Int]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Int]]()

  override def outputEncoder: Encoder[Long] = Encoders.scalaLong
}
