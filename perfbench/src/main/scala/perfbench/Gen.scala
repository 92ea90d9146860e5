package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{TranscriptGen, Transcripts}

/** The pipeline input, which depends on the workload seed. The ops mix reads
  * sf0.1's own tables, kept under `data/sf0.1`.
  */
object Gen {

  /** Transcripts of `n` turns with TranscriptGen's shape (format mix, 1% of
    * turns in 100x-long conversations), event ids shifted and conversations
    * relabelled by a bijection drawn from `seed`.
    */
  def transcripts(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    val nHeavy = math.max(1L, n / 100L / TranscriptGen.HeavyTurns)
    val nConv = nHeavy + (n - nHeavy * TranscriptGen.HeavyTurns +
      TranscriptGen.NormalTurns - 1) / TranscriptGen.NormalTurns
    val rnd = new scala.util.Random(seed)
    val mult = Iterator.continually(1000L + rnd.nextInt(1 << 20))
      .find(m => BigInt(m).gcd(BigInt(nConv)) == 1).get
    val offset = rnd.nextInt(1 << 20).toLong
    val shift = rnd.nextInt(1 << 28).toLong
    val ev = TranscriptGen.events(spark, n)
    Transcripts.fromEvents(ev.select(
      (col("event_id") + shift).as("event_id"), col("ts"),
      pmod(col("user_id") * mult + offset, lit(nConv)).as("user_id"),
      col("event_type"), col("value")))
  }
}
