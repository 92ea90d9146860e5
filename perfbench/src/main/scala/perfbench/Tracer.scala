package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** A span: one timed call into a layer. Times are nanoseconds since the run
  * started; `parent` is -1 for a root span; spans of one operation share
  * `op`. `usage` sums the tasks of the jobs that ran inside the span.
  */
final case class SpanRec(id: Int, name: String, start: Long, end: Long,
    parent: Int, op: Int, usage: Usage)

/** Records spans around the benchmark's own calls into the program, in
  * memory; the run writes them out when it ends. When disabled, `span` only
  * runs its body.
  */
final class Tracer(spark: SparkSession, tally: Tally) {
  private val sc = spark.sparkContext
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis()
  val spans = mutable.ArrayBuffer.empty[SpanRec]
  private val open = mutable.Stack.empty[Int]
  var enabled = false
  var op = -1

  def now: Long = System.nanoTime() - originNs
  private def fromEpochMs(ms: Long): Long = (ms - originMs) * 1000000L

  /** Run `body` as a span; returns its result and the jobs it ran. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      PerfbenchBus.drain(sc)
      val mark = tally.mark
      val id = spans.size
      val parent = open.headOption.getOrElse(-1)
      spans += null
      open.push(id)
      val start = now
      try body
      finally {
        val end = now
        open.pop()
        PerfbenchBus.drain(sc)
        val jobs = tally.jobsSince(mark)
        spans(id) = SpanRec(id, name, start, end, parent, op, tally.usage(jobs))
        // the jobs a pipeline run submits become child spans named after
        // the phase of the run that submitted them
        if (name == "pipeline.run")
          Tracer.phases(jobs).groupBy(_._1).toSeq.sortBy(_._1).foreach {
            case (phase, tagged) =>
              val js = tagged.map(_._2)
              spans += SpanRec(spans.size, phase, fromEpochMs(js.map(_.startMs).min),
                fromEpochMs(js.map(_.endMs).max), id, op, tally.usage(js))
          }
      }
    }
}

object Tracer {
  /** Phase of `Pipeline.run` a job belongs to, from the call site of the
    * action that started it: the manifest read, the data write, the audit
    * read-back, or the concurrent metadata tail; None when the call site
    * does not tell (file listings).
    */
  def phase(callSite: String): Option[String] =
    if (callSite.contains("scala.concurrent.Future")) Some("tail")
    else if (callSite.contains("ManifestStore.committedPairs")) Some("manifest.read")
    else if (callSite.contains(".collect(")) Some("audit")
    else if (callSite.contains("overwritePartitions")) Some("write")
    else None

  /** Jobs in start order, each tagged with its phase; a job whose call site
    * does not tell belongs to the phase of the next job that does.
    */
  def phases(jobs: Seq[JobRec]): Seq[(String, JobRec)] = {
    val sorted = jobs.sortBy(j => (j.startMs, j.id))
    val known = sorted.map(j => phase(j.callSite))
    sorted.indices.map { i =>
      known.drop(i).flatten.headOption.getOrElse("other") -> sorted(i)
    }
  }
}
