package perfbench

import java.io.File

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession

import graft.pipeline.Pipeline

/** One workload: set-up, then operations run one after another by a single
  * client (a closed loop). `run` is the timed part of an operation;
  * `prepare`, `check` and `cleanup` are not timed.
  */
trait Workload {
  type R
  def inputRows: Long
  /** Untimed operations before the measured ones (JIT, codegen, first writes). */
  def warmups: Int
  /** Named set-up steps with their times in seconds. */
  def setup(): Seq[(String, Double)]
  def prepare(i: Int): Unit = ()
  def run(i: Int): R
  /** None when the operation's outputs are correct, else what is wrong. */
  def check(i: Int, r: R): Option[String]
  def cleanup(i: Int): Unit = ()
  /** Walls of the named parts of the last operation, in seconds. */
  def parts: Map[String, Double] = Map.empty
}

object Workload {
  def timed(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  /** Times the input generation three times; the run reports the median, so
    * one slow repetition does not move the set-up time.
    */
  def generate(f: => Unit): Seq[(String, Double)] =
    (1 to 3).map(_ => "generate" -> timed(f))
}

/** `Pipeline.run` into an empty output root. */
final class PipelineFresh(pipe: PipelineFixture, work: String) extends Workload {
  type R = Pipeline.RunReport
  def inputRows: Long = pipe.turns
  // runs keep getting faster until about the sixth: the fourth and fifth
  // are still 10-15% slower than the steady ones
  override def warmups: Int = 5
  private def root(i: Int) = s"$work/out/fresh-$i"

  def setup(): Seq[(String, Double)] =
    Workload.generate(pipe.generate()) :+ ("reference" -> Workload.timed(pipe.reference()))

  def run(i: Int): R = pipe.run(root(i), s"fresh-$i")
  def check(i: Int, r: R): Option[String] = pipe.checkFresh(root(i), r)
  override def cleanup(i: Int): Unit = FileUtils.deleteQuietly(new File(root(i)))
}

/** `Pipeline.run` resuming a run that wrote everything but committed only
  * the even buckets.
  */
final class PipelineResume(spark: SparkSession, pipe: PipelineFixture, work: String)
    extends Workload {
  type R = Pipeline.RunReport
  def inputRows: Long = pipe.turns
  // as for a fresh run
  override def warmups: Int = 5
  private val finished = s"$work/finished"
  private def root(i: Int) = s"$work/out/resume-$i"
  var pairs: Seq[(String, Int, Long)] = Nil
  def rowsToWrite: Long = pipe.turns - pairs.map(_._3).sum

  def setup(): Seq[(String, Double)] =
    Workload.generate(pipe.generate()) ++ Seq(
      "reference" -> Workload.timed(pipe.reference()),
      "finished_run" -> Workload.timed(finish()))

  /** The run the resumed runs start from; needs the reference. */
  def finish(): Unit = {
    FileUtils.deleteQuietly(new File(finished))
    val r = pipe.run(finished, "finished")
    pipe.checkFresh(finished, r).foreach(e => sys.error(s"finished run: $e"))
    pairs = ResumePrep.evenPairs(spark, finished)
  }

  override def prepare(i: Int): Unit =
    ResumePrep.prepare(spark, finished, root(i), pairs, s"crashed-$i")
  def run(i: Int): R = pipe.run(root(i), s"resume-$i")
  def check(i: Int, r: R): Option[String] = pipe.checkResumed(root(i), r, rowsToWrite)
  override def cleanup(i: Int): Unit = FileUtils.deleteQuietly(new File(root(i)))
}

/** One pass over the query mix, always in the same order, so that every
  * pass plans and compiles the same queries after the same ones.
  */
final class OpsMix(ops: OpsFixture, tracer: Tracer,
    expected: Map[String, (Long, Long)]) extends Workload {
  type R = Seq[(String, (Long, Long))]
  def inputRows: Long = ops.inputRows
  // the first pass compiles every query and takes about three steady
  // passes; passes keep getting faster until about the sixth
  override def warmups: Int = 5

  def setup(): Seq[(String, Double)] = Workload.generate(ops.stage())

  override def prepare(i: Int): Unit = ops.release()

  private var walls = Map.empty[String, Double]
  override def parts: Map[String, Double] = walls

  def run(i: Int): R = {
    walls = Map.empty
    ops.queries.map { q =>
      val t0 = System.nanoTime()
      val got = tracer.span(s"ops.$q")(ops.run(q))
      walls += q -> (System.nanoTime() - t0) / 1e9
      q -> got
    }
  }

  def check(i: Int, r: R): Option[String] = {
    val bad = r.filter { case (q, got) => !expected.get(q).contains(got) }
    if (bad.isEmpty) None
    else Some(bad.map { case (q, got) => s"$q: got $got, expected ${expected.get(q)}" }
      .mkString("; "))
  }
}
