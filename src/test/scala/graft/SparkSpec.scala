package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM via Test/fork). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(scale: String): String = s"/root/testdata/sf$scale"

  /** The SparkContext's listener bus (the bus and its methods are
    * private[spark] in Scala but public JVM methods).
    */
  private def listenerBus: AnyRef = {
    val sc = spark.sparkContext
    sc.getClass.getMethod("listenerBus").invoke(sc)
  }

  /** Block until every listener has seen the events posted so far. */
  def drainListenerBus(): Unit =
    listenerBus.getClass.getMethod("waitUntilEmpty").invoke(listenerBus)

  /** The number of `StreamingQueryListenerBus` listeners on the bus, once
    * it is drained. Stream queries add these and no GC removes them, while
    * Spark's ContextCleaner drops other listeners (a collected session's
    * `ExecutionListenerBus`) at times no test controls.
    */
  def streamingBusListeners(): Int = {
    drainListenerBus()
    listenerBus.getClass.getMethod("listeners").invoke(listenerBus)
      .asInstanceOf[java.util.List[AnyRef]].toArray
      .count(_.getClass.getSimpleName == "StreamingQueryListenerBus")
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
