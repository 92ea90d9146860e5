package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** A local two-thread session shared by the tests of one suite. */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dirs = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]

  override def afterAll(): Unit = {
    spark.stop()
    dirs.foreach(d => org.apache.commons.io.FileUtils.deleteQuietly(d.toFile))
  }

  def tempDir(): java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory("perfbench")
    dirs += d
    d
  }
}
