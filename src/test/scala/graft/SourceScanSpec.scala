package graft

import java.io.File

import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite

/** Library code assumes nothing about the host it runs on: scratch lives
  * under the SparkContext's own temp root ([[graft.state.Scratch]]), so no
  * file names a host path or outlives its context through a JVM shutdown
  * hook. The bench mains, which set up their host, may name its paths.
  */
class SourceScanSpec extends AnyFunSuite {

  private val main = new File("src/main/scala")

  private def offenders(needle: String, exempt: Set[String]): Seq[String] = {
    def files(d: File): Seq[File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    files(main).filter(_.getName.endsWith(".scala"))
      .map(f => main.toPath.relativize(f.toPath).toString)
      .filterNot(exempt)
      .filter { rel =>
        val src = Source.fromFile(new File(main, rel), "UTF-8")
        try src.mkString.contains(needle) finally src.close()
      }
  }

  test("library code names no /dev/shm path and registers no shutdown hook") {
    assert(main.isDirectory, s"${main.getAbsolutePath} is not the source root")
    assert(offenders("/dev/shm",
      Set("graft/Bench.scala", "graft/ScaleBench.scala")) === Nil)
    assert(offenders("addShutdownHook", Set.empty) === Nil)
  }

  test("library code keeps no module-level memo map") {
    // a TrieMap keyed on a data dir outlives the data it describes; reused
    // frames live in the session's CacheManager instead
    assert(offenders("TrieMap", Set.empty) === Nil)
  }
}
