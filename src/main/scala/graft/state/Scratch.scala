package graft.state

import java.io.File

import org.apache.commons.io.FileUtils
import org.apache.spark.SparkFiles

/** Library scratch with the lifetime of the SparkContext that made it:
  * every path lies under `SparkFiles.getRootDirectory()/graft`, the
  * driver's per-context temp root, which Spark makes under its local dirs
  * and deletes when the context stops. The files themselves record what is
  * staged, so there is no memo map and no shutdown hook.
  */
object Scratch {

  /** This context's scratch root, the prefix of every [[dir]]. */
  def root: String = new File(SparkFiles.getRootDirectory(), "graft").getPath

  /** `name` under this context's scratch root (its writer makes it). */
  def dir(name: String): String = new File(root, name).getPath

  /** A data dir as a file- and table-name fragment. */
  def tag(dataDir: String): String = dataDir.replaceAll("[^A-Za-z0-9]", "_")

  /** The dir `write` fills for (`kind`, `dataDir`), once per context. It is
    * reused only if the marker written after `write` returns exists, so a
    * failed staging is redone. The lock is re-entrant: a `write` may stage
    * a kind it reads from. Data dirs do not change within a context.
    */
  def staged(kind: String, dataDir: String)(write: String => Unit): String =
    synchronized {
      val out = dir(s"${kind}_${tag(dataDir)}")
      val done = new File(out + ".done")
      if (!done.exists()) {
        FileUtils.deleteQuietly(new File(out))
        write(out)
        done.createNewFile()
      }
      out
    }
}
