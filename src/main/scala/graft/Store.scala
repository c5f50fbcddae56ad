package graft

import org.apache.spark.sql.SparkSession

/** The one place that knows where per-op landed state lives and when it is
  * deleted: `graft_<name>_<appId>` under the JVM temp dir, so two
  * applications on one host never share a directory, and every directory
  * handed out is deleted by one shutdown hook when the JVM exits. */
object Store {
  private val dirs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  sys.addShutdownHook(dirs.forEach { d =>
    try delete(d) catch { case _: java.io.IOException => () }
  })

  /** The landed directory `name` of the application of `s`. */
  def dir(s: SparkSession, name: String): String = track(
    new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_${name}_${s.sparkContext.applicationId}").getPath)

  /** [[dir]], with whatever an earlier run of the op left there deleted. */
  def fresh(s: SparkSession, name: String): String = {
    val d = dir(s, name)
    delete(d)
    d
  }

  /** Records `path` for deletion at JVM exit; returns it. */
  private[graft] def track(path: String): String = { dirs.add(path); path }

  private def delete(path: String): Unit =
    org.apache.spark.network.util.JavaUtils.deleteRecursively(new java.io.File(path))
}
