package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A lifecycle fixture shared by several gate queries: built at most
  * ONCE per data dir per JVM, so every facet query reads the same
  * persisted artifacts, and concurrent Verify workers asking for the
  * same dir block on the one build instead of racing it.
  *
  * Each fixture owns its own map: builders nest (one fixture's builder
  * may call another's), and a recursive `computeIfAbsent` on one
  * shared map would throw.
  */
final class Fixture[A](build: (SparkSession, String) => A) {
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, A]()

  def apply(s: SparkSession, dir: String): A =
    cache.computeIfAbsent(dir, { d: String => build(s, d) })
}

object Fixture {

  /** Fresh scratch directory for a persisted-artifact round trip; paired
    * with [[deleteDir]] so gate/bench runs leave nothing behind.
    */
  private[graft] def tempIndexDir(prefix: String): String =
    new java.io.File(System.getProperty("java.io.tmpdir"),
      prefix + java.util.UUID.randomUUID().toString.replace("-", ""))
      .getAbsolutePath

  private[graft] def deleteDir(path: String): Unit = {
    def rec(f: java.io.File): Unit = {
      val kids = f.listFiles()
      if (kids != null) kids.foreach(rec)
      f.delete(); ()
    }
    rec(new java.io.File(path))
  }

  /** Builds a frame under a fresh scratch root (named `prefix` + a
    * random suffix), materializes it with `localCheckpoint` so nothing
    * reads the root again, then deletes the root — also when `build`
    * throws.
    */
  def scratch(prefix: String)(build: String => DataFrame): DataFrame = {
    val root = tempIndexDir(prefix)
    try build(root).localCheckpoint(true)
    finally deleteDir(root)
  }

  def apply[A](build: (SparkSession, String) => A): Fixture[A] =
    new Fixture(build)

  /** A fixture that writes its artifacts under a fresh scratch root
    * (named `prefix` + a random suffix, deleted at JVM exit); the
    * builder gets (session, data dir, root).
    */
  def rooted[A](prefix: String)
               (build: (SparkSession, String, String) => A): Fixture[A] =
    new Fixture((s, d) => {
      val root = tempIndexDir(prefix)
      sys.addShutdownHook(deleteDir(root))
      build(s, d, root)
    })
}
