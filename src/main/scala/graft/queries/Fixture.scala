package graft.queries

import org.apache.spark.sql.SparkSession

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

  def apply[A](build: (SparkSession, String) => A): Fixture[A] =
    new Fixture(build)

  /** A fixture that writes its artifacts under a fresh scratch root
    * (named `prefix` + a random suffix, deleted at JVM exit); the
    * builder gets (session, data dir, root).
    */
  def rooted[A](prefix: String)
               (build: (SparkSession, String, String) => A): Fixture[A] =
    new Fixture((s, d) => {
      val root = Curation2.tempIndexDir(prefix)
      sys.addShutdownHook(Curation2.deleteDir(root))
      build(s, d, root)
    })
}
