package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The cluster checkpoint swap, EXERCISED instead of claimed: the
  * heaviest checkpoint-dependent iterative operators (connected
  * components and the k-core peel) run once in the default
  * localCheckpoint mode and once with `graft.reliableCkpt=1` +
  * `setCheckpointDir` (reliable `df.checkpoint()`), and must produce
  * identical results. README's "one-line swap at each call site" is
  * thereby a tested switch ([[graft.core.Ckpt]]).
  */
class CkptSwapSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def withReliable[A](body: => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_")
    spark.sparkContext.setCheckpointDir(dir.toString)
    sys.props("graft.reliableCkpt") = "1"
    try body
    finally {
      sys.props.remove("graft.reliableCkpt")
      // scratch dir cleanup (reliable checkpoints are not auto-deleted)
      graft.queries.Fixture.deleteDir(dir.toString)
    }
  }

  private def edges = {
    // two dense communities + a chain of pendants between them
    val tri = for {
      base <- Seq(0L, 100L); i <- 0L to 5L; j <- (i + 1) to 5L
    } yield (base + i, base + j)
    val chain = Seq((5L, 50L), (50L, 51L), (51L, 100L))
    (tri ++ chain).toDF("a", "b")
  }

  test("Ckpt dispatches: reliable mode is off by default") {
    assert(!graft.core.Ckpt.reliable)
    withReliable { assert(graft.core.Ckpt.reliable) }
    assert(!graft.core.Ckpt.reliable)
  }

  test("kcorePeel: reliable checkpoint() == localCheckpoint, row for row") {
    def run() = graft.ops.Graph.kcorePeel(edges, "a", "b", k = 3)
      .as[(Long, Long)].collect().toSet
    val local = run()
    val reliable = withReliable(run())
    assert(local == reliable)
    // and the result is the right one: both 6-cliques survive at
    // degree 5, the pendant chain is peeled
    assert(local == (for {
      base <- Seq(0L, 100L); i <- 0L to 5L
    } yield (base + i, 5L)).toSet)
  }

  test("connectedComponents: reliable checkpoint() == localCheckpoint") {
    def run() = graft.ops.Dedup.connectedComponents(edges, "a", "b")
      .as[(Long, Long)].collect().toSet
    val local = run()
    val reliable = withReliable(run())
    assert(local == reliable)
    // the chain bridges the cliques: one component rooted at 0
    assert(local.map(_._2) == Set(0L))
  }
}
