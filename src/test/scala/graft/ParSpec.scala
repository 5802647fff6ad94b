package graft

import java.util.concurrent.atomic.AtomicBoolean
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Par

/** [[Par.run]]'s failure contract with plain closures (no Spark): a
  * failing branch must not let `run` return while a sibling is still
  * running, because callers clean up (delete fixture roots) as soon as
  * `run` throws.
  */
class ParSpec extends AnyFunSuite {

  test("run rethrows the first failure only after every branch finished") {
    val finished = new AtomicBoolean(false)
    val ex = intercept[IllegalStateException] {
      Par.run(
        () => throw new IllegalStateException("boom"),
        () => { Thread.sleep(300); finished.set(true) })
    }
    assert(ex.getMessage == "boom")
    assert(finished.get, "run threw before the sleeping sibling finished")
  }

  test("run rethrows the first failure in branch order") {
    val ex = intercept[IllegalStateException] {
      Par.run(
        () => { Thread.sleep(100); throw new IllegalStateException("first") },
        () => throw new IllegalStateException("second"))
    }
    assert(ex.getMessage == "first")
  }
}
