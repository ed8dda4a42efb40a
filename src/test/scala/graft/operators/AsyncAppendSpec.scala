package graft.operators

import java.util.concurrent.{CompletableFuture, CompletionException}

import org.scalatest.funsuite.AnyFunSuite

/** q219 overlaps each batch's raw append with its sink merge and joins
  * the append after the merge ([[Curation.joiningAfter]]). A failed
  * append must not mask a failed merge: the merge's exception is the one
  * thrown, with the append's failure attached as suppressed.
  */
class AsyncAppendSpec extends AnyFunSuite {
  private def failed(msg: String): CompletableFuture[Void] =
    CompletableFuture.runAsync(() => throw new IllegalStateException(msg))

  test("a failed merge wins; the failed append is attached with addSuppressed") {
    val append = failed("append")
    val e = intercept[RuntimeException] {
      Curation.joiningAfter(append)(throw new RuntimeException("merge"))
    }
    assert(e.getMessage == "merge")
    assert(append.isDone, "the append must be joined before the merge failure propagates")
    val suppressed = e.getSuppressed.toSeq
    assert(suppressed.size == 1 && suppressed.head.isInstanceOf[CompletionException])
    assert(suppressed.head.getCause.getMessage == "append")
  }

  test("a failed merge with a clean append carries nothing suppressed") {
    val e = intercept[RuntimeException] {
      Curation.joiningAfter(CompletableFuture.completedFuture(()))(
        throw new RuntimeException("merge"))
    }
    assert(e.getMessage == "merge" && e.getSuppressed.isEmpty)
  }

  test("a clean merge surfaces the append's failure, and returns its value otherwise") {
    val e = intercept[CompletionException] {
      Curation.joiningAfter(failed("append"))(42)
    }
    assert(e.getCause.getMessage == "append")
    assert(Curation.joiningAfter(CompletableFuture.completedFuture(()))(42) == 42)
  }
}
