package graft.operators

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean
import org.scalatest.funsuite.AnyFunSuite

/** BatchStore.overlapWrites, the two-write overlap under SigStore.append and
  * TextIndex.append: the writes really run at once, and the background write
  * always settles — and fails loudly — before the call returns or throws. */
class OverlapWritesSpec extends AnyFunSuite {

  test("the two writes overlap: the foreground can wait on the background") {
    val started = new CountDownLatch(1)
    val seen = BatchStore.overlapWrites(started.countDown())(started.await(10, TimeUnit.SECONDS))
    assert(seen, "background never ran while the foreground waited")
  }

  test("a foreground failure waits for the background before it is rethrown") {
    val bgDone = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      BatchStore.overlapWrites {
        Thread.sleep(300)
        bgDone.set(true)
      } { throw new IllegalStateException("foreground") }
    }
    assert(e.getMessage == "foreground")
    assert(bgDone.get(), "overlapWrites threw before the background write settled")
  }

  test("a background failure is rethrown after a successful foreground") {
    val fgDone = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      BatchStore.overlapWrites(throw new IllegalStateException("background")) {
        fgDone.set(true)
      }
    }
    assert(e.getMessage == "background")
    assert(fgDone.get())
  }
}
