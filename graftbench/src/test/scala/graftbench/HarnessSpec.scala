package graftbench

import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {
  private def harness(timeoutS: Int = 30) = {
    val h = new Harness(opTimeoutS = timeoutS)
    h.window = "timed"
    h
  }

  test("a throwing operation counts as failed with its reason and records no time") {
    val h = harness()
    val r = h.op("search")(throw new IllegalStateException("index is gone"))(_ => None)
    assert(r.isEmpty)
    assert(h.attempted === 1)
    assert(h.failures.toSeq === Seq("search" -> "java.lang.IllegalStateException: index is gone"))
    assert(h.samplesMs("search", "timed").isEmpty)
    h.shutdown()
  }

  test("a wrong answer counts as failed and records no time") {
    val h = harness()
    h.op("search")(3)(x => if (x != 4) Some(s"got $x, expected 4") else None)
    h.op("search")(4)(x => if (x != 4) Some(s"got $x, expected 4") else None)
    assert(h.attempted === 2)
    assert(h.failures.toSeq === Seq("search" -> "got 3, expected 4"))
    assert(h.samplesMs("search", "timed").size === 1)
    h.shutdown()
  }

  test("an operation past its bound is cancelled and counts as failed") {
    val h = harness(timeoutS = 1)
    val r = h.op("slow")(Thread.sleep(10000))(_ => None)
    assert(r.isEmpty)
    assert(h.failures.toSeq === Seq("slow" -> "timed out after 1 s"))
    assert(h.op("fast")(1)(_ => None) === Some(1), "the client thread is free again")
    h.shutdown()
  }

  test("success_rate falls with each failed operation") {
    val h = harness()
    (1 to 9).foreach(i => h.op("ok")(i)(_ => None))
    h.op("bad")(sys.error("boom"))(_ => None)
    assert((h.attempted - h.failures.size).toDouble / h.attempted === 0.9)
    h.shutdown()
  }

  test("a loop stops at its step count, or after 20 failures") {
    val h = harness()
    assert(h.loop(30, steps = 5)(_ => h.op("ok")(1)(_ => None)) === 5)
    assert(h.loop(30)(_ => h.op("bad")(sys.error("boom"))(_ => None)) === 20)
    h.shutdown()
  }
}
