package perfbench

import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {
  import Harness.anotherPass

  test("the timed loop runs its minimum passes, capped at three windows") {
    assert(anotherPass(0, 0.0, 15, 2))
    assert(anotherPass(1, 40.0, 15, 2))
    assert(!anotherPass(1, 46.0, 15, 2))
    assert(anotherPass(0, 100.0, 15, 1))
  }

  test("a further pass starts only while it would end about inside the window") {
    // 5 s passes in a 15 s window: a third pass, not a fourth
    assert(anotherPass(2, 10.0, 15, 2))
    assert(!anotherPass(3, 15.0, 15, 2))
    // 7 s passes: the third would end near 21 s, so two passes
    assert(!anotherPass(2, 14.0, 15, 2))
    // 6.3 s passes leave 2.4 s, under half a pass: stop; 5.5 s passes go on
    assert(!anotherPass(2, 12.6, 15, 2))
    assert(anotherPass(2, 11.0, 15, 2))
  }
}
