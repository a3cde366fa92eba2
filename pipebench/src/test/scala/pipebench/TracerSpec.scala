package pipebench

import org.scalatest.funsuite.AnyFunSuite

class TracerSpec extends AnyFunSuite {

  /** A clock the test moves by hand, in nanoseconds. */
  private final class Clock { var now = 0L }

  test("a span's self time excludes the spans opened directly inside it") {
    val c = new Clock
    val t = new Tracer(() => c.now)
    t.span("pass") {
      c.now += 10
      t.span("construct") { c.now += 30 }
      c.now += 5
      t.span("exec") {
        c.now += 20
        t.span("inner") { c.now += 15 }
      }
      c.now += 20
    }
    assert(t.selfTimes("pass") == 35e-9)
    assert(t.selfTimes("exec") == 20e-9)
    assert(t.selfTimes("construct") == 30e-9)
    assert(t.selfTimes("inner") == 15e-9)
    // self times of the tree add up to the root's wall time
    assert(math.abs(t.selfTimes.values.sum - 100e-9) < 1e-15)
  }

  test("repeated spans of one name add up, and a throw still closes the span") {
    val c = new Clock
    val t = new Tracer(() => c.now)
    t.span("root") {
      t.span("q") { c.now += 7 }
      intercept[IllegalStateException](t.span("q") { c.now += 3; throw new IllegalStateException })
      c.now += 1
    }
    assert(t.selfTimes("q") == 10e-9)
    assert(t.selfTimes("root") == 1e-9)
  }
}
