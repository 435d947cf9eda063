package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SPARK_GRAFT_CPUS` is parsed once into a positive Int; anything else
  * fails loudly instead of reaching a master URL or a bench record.
  * Pure JVM-side, no SparkSession.
  */
class GraftSessionSpec extends AnyFunSuite {

  test("core count: 4 when unset, the number when positive") {
    assert(GraftSession.parseCpus(None) == 4)
    assert(GraftSession.parseCpus(Some("32")) == 32)
    assert(GraftSession.parseCpus(Some("032")) == 32)
  }

  test("core count: anything but a positive integer is rejected") {
    Seq("", "*", "0", "-8", "4.0", " 8", "eight").foreach { v =>
      intercept[IllegalArgumentException](GraftSession.parseCpus(Some(v)))
    }
  }
}
