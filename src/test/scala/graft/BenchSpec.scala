package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  // The min-of-runs merge trusts a previous detail artifact only when this
  // hash of the compiled classes matches; registry names alone cannot tell
  // two builds apart.
  test("buildFingerprint hashes the compiled graft classes, stably") {
    val fp = Bench.buildFingerprint()
    assert(fp.matches("[0-9a-f]{16}"), fp)
    assert(Bench.buildFingerprint() == fp)
  }
}
