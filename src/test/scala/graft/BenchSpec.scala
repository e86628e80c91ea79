package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's round file holds canonical-core-count runs only. */
class BenchSpec extends AnyFunSuite {
  test("only a run at the canonical core count writes the round file") {
    assert(Bench.roundFile(21, Bench.CanonicalCpus) === "bench_out_r21.json")
    assert(Bench.roundFile(21, 8) === "bench_out_r21_c8.json")
    assert(Bench.roundFile(7, 4) === "bench_out_r07_c4.json")
  }
}
