package graft

import org.scalatest.funsuite.AnyFunSuite

/** Spike-closure history is chosen by round name: every file of a fresh
  * checkout has the same mtime, so mtime cannot order them. */
class BenchHistorySpec extends AnyFunSuite {

  test("highest round wins, by number rather than by string") {
    assert(Bench.historyFile(Seq("BENCH_local_r9d.json",
      "BENCH_local_r10_final.json", "BENCH_local_r11.json")) ==
      Some("BENCH_local_r11.json"))
  }

  test("within the round a _final file wins, else the last name") {
    assert(Bench.historyFile(Seq("BENCH_local_r12c_final.json",
      "BENCH_local_r12.json", "BENCH_local_r11.json")) ==
      Some("BENCH_local_r12c_final.json"))
    assert(Bench.historyFile(Seq("BENCH_local_r15.json",
      "BENCH_local_r15_opt2.json", "BENCH_local_r15_opt.json")) ==
      Some("BENCH_local_r15_opt2.json"))
  }

  test("other files are ignored; no round file gives no history") {
    assert(Bench.historyFile(Seq("BENCH_r16.json", "bench_out.json",
      "BENCH_local_r14.json", "BENCH_local_notes.json")) ==
      Some("BENCH_local_r14.json"))
    assert(Bench.historyFile(Seq("BENCH_r16.json", "README.md")).isEmpty)
  }
}
