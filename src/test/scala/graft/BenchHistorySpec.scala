package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** BENCH_HISTORY.json is the baseline every future round's rerun
  * criterion diffs against — pin its read contract so a format or
  * guard regression corrupts the criterion in CI, not in a committed
  * artifact:
  *   - `_sf` stamp mismatch ⇒ the file is IGNORED (one forgotten
  *     SPARK_GRAFT_HISTORY on a smoke run must not pollute the sf0.1
  *     medians with 10×-smaller samples);
  *   - matching or missing stamp ⇒ accepted (legacy files);
  *   - corrupt/absent file ⇒ empty, never an exception (a broken
  *     history must not kill the bench — thresholds fall back to the
  *     2 s flat floor);
  *   - median() over the sample lists, both parities.
  */
class BenchHistorySpec extends AnyFunSuite with Matchers {

  private def tempWith(content: String): String = {
    val p = Files.createTempFile("graft-hist", ".json")
    Files.write(p, content.getBytes("UTF-8"))
    p.toString
  }

  test("a stamp mismatch ignores the file; a match reads it") {
    val path = tempWith(
      """{"_sf":"/data/sf0.1","q_a":[1.0,2.0],"q_b":[0.5]}""")
    val foreign = Bench.readHistory(path, "/data/sf0.01")
    foreign.samples shouldBe empty
    // main skips BOTH write-backs when the committed file is stamped
    // for another sf — ignoring it on read but restamping on write
    // would destroy the baseline anyway
    foreign.foreignSf shouldBe true
    val read = Bench.readHistory(path, "/data/sf0.1")
    read.foreignSf shouldBe false
    val ok = read.samples
    ok("q_a") shouldBe List(1.0, 2.0)
    ok("q_b") shouldBe List(0.5)
    ok should not contain key("_sf")
  }

  test("an unstamped legacy file is accepted at any scale factor") {
    val path = tempWith("""{"q_a":[3.25]}""")
    Bench.readHistory(path, "/anything").samples("q_a") shouldBe List(3.25)
  }

  test("corrupt or missing history is empty, never an exception") {
    Bench.readHistory(tempWith("""not json at all {{{"""),
      "/data/sf0.1").samples shouldBe empty
    Bench.readHistory("/nonexistent/path/hist.json",
      "/data/sf0.1").samples shouldBe empty
    // top-level non-object parses but carries no entries
    Bench.readHistory(tempWith("""[1, 2, 3]"""), "/x").samples shouldBe empty
  }

  test("integer-typed samples read as doubles (hand-edited files)") {
    val path = tempWith("""{"_sf":"/d","q_a":[1, 2.5]}""")
    Bench.readHistory(path, "/d").samples("q_a") shouldBe List(1.0, 2.5)
  }

  test("readHistoryRaw returns stamp AND samples from one parse") {
    // main derives BOTH guards (criterion read, write-skip) from this
    // single read — r10 closed the re-read TOCTOU the old shape had
    val path = tempWith("""{"_sf":"/d/sf0.1","q_a":[1.0,2.0]}""")
    val (stamp, samples) = Bench.readHistoryRaw(path)
    stamp shouldBe Some("/d/sf0.1")
    samples("q_a") shouldBe List(1.0, 2.0)
    Bench.readHistoryRaw(tempWith("""{"q_a":[1.0]}""")) shouldBe
      (None, Map("q_a" -> List(1.0)))
    Bench.readHistoryRaw("/nonexistent/h.json") shouldBe (None, Map.empty)
    Bench.readHistoryRaw(tempWith("junk{{")) shouldBe (None, Map.empty)
  }

  test("median: odd picks middle, even averages, empty is NaN") {
    Bench.median(List(3.0, 1.0, 2.0)) shouldBe 2.0
    Bench.median(List(4.0, 1.0, 2.0, 3.0)) shouldBe 2.5
    Bench.median(List(7.5)) shouldBe 7.5
    Bench.median(Nil).isNaN shouldBe true
    // the property the criterion leans on: one loaded-run outlier
    // cannot drag the median past the clean samples
    Bench.median(List(0.8, 0.9, 41.0)) shouldBe 0.9
  }
}
