package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Guards on the driver contract itself: the registry must stay
  * internally consistent and the flagship entry must produce rows. */
class SparkEntrySpec extends AnyFunSuite with Matchers with SparkSuite {

  test("every oracle key names a registered query") {
    val qs = SparkEntry.queries.keySet
    val orphans = SparkEntry.oracleSql.keySet -- qs
    orphans shouldBe empty
  }

  test("registry names follow the q_ convention and are non-empty") {
    SparkEntry.queries.keys.foreach(_ should startWith("q_"))
    // locked to the round-7 registry: a silently dropped pack (a Map
    // key collision, a pack removed from SparkEntry.packs) shrinks
    // these counts before anything else notices
    SparkEntry.queries.size should be >= 267
    SparkEntry.oracleSql.size should be >= 265
  }

  test("no silent Map-key collisions: every GraftQuery literal reaches the registry") {
    // A duplicate name inside one pack's Map literal silently keeps
    // only the LAST entry (observed in r7: a redundant
    // q_scale_snapshot_diff shadowed an existing one with zero
    // warnings). Recover the declared names from SOURCE and require
    // them to be unique and exactly the registry key set.
    import scala.jdk.CollectionConverters._
    val srcRoot = java.nio.file.Paths.get("src/main/scala/graft")
    val pat = java.util.regex.Pattern.compile(
      "\"(q_[a-z0-9_]+)\"\\s*->\\s*GraftQuery")
    val declared = java.nio.file.Files.walk(srcRoot).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val m = pat.matcher(
          new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
        Iterator.continually(m).takeWhile(_.find()).map(_.group(1)).toList
      }
      .toSeq
    val dupes = declared.groupBy(identity).collect {
      case (n, occ) if occ.size > 1 => n
    }
    dupes shouldBe empty
    declared.toSet shouldBe SparkEntry.queries.keySet
  }

  test("flagship entry returns rows on the smoke scale factor") {
    assume(new java.io.File("/root/testdata/sf0.001/lineitem.parquet").exists)
    SparkEntry.entry(spark).count() should be > 0L
  }
}
