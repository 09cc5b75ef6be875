package graft.operators

import java.nio.file.Files

import graft.{SparkEntry, SparkSuite}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The Hilbert layout's correctness rests on the index FORMULA, so
  * this spec proves the defining curve properties of the exact
  * 8-level recurrence the query unrolls (mirrored here in plain
  * Scala): it is a bijection [0,256)² → [0,65536) and consecutive
  * indices are grid-adjacent (unit Manhattan steps — the locality
  * property Morton codes lack, and the reason Hilbert file ranges
  * cover tighter rectangles). A controlled fixture then checks the
  * registry query end-to-end against hand-derived file counts. */
class HilbertSpec extends AnyFunSuite with Matchers with SparkSuite {

  /** Plain-Scala mirror of the unrolled stages in q_scale_hilbert. */
  private def xy2d(x0: Int, y0: Int): Int = {
    var x = x0; var y = y0; var d = 0
    (0 until 8).foreach { i =>
      val s = 1 << (7 - i); val m = s - 1
      val rx = if ((x & s) > 0) 1 else 0
      val ry = if ((y & s) > 0) 1 else 0
      d += s * s * ((3 * rx) ^ ry)
      val (nx, ny) =
        if (ry == 0) {
          if (rx == 1) (m - (y & m), m - (x & m))
          else ((y & m), (x & m))
        } else ((x & m), (y & m))
      x = nx; y = ny
    }
    d
  }

  test("the index is a bijection with unit steps over the full grid") {
    val pos = new Array[Int](65536)
    java.util.Arrays.fill(pos, -1)
    (0 until 256).foreach { x =>
      (0 until 256).foreach { y =>
        val d = xy2d(x, y)
        withClue(s"($x,$y) -> $d collides with ${pos(d)}") {
          pos(d) shouldBe -1
        }
        pos(d) = x * 256 + y
      }
    }
    (0 until 65535).foreach { d =>
      val (x1, y1) = (pos(d) / 256, pos(d) % 256)
      val (x2, y2) = (pos(d + 1) / 256, pos(d + 1) % 256)
      withClue(s"step $d: ($x1,$y1)->($x2,$y2)") {
        (math.abs(x1 - x2) + math.abs(y1 - y2)) shouldBe 1
      }
    }
  }

  test("registry query matches hand-derived file counts on a controlled grid") {
    import spark.implicits._
    // every 4th grid point, one event each: ux = id % 256,
    // vx = floor(value) = (id * 4) % 256 — deterministic coverage of
    // all vx values so every layout produces files with known min/max
    val rows = (0 until 16384).map { i =>
      (i.toLong, i.toLong, ((i * 4) % 256).toDouble + 0.25, "e", "{}")
    }
    val d = Files.createTempDirectory("graft-hilbert").toString
    rows.toDF("event_id", "user_id", "value", "event_type", "props")
      .withColumn("ts", org.apache.spark.sql.functions.lit(0L))
      .write.parquet(s"$d/events.parquet")

    // expected: replay the exact pipeline through the Scala mirror
    def zOf(x: Int, y: Int): Int =
      (0 until 8).map(i =>
        (((x >> i) & 1) << (2 * i)) | (((y >> i) & 1) << (2 * i + 1))).sum
    val pts = rows.map { case (_, uid, v, _, _) =>
      ((uid % 256).toInt, math.min(255, math.max(0, v.floor.toInt)))
    }
    def fileStats(fileOf: ((Int, Int)) => Int): Map[Int, (Int, Int)] =
      pts.groupBy(fileOf).map { case (f, ps) =>
        f -> (ps.map(_._2).min, ps.map(_._2).max)
      }
    def expect(stats: Map[Int, (Int, Int)]): (Long, Long) =
      (stats.size.toLong,
        stats.values.count { case (mn, mx) => !(mx < 10 || mn >= 20) }
          .toLong)
    val exp = Map(
      "hilbert" -> expect(fileStats { case (x, y) => xy2d(x, y) / 256 }),
      "zorder" -> expect(fileStats { case (x, y) => zOf(x, y) / 256 }),
      "linear" -> expect(fileStats { case (x, _) => x }))

    val got = SparkEntry.queries("q_scale_hilbert")(spark, d).collect()
      .map(r => r.getString(0) ->
        (r.getAs[Long]("n_files"), r.getAs[Long]("files_read"))).toMap
    got shouldBe exp
  }
}
