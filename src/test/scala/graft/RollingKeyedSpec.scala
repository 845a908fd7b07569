package graft

import java.nio.file.Files
import java.sql.Timestamp

/** `q_w4_rolling_keyed`'s 3-row smoothing at a partition edge: a 2-row
  * frame averaging two 6-dp values can sit exactly on a half-unit tie,
  * which must round HALF_UP like the exact decimal (and the oracle).
  */
class RollingKeyedSpec extends SparkTestBase {
  import spark.implicits._

  test("a 2-row edge frame on an exact half-unit tie rounds HALF_UP") {
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def at(min: Int) = new Timestamp(t0 + min * 60000L)
    val dir = Files.createTempDirectory("graft-w4")
    Seq(
      // (123.945532 + 123.945529) / 2 = 123.9455305 exactly; the double
      // mean is 123.94553049999999 and used to round down
      ("click", at(0), 123.945532), ("click", at(10), 123.945529),
      // non-tie control: edges average 2 rows, the middle 3
      ("view", at(0), 1.0), ("view", at(10), 2.0), ("view", at(20), 4.0)
    ).toDF("event_type", "ts", "value")
      .write.parquet(dir.resolve("events.parquet").toString)
    val out = SparkEntry.queries("q_w4_rolling_keyed")(spark, dir.toString)
      .select("event_type", "bucket_start", "smooth3", "support")
      .as[(String, Long, Double, Long)].collect().sortBy(r => (r._1, r._2))
    assert(out.map(r => (r._1, r._3, r._4)).toSeq === Seq(
      ("click", 123.945531, 2L), ("click", 123.945531, 2L),
      ("view", 1.5, 2L), ("view", 2.333333, 3L), ("view", 3.0, 2L)))
  }
}
