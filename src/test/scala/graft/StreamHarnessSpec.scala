package graft

import java.nio.file.{Files, Path => JPath}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.scalatest.concurrent.Eventually
import org.scalatest.time.SpanSugar._

/** The stream harness behind the `q_st*` gates: state-partition sizing
  * read through the Hadoop FileSystem, the bounded count applied to the
  * stream and restored afterwards, and per-(application, dir) scratch
  * for the file-sink gate.
  */
class StreamHarnessSpec extends SparkTestBase with Eventually {

  /** A dir holding `documents.parquet` (a parquet directory) of `rows`. */
  private def docsDir(s: SparkSession, rows: Seq[(Long, String)]): String = {
    val sp = s
    import sp.implicits._
    val dir = Files.createTempDirectory("graft-docs")
    rows.toDF("doc_id", "text").write.parquet(dir.resolve("documents.parquet").toString)
    dir.toString
  }

  private def writeBytes(p: JPath, n: Int): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, new Array[Byte](n))
  }

  test("a file: URI dir sizes like its plain path: 8 MB a partition, nested files counted") {
    val dir = Files.createTempDirectory("graft-size")
    try {
      writeBytes(dir.resolve("part-0.parquet"), 10 << 20)
      writeBytes(dir.resolve("nested/part-1.parquet"), 7 << 20)
      val plain = SparkEntry.statePartitions(spark, dir.toString)
      assert(plain === 3) // ceil(17 MB / 8 MB)
      assert(SparkEntry.statePartitions(spark, dir.toUri.toString) === plain)
      assert(SparkEntry.statePartitions(spark, dir.resolve("part-0.parquet").toUri.toString) === 2)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("a zero-byte source keeps the session's shuffle partitions instead of 1") {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "7")
    val dir = Files.createTempDirectory("graft-empty")
    writeBytes(dir.resolve("events.parquet"), 0)
    assert(SparkEntry.statePartitions(s, dir.toString) === 7)
    assert(SparkEntry.statePartitions(s, dir.toUri.toString) === 7)
  }

  test("a stateful gate runs its state store at the sized count; the session keeps its own") {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "7")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        e.progress.stateOperators.foreach(op => seen.add(op.numShufflePartitions.toInt))
    }
    s.streams.addListener(listener)
    try {
      val dir = docsDir(s, Seq(1L -> "a b", 2L -> "c d", 3L -> "a b"))
      val out = SparkEntry.queries("q_st2_stream_dedup")(s, dir)
      assert(out.count() === 2)
      eventually(timeout(30.seconds)) { assert(!seen.isEmpty) }
      assert(seen.toArray.toSet === Set(1)) // a few hundred bytes: one partition
      assert(s.conf.get("spark.sql.shuffle.partitions") === "7")
    } finally s.streams.removeListener(listener)
  }

  test("q_st5 over a second dir leaves a lazily read first result intact") {
    val gate = SparkEntry.queries("q_st5_stream_file_sink")
    val first = gate(spark, docsDir(spark, Seq(1L -> "alpha", 2L -> "beta")))
    val second = gate(spark, docsDir(spark, Seq(10L -> "gamma")))
    assert(first.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
    assert(second.select("doc_id").collect().map(_.getLong(0)).toSeq === Seq(10L))
  }
}
