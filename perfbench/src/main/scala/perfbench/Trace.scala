package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One span: a call into a layer, with the execution it caused. */
final case class Span(
    pass: Int, id: Int, parent: Int, name: String, startNs: Long, endNs: Long, counts: Counts) {
  def seconds: Double = (endNs - startNs) / 1e9
}

object Span {
  /** Seconds per span name, each span counted by its self time: its
    * duration minus the part its child spans cover. */
  def selfSeconds(spans: Seq[Span]): Map[String, Double] = {
    val childTime = spans.groupBy(_.parent).view.mapValues(_.map(_.seconds).sum).toMap
    spans.groupBy(_.name).view
      .mapValues(_.map(s => s.seconds - childTime.getOrElse(s.id, 0.0)).sum).toMap
  }
}

/** Spans around the benchmark's calls into each engine layer. Off, it runs
  * the bodies untouched. On, every span snapshots the listener counters at
  * its boundaries, and [[frame]] materializes the layer's output (cached,
  * through the noop sink) inside the span, so the span holds the
  * execution the call caused rather than leaving it to the next layer. */
final class Tracer(val on: Boolean, pass: Int, spark: SparkSession, ledger: Ledger) {
  val spans = ArrayBuffer.empty[Span]
  private var stack = List(-1)
  private var nextId = 0
  private val cached = ArrayBuffer.empty[DataFrame]

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.head
      stack = id :: stack
      val c0 = ledger.snap(spark.sparkContext)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans += Span(pass, id, parent, name, t0, t1, ledger.snap(spark.sparkContext) - c0)
      }
    }

  /** A layer call that returns a frame: traced, the frame is planned in a
    * child span, then cached and materialized inside the layer's span. */
  def frame(name: String)(build: => DataFrame): DataFrame =
    if (!on) build
    else span(name) {
      val df = build
      span("plans.plan")(df.queryExecution.executedPlan)
      df.persist()
      cached += df
      df.write.format("noop").mode("overwrite").save()
      df
    }

  def release(): Unit = cached.foreach(_.unpersist(blocking = true))
}

/** Everything one pass of a workload sees. */
final class Pass(
    val spark: SparkSession, val in: String, val truth: JsonNode, val dir: String,
    val tr: Tracer) {
  /** Latency of each client-visible operation the pass made. */
  val ops = ArrayBuffer.empty[Double]
  /** Operations attempted and failure reasons, when a workload counts its
    * own operations; otherwise the pass is the one operation. */
  var attempted = 0
  val failures = ArrayBuffer.empty[String]
  /** Layer counts measured in traced passes (rows, bytes, pairs...). */
  val layer = mutable.LinkedHashMap.empty[String, Double]

  def op[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally ops += (System.nanoTime() - t0) / 1e9
  }
}

object Failure {
  /** Exception class and the first line of its message, and the same for
    * the root cause when the exception wraps one. */
  def reason(e: Throwable): String = {
    def line(t: Throwable) = {
      val msg = Option(t.getMessage).flatMap(_.linesIterator.nextOption()).getOrElse("")
      s"${t.getClass.getName}: ${msg.take(300)}"
    }
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    if (root eq e) line(e) else s"${line(e)} <- ${line(root)}"
  }
}
