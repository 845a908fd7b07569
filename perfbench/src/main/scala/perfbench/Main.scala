package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload, in one JVM with one driver thread
  * (a closed loop: each operation starts after the previous one ends).
  *
  *  1. Set-up, repeated [[SetupReps]] times: build the session with the
  *     engine's extensions and run its first job. The first repetition
  *     counts from JVM start.
  *  2. [[WarmupPasses]] passes over the generated input, checked but not
  *     timed.
  *  3. Timed passes until `--seconds` have passed, at least [[MinPasses]].
  *     With `--trace 1`, untraced and traced passes alternate.
  *  4. One JSON line on stdout: metrics, counts, failures, environment.
  *
  * {{{ perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *       --input DIR --work DIR --artifact FILE }}}
  */
object Main {
  val SetupReps = 3
  /** Untimed passes before the timed ones. The first pass of a JVM runs
    * cold; after it, pass times still drift down for a few passes, but
    * by less than they differ between runs (JVMs), which is what the
    * median over runs has to absorb. */
  val WarmupPasses = 1
  /** Timed passes per run at the least, whatever `--seconds` says. */
  val MinPasses = 2

  /** Per-layer metrics, reported by every traced run; a layer idle in a
    * workload reports 0. Time metrics are span self times in seconds. */
  val LayerTimes: Seq[String] = Seq(
    "io.sniff", "io.read", "io.write", "pipelines.resample", "pipelines.compare",
    "pipelines.compile", "ext.clean", "ext.exact", "ext.minhash", "ext.cc", "ext.keep",
    "plans.plan", "registry.build")
  /** Per-layer values the workloads record, with their units. */
  val LayerCounts: Seq[(String, String)] = Seq(
    "io.rows_read" -> "count", "io.bad_rows" -> "count", "io.bytes_written" -> "bytes",
    "io.sink_bytes_per_row" -> "bytes/row", "pipelines.rows_out" -> "count",
    "ext.candidates" -> "count", "ext.verified_pairs" -> "count", "ext.pair_yield" -> "ratio",
    "ext.cc_jobs" -> "count", "ext.dup_recall" -> "ratio", "streaming.batches" -> "count",
    "streaming.add_batch_s" -> "s", "streaming.query_planning_s" -> "s",
    "streaming.wal_commit_s" -> "s", "streaming.state_commit_s" -> "s",
    "streaming.state_rows" -> "count", "streaming.state_mb" -> "MB")

  final case class PassRecord(
      traced: Boolean, seconds: Double, ops: Seq[Double], counts: Counts, heapBytes: Long,
      attempted: Int, failures: Seq[String], layer: Map[String, Double], spans: Seq[Span])

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder()).iterator().asScala.foreach(Files.delete)

  def main(args: Array[String]): Unit = {
    val workloadName = arg(args, "workload")
    val workload = Workloads.all.getOrElse(workloadName,
      throw new IllegalArgumentException(s"unknown workload $workloadName"))
    val seconds = arg(args, "seconds").toDouble
    val traceRun = arg(args, "trace") == "1"
    val in = arg(args, "input")
    val work = new File(arg(args, "work")).getAbsolutePath
    val mapper = new ObjectMapper()
    val truth = mapper.readTree(new File(s"$in/truth.json"))
    val cores = Runtime.getRuntime.availableProcessors()

    var spark: SparkSession = null
    var ledger: Ledger = null
    val streams = new StreamProgress
    def session(): SparkSession = {
      val s = graft.Sessions.tuned(
          SparkSession.builder().master(s"local[$cores]").appName("perfbench"), cores.toString)
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      ledger = new Ledger
      s.sparkContext.addSparkListener(ledger)
      s.streams.addListener(streams)
      s
    }

    // ---- set-up: session with the engine's extensions, serving its first
    // job; the first repetition counts from JVM start
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val setups = (1 to SetupReps).map { rep =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session()
      spark.range(1).count()
      if (rep == 1) (System.currentTimeMillis() - jvmStartMs) / 1e3
      else (System.nanoTime() - t0) / 1e9
    }
    // ---- timed passes
    def runPass(i: Int, traced: Boolean): PassRecord = {
      val dir = s"$work/pass-$i"
      System.gc()
      val tr = new Tracer(traced, i, spark, ledger)
      val p = new Pass(spark, in, truth, dir, tr)
      val c0 = ledger.snap(spark.sparkContext)
      val t0 = System.nanoTime()
      val problems =
        try tr.span("pass")(workload.pass(p))
        catch { case e: Exception => Seq(Failure.reason(e)) }
      val secs = (System.nanoTime() - t0) / 1e9
      val counts = ledger.snap(spark.sparkContext) - c0
      p.layer ++= streams.layer(streams.take())
      tr.release()
      deleteTree(Paths.get(dir))
      val heap = Heap.retainedBytes()
      val failures = p.failures.toSeq ++ problems
      PassRecord(traced, secs, p.ops.toSeq, counts, heap, math.max(p.attempted, 1),
        failures, p.layer.toMap, tr.spans.toSeq)
    }

    val warmups = (0 until WarmupPasses).map(i => runPass(i, traced = false))
    val passes = ArrayBuffer.empty[PassRecord]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (passes.size < MinPasses || System.nanoTime() < deadline) {
      passes += runPass(WarmupPasses + passes.size, traced = traceRun && passes.size % 2 == 1)
    }
    streams.take()
    workload.afterPasses(spark, in, s"$work/after")

    // ---- result
    val plain = passes.filterNot(_.traced).toSeq
    val traced = passes.filter(_.traced).toSeq
    val passS = median(plain.map(_.seconds))
    val inputRows = truth.get("input_rows").asDouble
    val metrics = new java.util.LinkedHashMap[String, java.util.Map[String, Any]]()
    def put(name: String, value: Double, unit: String): Unit =
      metrics.put(name, Map[String, Any]("value" -> value, "unit" -> unit).asJava)

    if (!traceRun) {
      put("setup_s", median(setups), "s")
      put("pass_s", passS, "s")
      put("rows_per_s", inputRows / passS, "rows/s")
      put("retained_heap_mb", plain.map(_.heapBytes).max / 1e6, "MB")
    } else {
      val ops = plain.flatMap(_.ops)
      put("ops.p50_s", quantile(ops, 0.5), "s")
      put("ops.p90_s", quantile(ops, 0.9), "s")
      LayerTimes.foreach { n =>
        put(s"${n}_s", median(traced.map(r => Span.selfSeconds(r.spans).getOrElse(n, 0.0))), "s")
      }
      LayerCounts.foreach { case (n, unit) =>
        put(n, median(traced.map(_.layer.getOrElse(n, 0.0))), unit)
      }
      def sparkMedian(f: PassRecord => Double) = median(plain.map(f))
      put("spark.jobs", sparkMedian(_.counts.jobs.toDouble), "count")
      put("spark.stages", sparkMedian(_.counts.stages.toDouble), "count")
      put("spark.tasks", sparkMedian(_.counts.tasks.toDouble), "count")
      put("spark.task_s", sparkMedian(_.counts.taskMs / 1e3), "s")
      put("spark.busy_ratio", sparkMedian(r => r.counts.taskMs / 1e3 / (r.seconds * cores)), "ratio")
      put("spark.sched_wait_s", sparkMedian(_.counts.schedWaitMs / 1e3), "s")
      put("spark.shuffle_read_mb", sparkMedian(_.counts.shuffleRead / 1e6), "MB")
      put("spark.shuffle_write_mb", sparkMedian(_.counts.shuffleWrite / 1e6), "MB")
      put("spark.spill_mb", sparkMedian(_.counts.spill / 1e6), "MB")
      put("spark.gc_s", sparkMedian(_.counts.gcMs / 1e3), "s")
      put("spark.failed_tasks", sparkMedian(_.counts.failedTasks.toDouble), "count")
      put("trace.overhead_s", median(traced.map(_.seconds)) - passS, "s")
    }

    val checked = warmups ++ passes
    val failures = checked.flatMap(_.failures)
    val attempted = checked.map(_.attempted).sum
    val failed =
      checked.map(r => if (r.attempted > 1) r.failures.size else math.min(1, r.failures.size)).sum
    val env = new java.util.LinkedHashMap[String, Any]()
    env.put("nproc", cores)
    env.put("master", spark.sparkContext.master)
    env.put("default_parallelism", spark.sparkContext.defaultParallelism)
    env.put("shuffle_partitions", spark.conf.get("spark.sql.shuffle.partitions"))
    env.put("heap_max_mb", Runtime.getRuntime.maxMemory / 1e6)
    env.put("spark_version", spark.version)
    env.put("jdk_version", System.getProperty("java.version"))
    env.put("seed", arg(args, "seed").toLong)
    env.put("input_size", truth.get("size"))
    env.put("input_rows", inputRows)
    env.put("passes", plain.size)
    env.put("traced_passes", traced.size)
    env.put("pass_seconds", plain.map(_.seconds).asJava)
    env.put("traced_pass_seconds", traced.map(_.seconds).asJava)
    env.put("setup_seconds", setups.asJava)
    env.put("warmup_seconds", warmups.map(_.seconds).asJava)

    val result = new java.util.LinkedHashMap[String, Any]()
    result.put("correct", failed == 0)
    result.put("attempted", attempted)
    result.put("failed", failed)
    result.put("metrics", metrics)
    result.put("failures", failures.distinct.take(20).asJava)
    result.put("env", env)
    val artifact = new java.util.LinkedHashMap[String, Any](result)
    artifact.put("spans", passes.flatMap(_.spans).map { s =>
      Map[String, Any]("pass" -> s.pass, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "jobs" -> s.counts.jobs,
        "stages" -> s.counts.stages, "tasks" -> s.counts.tasks, "task_ms" -> s.counts.taskMs)
        .asJava
    }.asJava)
    mapper.writeValue(new File(arg(args, "artifact")), artifact)
    spark.stop()
    println(mapper.writeValueAsString(result))
  }
}
