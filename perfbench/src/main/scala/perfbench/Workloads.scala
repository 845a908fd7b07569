package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.ext.{Clusters, Dedup, TextStats}
import graft.io.{CamsExpertCsv, Sinks}
import graft.model.Schemas
import graft.ops.{Resample, TimeOps}
import graft.pipelines.SolarPipelines

/** A workload: one pass over its generated input, ending in a checked
  * result. `pass` returns the problems its output checks found. */
trait Workload {
  def pass(p: Pass): Seq[String]
  /** Work after the timed passes, outside every timed region. */
  def afterPasses(spark: SparkSession, in: String, dir: String): Unit = ()
}

object Workloads {
  val all: Map[String, Workload] = Map(
    "solar_validation" -> SolarValidation, "corpus_dedup" -> CorpusDedup,
    "query_mix" -> QueryMix)

  def bytesUnder(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
  }

  private[perfbench] def json[T](node: JsonNode)(f: JsonNode => T): Seq[T] =
    node.elements().asScala.map(f).toSeq

  private[perfbench] def fields(node: JsonNode): Seq[(String, JsonNode)] =
    node.fields().asScala.map(e => e.getKey -> e.getValue).toSeq
}

/** The paper's chain: raw 1-min CAMS files → 10-min resample → processed
  * files → compare against ground → compile cube → Parquet and NetCDF. */
object SolarValidation extends Workload {
  private def csvWithHeader(spark: SparkSession) = spark.read.option("header", "true")

  def pass(p: Pass): Seq[String] = {
    val spark = p.spark
    val tr = p.tr
    val out = p.dir
    val processed = s"$out/processed"
    p.op {
      // the file tag is taken at the scan: a cached frame has no file name
      val raw = tr.frame("io.read") {
        tr.span("io.sniff")(CamsExpertCsv.read(spark, s"${p.in}/raw/raw_1min_*.csv"))
          .withColumn("file_tag", regexp_extract(input_file_name(), "raw_1min_(.*)\\.csv", 1))
      }
      val resampled = tr.frame("pipelines.resample") {
        val withTime = raw
          .withColumn("time", TimeOps.parseIntervalStart(col("Observation period")))
          .na.drop(Seq("time"))
        Resample.tumblingMean(withTime, "time", 10, extraKeys = Seq("file_tag"))
          .select("time", "GHI", "DHI", "BNI", "Cloud coverage", "file_tag")
      }
      tr.span("io.write") {
        resampled.repartition(col("file_tag")).write.partitionBy("file_tag")
          .option("header", "true").csv(processed)
      }
      if (tr.on) {
        p.layer("io.rows_read") = raw.count().toDouble
        p.layer("io.bad_rows") = raw.filter(
          TimeOps.parseIntervalStart(col("Observation period")).isNull).count().toDouble
      }
    }
    val observed = s"$processed/file_tag=*_observed_cloud"
    val stats = p.op(tr.span("pipelines.compare") {
      val cams = csvWithHeader(spark).schema(Schemas.processed10Min).csv(observed)
        .withColumn("station", regexp_extract(input_file_name(), "file_tag=(.*)_observed_cloud/", 1))
      val ground = csvWithHeader(spark).schema(Schemas.groundQc)
        .csv(s"${p.in}/ground/QC_*_2024_flagged.csv")
        .withColumn("station", regexp_extract(input_file_name(), "QC_(.*)_2024_flagged\\.csv", 1))
      SolarPipelines.compareAllStations(ground, cams).collect()
    })
    val locations = csvWithHeader(spark).schema(Schemas.station).csv(s"${p.in}/stations.csv")
    val cube = tr.frame("pipelines.compile") {
      SolarPipelines.compileCube(spark, s"$observed/*.csv", locations,
        fileNamePattern = "file_tag=(.*?)_observed_cloud/")
    }
    p.op(tr.span("io.write")(Sinks.writeCube(cube, s"$out/cube")))
    p.op(tr.span("io.write")(Sinks.writeNetCdf(cube, s"$out/cube.nc")))

    tr.span("check") {
      val counts = csvWithHeader(spark).schema(Schemas.processed10Min).csv(processed)
        .groupBy("file_tag").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val wantCounts = Workloads.fields(p.truth.get("rows_per_file"))
        .map { case (k, v) => k -> v.asLong }.toMap
      val coef = stats.map(r =>
        (r.getAs[String]("station"), r.getAs[String]("component")) ->
          (r.getAs[Double]("slope"), r.getAs[Double]("intercept"))).toMap
      val wantCoef = Workloads.fields(p.truth.get("coef")).flatMap { case (station, comps) =>
        Workloads.fields(comps).map { case (c, v) =>
          (station, c) -> (v.get("slope").asDouble, v.get("intercept").asDouble)
        }
      }.toMap
      // the cube read back from its Parquet sink and from its NetCDF sink
      val cols = Seq("station", "epoch_utc", "GHI", "DHI", "DNI", "latitude", "longitude",
        "elevation")
      val written = spark.read.parquet(s"$out/cube")
        .withColumn("offset", ((unix_timestamp(col("time_local")) - col("time_epoch")) / 3600)
          .cast("int"))
        .withColumnRenamed("time_epoch", "epoch_utc")
        .select((cols :+ "offset").map(col): _*).collect()
      val cubeRows = written.length.toLong
      val offsets = written.groupBy(_.getString(0)).view
        .mapValues(_.map(_.getInt(cols.size)).toSet).toMap
      val wantOffsets = Workloads.fields(p.truth.get("cube_stations"))
        .map { case (k, v) => k -> v.asInt }.toMap
      val cubeCells = written.filter(r => (2 to 4).exists(i => !r.isNullAt(i)))
        .map(r => cols.indices.map(r.get).mkString("|")).toSeq
      val ncCells = Sinks.readNetCdfCube(spark, s"$out/cube.nc").select(cols.map(col): _*)
        .collect().map(_.mkString("|")).toSeq
      if (tr.on) {
        val sinkBytes = Workloads.bytesUnder(s"$out/cube") + Workloads.bytesUnder(s"$out/cube.nc")
        p.layer("io.bytes_written") = (Workloads.bytesUnder(processed) + sinkBytes).toDouble
        p.layer("io.sink_bytes_per_row") = sinkBytes.toDouble / math.max(1L, cubeRows)
        p.layer("pipelines.rows_out") = counts.values.sum.toDouble
      }
      Checks.sameKeys("10-min rows per file", counts, wantCounts) ++
        Checks.coefficients(coef, wantCoef) ++
        Checks.cube(offsets, wantOffsets, p.truth.get("excluded").asText) ++
        Checks.roundTrip(cubeCells, ncCells)
    }
  }
}

/** Corpus curation: clean filter → exact dedup → MinHash pairs →
  * connected components → one canonical document per cluster. */
object CorpusDedup extends Workload with AdaptiveSparkPlanHelper {

  /** Candidate pairs before verification: the rows out of the final
    * distinct over (id_a, id_b) in the plan that filled the cache. */
  private def candidates(pairs: DataFrame): Option[Long] =
    pairs.sparkSession.sharedState.cacheManager
      .lookupCachedData(pairs.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).flatMap { cd =>
      collect(cd.cachedRepresentation.cacheBuilder.cachedPlan) {
        case h: HashAggregateExec if h.aggregateExpressions.isEmpty &&
            h.requiredChildDistributionExpressions.isDefined &&
            h.output.map(_.name) == Seq("id_a", "id_b") =>
          h.metrics("numOutputRows").value
      }.headOption
    }

  def pass(p: Pass): Seq[String] = {
    val tr = p.tr
    val docs = p.spark.read.parquet(s"${p.in}/documents.parquet")
    val clean = tr.frame("ext.clean") {
      val c4 = TextStats.c4Rules(col("text"))
      docs.filter(c4.getField("long_enough") && c4.getField("no_brace") &&
        c4.getField("no_lorem") && TextStats.qualityScore(col("text")) >= 0.66 &&
        TextStats.langId(col("text")) =!= "und")
    }
    val exact = tr.frame("ext.exact")(Dedup.dropExactDuplicates(clean, "doc_id", "text"))
    val pairs = tr.frame("ext.minhash")(Dedup.minHashPairs(exact, "doc_id", "text"))
    // Dedup.keepCanonical's own composition, with the closure and the
    // anti-join as separate calls so each gets its span
    val labels = p.op(tr.frame("ext.cc")(Clusters.connectedComponents(pairs, "id_a", "id_b")))
    val kept = p.op(tr.span("ext.keep") {
      val losers = labels.filter(col("node") =!= col("cluster")).select(col("node").as("doc_id"))
      exact.join(losers, Seq("doc_id"), "left_anti").select("doc_id").collect().map(_.getLong(0))
    })
    tr.span("check") {
      val labelMap = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val clusters = Workloads.json(p.truth.get("clusters"))(c => Workloads.json(c)(_.asLong))
      val recall = Checks.recall(labelMap, clusters)
      p.layer("ext.dup_recall") = recall
      if (tr.on) {
        val verified = pairs.count().toDouble
        val cand = candidates(pairs).map(_.toDouble).getOrElse(0.0)
        p.layer("ext.verified_pairs") = verified
        p.layer("ext.candidates") = cand
        p.layer("ext.pair_yield") = if (cand > 0) verified / cand else 0.0
        p.layer("ext.cc_jobs") =
          tr.spans.filter(_.name == "ext.cc").map(_.counts.jobs).sum.toDouble
      }
      Checks.dedup(kept.toSeq, Workloads.json(p.truth.get("kept_ids"))(_.asLong), recall)
    }
  }
}

/** A fixed list of events-only registry queries, each run through the
  * noop sink; their results are checked once, after the timed passes,
  * against the registry's DuckDB oracle SQL. The last two are the
  * registry's stateful streams (tumbling mean and session window), one
  * micro-batch each. */
object QueryMix extends Workload {
  val queries: Seq[String] = Seq(
    "q_ext_value_histogram", "q_ext_sprt", "q_p2_dynamic_numeric", "q_u2_except",
    "q_r1_densify", "q_j1_time_join", "q_st1_stream_resample", "q_st7_session_window")

  def pass(p: Pass): Seq[String] = {
    val tr = p.tr
    queries.foreach { n =>
      p.attempted += 1
      try p.op {
        val df = tr.span("registry.build")(SparkEntry.queries(n)(p.spark, p.in))
        if (tr.on) tr.span("plans.plan")(df.queryExecution.executedPlan)
        tr.span("query.exec")(df.write.format("noop").mode("overwrite").save())
      } catch { case e: Exception => p.failures += s"$n: ${Failure.reason(e)}" }
    }
    Nil
  }

  /** Each query's result as Parquet plus its oracle SQL, in the layout
    * the oracle checker reads. */
  override def afterPasses(spark: SparkSession, in: String, dir: String): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val sql = new java.util.TreeMap[String, String]()
    queries.foreach { n =>
      SparkEntry.queries(n)(spark, in).coalesce(1).write.mode("overwrite").parquet(s"$dir/$n")
      sql.put(n, SparkEntry.oracleSql(n))
    }
    mapper.writeValue(new File(s"$dir/oracle_sql.json"), sql)
  }
}
