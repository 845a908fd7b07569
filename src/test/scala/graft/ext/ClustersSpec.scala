package graft.ext

import org.apache.spark.sql.functions.{col, udf}

import graft.SparkTestBase

class ClustersSpec extends SparkTestBase {
  import spark.implicits._

  test("components: chain, clique, and a detached pair resolve to min labels") {
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), // chain 1..5
      (20L, 21L), (21L, 22L), (20L, 22L),     // triangle
      (30L, 31L)                              // pair
    ).toDF("id_a", "id_b")
    val out = Clusters.connectedComponents(edges, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert((1L to 5L).forall(out(_) == 1L))
    assert(Seq(20L, 21L, 22L).forall(out(_) == 20L))
    assert(out(30L) === 30L && out(31L) === 30L)
    assert(out.size === 10)
  }

  test("keepCanonical drops exactly the non-min cluster members") {
    val docs = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e"), (6L, "f"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val kept = Dedup.keepCanonical(docs, "doc_id", pairs)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq === Seq(1L, 4L, 5L))
  }

  test("dropSeenFingerprints keeps only unseen content") {
    val hist = Seq((1L, "seen text"), (2L, "other")).toDF("doc_id", "text")
    val store = Dedup.exactGroups(hist, "doc_id", "text").select("fingerprint")
    val fresh = Seq((10L, "seen text"), (11L, "brand new")).toDF("doc_id", "text")
    val kept = Dedup.dropSeenFingerprints(fresh, "text", store)
      .select("doc_id").as[Long].collect()
    assert(kept.toSeq === Seq(11L))
  }

  test("a 1000-node path converges well under the default cap (no diameter bound)") {
    // Diameter 1000 — min-label propagation would need 1000 rounds; the
    // alternating star algorithm must finish within the default 25.
    val path = (0L until 1000L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val out = Clusters.connectedComponents(path, "id_a", "id_b")
      .as[(Long, Long)].collect()
    assert(out.length === 1001 && out.forall(_._2 == 0L))
  }

  test("the input edge plan executes once, not once per derived node/edge set") {
    val inputRows = spark.sparkContext.longAccumulator("cc_input_rows")
    val seen = udf { (x: Long) => inputRows.add(1); x }.asNondeterministic()
    val chain = spark.range(0L, 40L)
      .select(seen(col("id")).as("id_a"), (col("id") + 1).as("id_b"))
    val out = Clusters.connectedComponents(chain, "id_a", "id_b").collect()
    assert(out.length === 41)
    assert(inputRows.value === 40L)
  }

  test("an impossible cap fails loudly instead of returning a partial closure") {
    val chain = (0L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    intercept[IllegalStateException] {
      Clusters.connectedComponents(chain, "id_a", "id_b", maxIterations = 1)
    }
  }

  test("components match a brute-force closure on a random graph") {
    val rnd = new scala.util.Random(42)
    val pairs = Seq.fill(120)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
    val expected = {
      // driver-side union-find oracle
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(ra max rb) = ra min rb
      }
      // canonical label = min of component
      val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      val byRoot = nodes.groupBy(find)
      byRoot.values.flatMap(ns => ns.map(_ -> ns.min)).toMap
    }
    val out = Clusters.connectedComponents(pairs.toDF("id_a", "id_b"), "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert(out === expected)
  }
}
