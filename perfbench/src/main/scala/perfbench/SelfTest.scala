package perfbench

/** Self-test of the output checks: each accepts a correct result and
  * rejects a deliberately wrong one. Exits non-zero on the first check
  * that does not.
  * {{{ perfbench.SelfTest }}}
  */
object SelfTest {
  private var failures = 0

  private def expect(what: String, problems: Seq[String], wantProblems: Boolean): Unit = {
    val ok = problems.nonEmpty == wantProblems
    if (!ok) failures += 1
    println(s"${if (ok) "ok  " else "FAIL"} $what" +
      (if (problems.nonEmpty) s": ${problems.head}" else ""))
  }

  def main(args: Array[String]): Unit = {
    // solar: rows per file, with one station-sky file dropped
    val counts = Map("Medan_clear" -> 1440L, "Medan_observed_cloud" -> 1431L,
      "Sleman_clear" -> 1440L)
    expect("row counts accepted", Checks.sameKeys("rows", counts, counts), wantProblems = false)
    expect("dropped station rejected",
      Checks.sameKeys("rows", counts - "Medan_observed_cloud", counts), wantProblems = true)
    expect("wrong row count rejected",
      Checks.sameKeys("rows", counts.updated("Medan_clear", 1439L), counts), wantProblems = true)

    // solar: regression coefficients
    val coef = Map(("Medan", "GHI") -> (1.05, -3.2), ("Medan", "DNI") -> (0.91, 4.0))
    expect("coefficients accepted", Checks.coefficients(
      coef.map { case (k, (a, b)) => k -> (a * (1 + 1e-5), b + 0.01) }, coef), wantProblems = false)
    expect("off slope rejected", Checks.coefficients(
      coef.updated(("Medan", "GHI"), (1.2, -3.2)), coef), wantProblems = true)
    expect("missing component rejected", Checks.coefficients(
      coef - (("Medan", "DNI")), coef), wantProblems = true)

    // solar: cube stations, exclusion and local-time offsets; NetCDF
    val zones = Map("medan" -> 7, "ambon" -> 9)
    val offsets = zones.map { case (k, v) => k -> Set(v) }
    expect("cube accepted", Checks.cube(offsets, zones, "sleman"), wantProblems = false)
    expect("excluded station rejected",
      Checks.cube(offsets + ("sleman" -> Set(7)), zones, "sleman"), wantProblems = true)
    expect("wrong local time rejected",
      Checks.cube(offsets.updated("ambon", Set(8)), zones, "sleman"), wantProblems = true)
    val cells = Seq("medan|1704067200|0.0|0.0|0.0|3.5|98.6|25.0", "ambon|1704067200|1.5|0.5|1.0|-3.7|128.2|8.0")
    expect("NetCDF round trip accepted", Checks.roundTrip(cells, cells.reverse), wantProblems = false)
    expect("NetCDF row loss rejected", Checks.roundTrip(cells, cells.take(1)), wantProblems = true)

    // corpus: survivors and recall of planted pairs
    val clusters = Seq(Seq(2L, 5L, 9L), Seq(4L, 7L))
    val labels = Map(2L -> 2L, 5L -> 2L, 9L -> 2L, 4L -> 4L, 7L -> 4L)
    val kept = Seq(1L, 2L, 3L, 4L)
    val full = Checks.recall(labels, clusters)
    expect("dedup accepted", Checks.dedup(kept, kept, full), wantProblems = false)
    // the pair (2, 9) and (5, 9) are lost: 9 is its own component
    val split = labels.updated(9L, 9L)
    val lost = Checks.recall(split, clusters)
    expect("lost planted pair rejected", Checks.dedup(kept :+ 9L, kept, lost), wantProblems = true)
    expect("recall counts lost pairs", if (math.abs(lost - 2.0 / 4) < 1e-12) Nil else
      Seq(s"recall $lost, want 0.5"), wantProblems = false)
    expect("missing survivor rejected", Checks.dedup(kept.tail, kept, full), wantProblems = true)

    if (failures > 0) sys.exit(1)
  }
}
