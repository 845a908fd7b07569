package perfbench

/** Output checks, as pure functions of small collected results and the
  * generator's planted truth. Each returns the problems it found; an
  * empty list means the output is correct. */
object Checks {

  private def sample[T](xs: Iterable[T]): String = xs.take(3).mkString(", ")

  /** Two keyed results agree key for key. */
  def sameKeys[V](what: String, got: Map[String, V], want: Map[String, V]): Seq[String] = {
    val missing = want.keySet -- got.keySet
    val extra = got.keySet -- want.keySet
    val wrong = want.toSeq.sortBy(_._1).collect {
      case (k, v) if got.get(k).exists(_ != v) => s"$k: got ${got(k)}, want $v"
    }
    (if (missing.nonEmpty) Seq(s"$what: ${missing.size} missing (${sample(missing)})") else Nil) ++
      (if (extra.nonEmpty) Seq(s"$what: ${extra.size} unexpected (${sample(extra)})") else Nil) ++
      (if (wrong.nonEmpty) Seq(s"$what: ${wrong.size} wrong (${sample(wrong)})") else Nil)
  }

  /** Solar compare: per station and component, the regression of the CAMS
    * series on the ground series recovers the planted line. */
  def coefficients(
      got: Map[(String, String), (Double, Double)],
      want: Map[(String, String), (Double, Double)],
      slopeTol: Double = 1e-3, interceptTol: Double = 0.1): Seq[String] = {
    val bad = want.toSeq.sorted.flatMap { case (key, (a, b)) =>
      got.get(key) match {
        case None => Some(s"$key: no regression row")
        case Some((ga, gb)) if math.abs(ga - a) > slopeTol * math.abs(a) ||
            math.abs(gb - b) > interceptTol =>
          Some(f"$key: slope $ga%.5f intercept $gb%.4f, want $a%.5f $b%.4f")
        case _ => None
      }
    }
    val extra = got.keySet -- want.keySet
    (if (bad.nonEmpty) Seq(s"compare: ${bad.size} off (${sample(bad)})") else Nil) ++
      (if (extra.nonEmpty) Seq(s"compare: unexpected rows (${sample(extra)})") else Nil)
  }

  /** Solar compile: the cube holds exactly the expected stations, never the
    * excluded one, and each station's local time is UTC plus its zone. */
  def cube(offsets: Map[String, Set[Int]], want: Map[String, Int], excluded: String): Seq[String] =
    (if (offsets.contains(excluded)) Seq(s"cube: excluded station '$excluded' present") else Nil) ++
      sameKeys("cube local-time offsets", offsets, want.map { case (k, v) => k -> Set(v) })

  /** Solar sinks: the NetCDF file read back holds the cube's rows, as
    * multisets of rows. */
  def roundTrip(cube: Seq[String], netcdf: Seq[String]): Seq[String] = {
    def counts(xs: Seq[String]) = xs.groupBy(identity).view.mapValues(_.size).toMap
    val c = counts(cube)
    val n = counts(netcdf)
    val missing = c.keySet.filter(k => c(k) > n.getOrElse(k, 0))
    val extra = n.keySet.filter(k => n(k) > c.getOrElse(k, 0))
    if (cube.isEmpty) Seq("netcdf: empty cube")
    else if (missing.isEmpty && extra.isEmpty) Nil
    else Seq(s"netcdf: ${missing.size} cube rows missing from the file (${sample(missing)}), " +
      s"${extra.size} extra (${sample(extra)})")
  }

  /** Share of planted near-duplicate pairs whose two documents ended in
    * one component. */
  def recall(labels: Map[Long, Long], clusters: Seq[Seq[Long]]): Double = {
    def pairs(n: Long) = n * (n - 1) / 2
    val planted = clusters.map(c => pairs(c.size.toLong)).sum
    val found = clusters.map { c =>
      c.flatMap(labels.get).groupBy(identity).values.map(g => pairs(g.size.toLong)).sum
    }.sum
    if (planted == 0) 1.0 else found.toDouble / planted
  }

  /** Corpus dedup: the surviving documents are exactly the planted
    * survivors, and every planted pair was found. */
  def dedup(kept: Seq[Long], wantKept: Seq[Long], recall: Double): Seq[String] = {
    val got = kept.toSet
    val want = wantKept.toSet
    val missing = (want -- got).toSeq.sorted
    val extra = (got -- want).toSeq.sorted
    (if (kept.size != got.size) Seq(s"dedup: ${kept.size - got.size} ids kept twice") else Nil) ++
      (if (missing.nonEmpty || extra.nonEmpty)
        Seq(s"dedup: kept ${got.size}, want ${want.size}; missing ${sample(missing)}; " +
          s"extra ${sample(extra)}")
      else Nil) ++
      (if (recall < 1.0) Seq(f"dedup: recall $recall%.6f of planted pairs") else Nil)
  }
}
