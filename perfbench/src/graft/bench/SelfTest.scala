package graft.bench

/** The benchmark's own checks; needs no Spark session.
  * `SelfTest` runs them and exits non-zero on the first failure;
  * `SelfTest --names` prints the metric registry as JSON instead. */
object SelfTest {

  private def check(cond: Boolean, what: String): Unit =
    if (!cond) { System.err.println(s"FAIL: $what"); sys.exit(1) }

  def main(args: Array[String]): Unit =
    if (args.headOption.contains("--names")) printNames() else {
      names(); percentiles(); failedOps(); rendering(); families()
      println("selftest ok")
    }

  private def printNames(): Unit = {
    def list(ms: Seq[(String, String)]) = ms.map { case (n, u) =>
      s"[${Main.json(n)}, ${Main.json(u)}]" }.mkString("[", ", ", "]")
    println(s"""{"workloads": ${Names.Workloads.map(Main.json).mkString("[", ", ", "]")}, """ +
      s""""end_to_end": ${list(Names.EndToEnd)}, "per_layer": ${list(Names.PerLayer)}}""")
  }

  private def names(): Unit = {
    val all = Names.EndToEnd ++ Names.PerLayer
    all.foreach { case (n, u) =>
      check(Names.Valid.matches(n) && n.length <= 64, s"metric name '$n'")
      check("[A-Za-z0-9_/%.-]{1,16}".r.matches(u), s"unit '$u' of $n")
    }
    check(all.map(_._1).distinct.size == all.size, "duplicate metric name")
    check(Names.EndToEnd.exists(_ == ("setup_s" -> "s")), "setup_s in seconds")
  }

  private def percentiles(): Unit = {
    val xs = (1 to 99).map(_.toDouble)
    check(Stats.percentile(xs, 90, 10).isEmpty, "p90 of 99 samples is withheld")
    check(Stats.percentile(xs :+ 100.0, 90, 10).contains(90.0), "p90 of 100 samples")
    check(Stats.percentile(Nil, 50, 0).isEmpty, "percentile of no samples")
    check(Stats.percentile(Seq(3.0, 1.0, 2.0, 5.0, 4.0), 50, 2).contains(3.0),
      "p50 of 5 samples")
    check(Stats.percentile(Seq(1.0, 2.0, 3.0), 50, 2).isEmpty,
      "p50 of 3 samples has one sample beyond it")
    check(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5, "even-size median")
  }

  private def failedOps(): Unit = {
    val r = new Recorder
    r.run("op")(1)(_ => None)
    r.run("op")(sys.error("boom"): Int)(_ => None)
    r.run("op")(2)(v => Some(s"wrong value $v"))
    check(r.attempted == 3 && r.failed == 2, "throwing and wrong ops count as failed")
    check(r.samples("op").count(_.isInfinite) == 2, "a failed op has infinite latency")
    check(Stats.percentile(r.samples("op"), 50, 1).exists(_.isInfinite),
      "failed ops miss every latency limit")
  }

  private def rendering(): Unit = {
    val r = new Recorder
    r.run("op")(sys.error("boom"): Int)(_ => None)
    val line = Main.render(traced = false,
      Map("ops_per_s" -> 1.5, "op_p50_ms" -> Double.PositiveInfinity,
        "not_a_metric" -> 2.0), Map.empty, r)
    check(line.contains("\"ops_per_s\": {\"value\": 1.5, \"unit\": \"1/s\"}"),
      "a registered metric is printed with its unit")
    check(!line.contains("op_p50_ms"), "an infinite percentile is withheld")
    check(!line.contains("not_a_metric"), "an unregistered name is never printed")
    check(line.contains("\"correct\": false") && line.contains("\"failed\": 1"),
      "a failed op makes the run incorrect")
  }

  private def families(): Unit = {
    val keys = graft.SparkEntry.queries.keySet
    val listed = Analytics.Families.values.flatten.toSeq
    check(listed.size == listed.distinct.size, "an entry is in two families")
    check(listed.toSet == keys,
      s"families vs SparkEntry.queries: missing ${keys -- listed}, " +
        s"unknown ${listed.toSet -- keys}")
    check(Analytics.Families.keySet == Names.Families.toSet, "family names")
    check(Analytics.Sample.map(Analytics.familyOf).toSet == Names.Families.toSet,
      "the sample covers every family")
  }
}
