package perfbench

/** Harness entry point, launched by perfbench/run.py:
  *
  *  - `--phase prepare` (`clips`, `neardup`) generates the seeded inputs and
  *    stores the expected results (see [[Prepared]]), then exits;
  *  - `--phase measure` sets up, runs the workload and checks every result.
  *    It prints one JSON line: the operation counts, the metrics (each with
  *    unit and sample count) and a record of the inputs.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    new java.io.File(a.work).mkdirs()
    if (a.phase == "prepare") {
      a.workload match {
        case "clips"    => Clips.prepare(a)
        case "neardup"  => NearDup.prepare(a)
        case other      => sys.error(s"unknown workload '$other'")
      }
      return
    }
    require(a.phase == "measure", s"unknown phase '${a.phase}'")
    if (a.sweep) {
      println(Json.value(Seq("sweep" -> Clips.sweep(a, Prepared.read(a)))))
      return
    }
    val r = a.workload match {
      case "clips"    => Clips.run(a, Prepared.read(a))
      case "json_cli" => JsonCli.run(a)
      case "neardup"  => NearDup.run(a, Prepared.read(a))
      case other      => sys.error(s"unknown workload '$other'")
    }
    println(Json.value(Seq(
      "attempted" -> r.attempted,
      "failed" -> r.failed,
      "known_failed" -> r.knownFailed,
      "child_peak_rss_mb" -> r.childPeakRssMb.getOrElse(Double.NaN),
      "metrics" -> r.metrics.map(m => m.name -> m),
      "record" -> (r.record ++ Seq(
        "spark_version" -> org.apache.spark.SPARK_VERSION,
        "cores" -> a.cores)))))
  }
}
