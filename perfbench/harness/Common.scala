package perfbench

import org.apache.spark.sql.SparkSession

/** Command-line options of one harness run (see perfbench/README.md). */
final case class Args(
    phase: String,         // prepare (inputs and expected results) | measure
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    work: String,          // scratch directory for inputs and outputs
    cores: Int,            // N of local[N]
    inject: Option[String],// self-test fault: see perfbench/selftest.py
    javaOpts: Seq[String], // JVM flags of child processes (json_cli)
    programClasspath: String, // program classpath for CLI children
    harnessClasspath: String,
    sweep: Boolean         // clips only: local[1]/[2]/[4] sweep for the docs
) {
  /** Set-ups per run; setup_s is their median. A traced run reports no
    * setup_s, so it sets up once.
    */
  def setupReps: Int = if (trace) 1 else 2
}

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    def req(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(
      phase = req("phase"),
      workload = req("workload"),
      seed = req("seed").toLong,
      seconds = req("seconds").toDouble,
      trace = m.getOrElse("trace", "0") == "1",
      work = req("work"),
      cores = m.get("cores").map(_.toInt)
        .getOrElse(Runtime.getRuntime.availableProcessors()),
      inject = m.get("inject").filter(_.nonEmpty),
      javaOpts = m.get("java-opts").toSeq.flatMap(_.split(" ").filter(_.nonEmpty)),
      programClasspath = m.getOrElse("program-cp", ""),
      harnessClasspath = m.getOrElse("harness-cp", ""),
      sweep = m.get("sweep").contains("1"))
  }
}

/** One reported number: value, unit and how many samples it summarizes. */
final case class Metric(name: String, value: Double, unit: String, samples: Int)

/** What a workload run hands back to [[Main]]. `attempted`/`failed` count
  * operations (iterations, or documents for json_cli); `knownFailed` is the
  * part of `failed` that matches a documented program defect.
  */
final case class Result(
    attempted: Long,
    failed: Long,
    knownFailed: Long,
    metrics: Seq[Metric],
    record: Seq[(String, Any)],
    childPeakRssMb: Option[Double] = None)

/** Outcome of one closed-loop operation batch. */
final case class Outcome(attempted: Long, failed: Long, knownFailed: Long = 0L)

object Loop {
  final case class Stats(times: Vector[Double], attempted: Long, failed: Long,
                         knownFailed: Long, threw: Int, iterations: Int) {
    /** The untraced result: set-up, median iteration time and throughput. */
    def result(rows: Long, setups: Setup.Times, record: Seq[(String, Any)],
               childPeakRssMb: Option[Double] = None): Result = {
      val v = if (times.nonEmpty) Num.median(times) else Double.NaN
      Result(attempted, failed, knownFailed, Seq(
        Metric("setup_s", setups.median, "s", setups.total.size),
        Metric("verdict_s", v, "s", times.size),
        Metric("rows_per_s", rows / v, "rows/s", times.size)),
        record ++ setups.parts ++ Seq("iterations" -> iterations, "threw" -> threw,
          "iteration_s" -> times),
        childPeakRssMb)
    }
  }

  /** Closed loop with one client: the next iteration starts when the
    * previous one (including its check) has ended; iterations start until
    * `seconds` have passed. A thrown iteration counts all of its `opsPerIter`
    * operations as failed and contributes no time sample.
    */
  def run(seconds: Double, opsPerIter: Long)(iter: Int => (Double, Outcome)): Stats = {
    val t0 = System.nanoTime()
    var times = Vector.empty[Double]
    var att, fail, known = 0L
    var threw, i = 0
    while (i == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      try {
        val (dt, o) = iter(i)
        times :+= dt; att += o.attempted; fail += o.failed; known += o.knownFailed
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"perfbench: iteration $i threw: $e")
          threw += 1; att += opsPerIter; fail += opsPerIter
      }
      i += 1
    }
    Stats(times, att, fail, known, threw, i)
  }
}

object Num {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def time[T](f: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = f
    ((System.nanoTime() - t0) / 1e9, r)
  }

  /** Median wall time of `reps` calls of `f`. */
  def medianTime(reps: Int)(f: => Any): Double =
    median((1 to reps).map(_ => time(f)._1))
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: Metric => s"""{"value":${num(m.value)},"unit":${str(m.unit)},"samples":${m.samples}}"""
    case xs: Seq[_] if xs.forall(_.isInstanceOf[(_, _)]) =>
      xs.map { case (k, x) => s"${str(k.toString)}:${value(x)}" }.mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case o => str(o.toString)
  }
}

object Session {
  /** The benchmark's Spark session: local[cores], AQE on, UI off, temp
    * files inside the work directory, 2 × N shuffle partitions (the CLI
    * defaults to 32, which on a small box mostly adds per-task overhead).
    */
  def start(a: Args, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", (2 * a.cores).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

/** The inputs and expected results of a `clips` or `neardup` run, written
  * by the prepare phase (a JVM of its own that exits before the measured one
  * starts) as a properties file in the work directory. The measured JVM
  * then holds only the workload's own data, so its peak RSS is the
  * workload's.
  */
object Prepared {
  private def file(a: Args) = new java.io.File(a.work, "prepared.properties")

  /** Starts a session, generates the inputs (timed), then stores the
    * expected results `facts` computes.
    */
  def write(a: Args)(generate: SparkSession => Unit,
                     facts: SparkSession => Seq[(String, Any)]): Unit = {
    val spark = Session.start(a, a.cores)
    val p = new java.util.Properties()
    p.setProperty("generate_s", Num.time(generate(spark))._1.toString)
    facts(spark).foreach { case (k, v) => p.setProperty(k, v.toString) }
    Session.stop(spark)
    val out = new java.io.FileOutputStream(file(a))
    try p.store(out, null) finally out.close()
  }

  def read(a: Args): Map[String, String] = {
    val p = new java.util.Properties()
    val in = new java.io.FileInputStream(file(a))
    try p.load(in) finally in.close()
    import scala.jdk.CollectionConverters._
    p.asScala.toMap
  }

  def generateTime(p: Map[String, String]): Double = p("generate_s").toDouble
}

object Setup {
  final case class Times(total: Seq[Double], session: Seq[Double], gen: Seq[Double],
                         warm: Seq[Double]) {
    def median: Double = Num.median(total)
    def parts: Seq[(String, Any)] = Seq("setup_session_s" -> Num.median(session),
      "setup_generate_s" -> Num.median(gen), "setup_warmup_s" -> Num.median(warm))
  }

  /** `a.setupReps` set-ups, each a session start, input generation and a
    * warm-up; setup_s is the median of their totals. `generate` returns the
    * generation's seconds: measured here, or those of a prepare phase.
    */
  def repeat(a: Args)(session: () => Unit, generate: () => Double, warm: () => Any): Times = {
    val r = (1 to a.setupReps).map { _ =>
      val s = Num.time(session())._1
      val g = generate()
      val w = Num.time(warm())._1
      (s + g + w, s, g, w)
    }
    Times(r.map(_._1), r.map(_._2), r.map(_._3), r.map(_._4))
  }
}
