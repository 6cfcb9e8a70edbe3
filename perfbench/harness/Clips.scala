package perfbench

import graft.ClipSuite
import graft.compile.SuiteCompiler
import graft.exec.{Engine, Validator}
import graft.spec.{Drift, ForeignKey, Spec, Stats, Unique}
import graft.table.TableChecks
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `clips`: the north-star job — the fused clip suite
  * (`Engine.fusedPlan(df, ClipSuite.specJson, Seq("clip_id"), refs)` then
  * `.count()`) over a seeded parquet clip table with planted defects.
  */
object Clips {
  val inputRows = 200000L

  /** Planted defect classes: (name, share per million, row violations each). */
  val classes: Seq[(String, Int, Int)] = Seq(
    ("bad_uuid", 4000, 1),      // uuid format fails, the hex prefix pattern holds
    ("sr_low", 2000, 1),        // sr_hz 4000 < minimum
    ("sr_high", 2000, 1),       // sr_hz 96000 > maximum
    ("dur_zero", 3000, 1),      // dur_ms 0 fails exclusiveMinimum
    ("codec_unknown", 3000, 1), // codec enum fails; also a foreignKey miss
    ("opus_bad_sr", 2000, 1),   // opus at 44100 fails the if/then enum
    ("tx_empty", 3000, 1),      // transcript "" fails minLength
    ("tx_null", 3000, 1),       // transcript null fails required
    ("dup_id", 3000, 0))        // clip_id copied from the previous row

  final case class Truth(rows: Long, rowViolations: Long, unique: Long, fk: Long,
                         drift: Long, txNulls: Long) {
    def total: Long = rowViolations + unique + fk + drift
    def facts: Seq[(String, Any)] = Seq("truth.rows" -> rows,
      "truth.row_violations" -> rowViolations, "truth.unique" -> unique, "truth.fk" -> fk,
      "truth.drift" -> drift, "truth.tx_nulls" -> txNulls)
  }

  object Truth {
    def apply(p: Map[String, String]): Truth = {
      def l(k: String) = p(s"truth.$k").toLong
      Truth(l("rows"), l("row_violations"), l("unique"), l("fk"), l("drift"), l("tx_nulls"))
    }
  }

  private val vocab = Seq("the", "a", "and", "to", "of", "in", "is", "it",
    "you", "that", "he", "was", "for", "on", "are", "with", "as", "they",
    "be", "at", "one", "have", "this", "from", "or", "had", "by", "hot",
    "word", "but", "what", "some", "we", "can", "out", "other", "were",
    "all", "there", "when", "up", "use", "your", "how", "said", "an",
    "each", "she", "which", "do", "their", "time", "if", "will", "way",
    "about", "many", "then", "them", "write", "would", "like", "so", "these")

  /** Seeded clip frame with a `cls` column naming each row's planted class. */
  def frame(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    def h(k: Int) = xxhash64(lit(seed), col("id"), lit(k))
    def hk(k: Int) = xxhash64(lit(seed), col("key"), lit(k))
    val u0 = pmod(h(0), lit(1000000L))
    var lo = 0
    val cls = classes.foldLeft(lit("clean")) { case (acc, (name, share, _)) =>
      val c = when(u0 >= lo && u0 < lo + share, lit(name)).otherwise(acc)
      lo += share
      c
    }
    def hex16(c: org.apache.spark.sql.Column) = lpad(lower(hex(c)), 16, "0")
    val s = concat(hex16(hk(101)), hex16(hk(102)))
    val uuid = concat_ws("-", substring(s, 1, 8), substring(s, 9, 4),
      substring(s, 13, 4), substring(s, 17, 4), substring(s, 21, 12))
    val badUuid = concat(substring(s, 1, 8), lit("-zzzz-4zzz-8zzz-"), substring(s, 21, 12))
    val codecs = array(Seq("flac", "wav", "opus", "mp3", "pcm_s16le").map(lit): _*)
    val cleanCodec = element_at(codecs, (pmod(h(3), lit(5L)) + 1).cast("int"))
    val v = pmod(h(1), lit(100L))
    val words = array(vocab.map(lit): _*)
    val transcript = concat_ws(" ", (0 until 8).map(k =>
      element_at(words, (pmod(h(20 + k), lit(vocab.size.toLong)) + 1).cast("int"))): _*)
    spark.range(0, n, 1, 8)
      .withColumn("cls", cls)
      .withColumn("key", when(col("cls") === "dup_id", col("id") - 1).otherwise(col("id")))
      .withColumn("codec",
        when(col("cls") === "codec_unknown",
          when(pmod(col("id"), lit(2L)) === 0, lit("aac")).otherwise(lit("wma")))
          .when(col("cls").isin("sr_low", "sr_high"), lit("flac"))
          .when(col("cls") === "opus_bad_sr", lit("opus"))
          .otherwise(cleanCodec))
      .select(
        col("cls"),
        when(col("cls") === "bad_uuid", badUuid).otherwise(uuid).as("clip_id"),
        when(col("cls") === "sr_low", lit(4000))
          .when(col("cls") === "sr_high", lit(96000))
          .when(col("cls") === "opus_bad_sr", lit(44100))
          .when(col("codec") === "opus", when(v < 50, lit(16000)).otherwise(lit(48000)))
          .when(v < 35, lit(16000)).when(v < 50, lit(22050)).when(v < 70, lit(44100))
          .otherwise(lit(48000)).as("sr_hz"),
        when(col("cls") === "dur_zero", lit(0))
          .otherwise((pmod(h(2), lit(600000L)) + 1000).cast("int")).as("dur_ms"),
        col("codec"),
        when(col("cls") === "tx_empty", lit(""))
          .when(col("cls") === "tx_null", lit(null).cast("string"))
          .otherwise(transcript).as("transcript"))
  }

  /** The expected result, from plain Spark aggregations over the generated
    * frame `g` (persisted; released here).
    */
  def truth(g: DataFrame, n: Long): Truth = {
    // one small (class, codec, sr bucket) histogram carries every row-level truth
    val cube = g.groupBy(col("cls"), col("codec"),
      when(col("sr_hz") < 8001, 0).when(col("sr_hz") < 16001, 1)
        .when(col("sr_hz") < 22051, 2).when(col("sr_hz") < 44101, 3).otherwise(4)
        .as("b")).count().collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getLong(3)))
    val unique = g.groupBy("clip_id").count().filter(col("count") > 1).count()
    g.unpersist()
    val byCls = cube.groupBy(_._1).map { case (k, v) => k -> v.map(_._4).sum }
    val rowV = classes.map { case (c, _, w) => byCls.getOrElse(c, 0L) * w }.sum
    val known = Set("flac", "wav", "opus", "mp3", "pcm_s16le")
    val fk = cube.map(_._2).filterNot(known).distinct.length.toLong
    val hist = cube.groupBy(_._3).map { case (k, v) => k -> v.map(_._4).sum }
    val ref = Seq(0.08, 0.10, 0.07, 0.70, 0.05)
    val psi = ref.indices.map { b =>
      val p = math.max(hist.getOrElse(b, 0L).toDouble / n, 1e-6)
      val q = ref(b)
      (p - q) * math.log(p / q)
    }.sum
    Truth(n, rowV, unique, fk, if (psi > 0.25) 1L else 0L, byCls.getOrElse("tx_null", 0L))
  }

  final class Ctx(val spark: SparkSession, val df: DataFrame, val truth: Truth) {
    val refs: Map[String, DataFrame] = Map("ref_codecs" -> ClipSuite.refCodecs(spark))
  }

  private def open(spark: SparkSession, dir: String, truth: Truth) =
    new Ctx(spark, spark.read.parquet(dir), truth)

  /** One iteration: build the fused plan and count it. Returns (count, observed). */
  def iteration(c: Ctx): (Long, Map[String, Any]) = {
    val (plan, obs) = Engine.fusedPlan(c.df, ClipSuite.specJson, Seq("clip_id"), c.refs)
    val n = plan.count()
    (n, obs.get)
  }

  def check(c: Ctx, n: Long, obs: Map[String, Any]): Boolean = {
    val t = c.truth
    val ok = n == t.total && obs("rows") == t.rows &&
      obs("row_violations") == t.rowViolations &&
      obs("transcript__nulls") == t.txNulls
    if (!ok) System.err.println(s"perfbench: clips mismatch: count=$n expected=${t.total} " +
      s"observed=${obs.filter(_._1.matches("rows|row_violations|transcript__nulls"))} truth=$t")
    ok
  }

  private def dir(a: Args) = s"${a.work}/clips.parquet"

  /** Prepare phase: the parquet table the program reads and its expected
    * result, both from one persisted frame.
    */
  def prepare(a: Args): Unit = {
    var g: DataFrame = null
    Prepared.write(a)(
      spark => {
        g = frame(spark, a.seed, inputRows).persist()
        g.drop("cls").write.mode("overwrite").parquet(dir(a))
      },
      _ => truth(g, inputRows).facts)
  }

  def run(a: Args, p: Map[String, String]): Result = {
    val n = inputRows
    var spark: SparkSession = null
    var c: Ctx = null
    val setups = Setup.repeat(a)(
      () => {
        if (spark != null) Session.stop(spark)
        spark = Session.start(a, a.cores)
        c = open(spark, dir(a), Truth(p))
      },
      () => Prepared.generateTime(p),
      () => iteration(c))
    def iter(i: Int): (Double, Outcome) = {
      val (dt, (cnt, obs)) = Num.time {
        if (a.inject.contains("throw") && i == 0) sys.error("injected failure")
        iteration(c)
      }
      val seen = if (a.inject.contains("drop_row")) cnt - 1 else cnt
      (dt, Outcome(1, if (check(c, seen, obs)) 0 else 1))
    }
    val record = Seq("input_rows" -> n, "expected_violations" -> c.truth.total,
      "expected_row_violations" -> c.truth.rowViolations,
      "expected_table_violations" -> (c.truth.unique + c.truth.fk + c.truth.drift))
    val res =
      if (!a.trace) {
        Loop.run(a.seconds, 1)(iter).result(n, setups, record)
      } else traced(a, c, record)
    Session.stop(spark)
    res
  }

  /** Traced run: per-layer numbers for the clips layers. */
  private def traced(a: Args, c: Ctx, record: Seq[(String, Any)]): Result = {
    val spark = c.spark
    val reps = 3
    var att, fail = 0L
    def checked(r: (Long, Map[String, Any])): Unit = {
      att += 1; if (!check(c, r._1, r._2)) fail += 1
    }
    // untraced and traced iterations alternate, and so does which of the two
    // goes first, so warm-up drift hits both alike
    def tracedOnce() = {
      Tracing.on(spark)
      val s = Tracing.section(spark)(iteration(c))
      Tracing.off(spark)
      s
    }
    val pairsOfRuns = (1 to reps).map { i =>
      val first = if (i % 2 == 0) Some(tracedOnce()) else None
      val (u, r0) = Num.time(iteration(c))
      checked(r0)
      val s = first.getOrElse(tracedOnce())
      checked(s.result)
      (u, s)
    }
    val untraced = pairsOfRuns.map(_._1)
    val fused = pairsOfRuns.map(_._2)
    def med(f: Section[(Long, Map[String, Any])] => Double) = Num.median(fused.map(f))
    // the fused action's own query
    def fusedQ(f: TraceState.Query => Long)(s: Section[_]) =
      s.queries.filter(_.func == "count").map(f).sum.toDouble
    val spec = Spec.fromJson(ClipSuite.specJson)
    val parseS = Num.medianTime(5)(Spec.fromJson(ClipSuite.specJson))
    val compileS = Num.medianTime(5)(SuiteCompiler.compile(spec, c.df.schema))
    val suite = SuiteCompiler.compile(spec, c.df.schema)
    val rowpass = Num.medianTime(reps) {
      val obs = new org.apache.spark.sql.Observation()
      Validator.annotate(c.df, suite)
        .observe(obs, count(lit(1)).as("rows"),
          sum(size(col("violations")).cast("long")).as("row_violations"))
        .count()
      obs.get
    }
    def tc(pf: PartialFunction[graft.spec.TableConstraint, DataFrame]) =
      suite.tableConstraints.collectFirst(pf).get
    val unique = tc { case u: Unique => TableChecks.uniqueViolations(c.df, u) }
    val fk = tc { case f: ForeignKey => TableChecks.fkViolations(c.df, f, c.refs("ref_codecs")) }
    val drift = tc { case d: Drift => TableChecks.driftViolations(c.df, d) }
    val statCols = suite.tableConstraints.collectFirst { case s: Stats => s.columns }.get
    val uniqueS = Num.medianTime(reps)(unique.count())
    val fkS = Num.medianTime(reps)(fk.count())
    val driftS = Num.medianTime(reps)(drift.count())
    val statsS = Num.medianTime(reps)(TableChecks.stats(c.df, statCols).collect())
    Session.stop(spark)
    // N→4N on this box: the fused action at local[1] against local[N]
    val one = Session.start(a, 1)
    val c1 = open(one, dir(a), c.truth)
    checked(iteration(c1))
    val t1 = Num.median((1 to 2).map { _ =>
      val (dt, r) = Num.time(iteration(c1)); checked(r); dt
    })
    val t4 = Num.median(untraced)
    val ms = Seq(
      "spec.parse_s" -> (parseS, "s"),
      "compile.suite_s" -> (compileS, "s"),
      "exec.analysis_s" -> (med(fusedQ(_.analysisMs)) / 1e3, "s"),
      "exec.optimize_s" -> (med(fusedQ(_.optimizeMs)) / 1e3, "s"),
      "exec.planning_s" -> (med(fusedQ(_.planningMs)) / 1e3, "s"),
      "exec.codegen_s" -> (med(_.codegenS), "s"),
      "exec.rowpass_s" -> (rowpass, "s"),
      "exec.task_cpu_s" -> (med(_.totals.cpuS), "s"),
      "exec.task_wall_s" -> (med(_.totals.runS), "s"),
      "exec.gc_s" -> (med(_.totals.gcS), "s"),
      "exec.scan_mb" -> (med(fusedQ(_.scanBytes)) / 1e6, "MB"),
      "exec.core_util" -> (med(s => s.totals.runS / (s.wallS * a.cores)), "ratio"),
      "table.unique_s" -> (uniqueS, "s"),
      "table.fk_s" -> (fkS, "s"),
      "table.drift_s" -> (driftS, "s"),
      "table.stats_s" -> (statsS, "s"),
      "table.shuffle_mb" -> (med(_.totals.shWriteMb), "MB"),
      "table.spill_mb" -> (med(_.totals.spillMb), "MB"),
      "output.violation_rows" -> (med(_.result._1.toDouble), "count"),
      "exec.scale_eff_1_4" -> (t1 / (a.cores * t4), "ratio"),
      "trace.overhead" -> (med(_.wallS) / t4 - 1, "ratio"))
    Session.stop(one)
    Result(att, fail, 0, ms.map { case (k, (v, u)) => Metric(k, v, u, reps) },
      record :+ ("local1_s" -> t1) :+ ("localN_s" -> t4))
  }

  /** Docs-only sweep: the traced fused action at local[1], [2] and [4]. */
  def sweep(a: Args, p: Map[String, String]): Seq[(String, Any)] = {
    val n = inputRows
    Seq(1, 2, 4).map { cores =>
      val spark = Session.start(a, cores)
      val c = open(spark, dir(a), Truth(p))
      iteration(c)
      Tracing.on(spark)
      val runs = (1 to 3).map { _ =>
        val s = Tracing.section(spark)(iteration(c))
        require(check(c, s.result._1, s.result._2), "sweep result mismatch")
        (s.wallS, s.totals, s.queries.filter(_.func == "count").map(_.scanBytes).sum)
      }
      Tracing.off(spark)
      Session.stop(spark)
      val wall = Num.median(runs.map(_._1))
      s"local[$cores]" -> Seq(
        "wall_s" -> wall,
        "task_cpu_s" -> Num.median(runs.map(_._2.cpuS)),
        "task_wall_s" -> Num.median(runs.map(_._2.runS)),
        "cpu_per_wall" -> Num.median(runs.map(r => r._2.cpuS / r._1)),
        "scan_bytes_per_row" -> Num.median(runs.map(_._3.toDouble)) / n,
        "shuffle_bytes_per_row" -> Num.median(runs.map(_._2.shWriteMb)) * 1e6 / n,
        "rows_per_s" -> n / wall)
    }
  }
}
