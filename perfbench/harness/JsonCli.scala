package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `json_cli`: what a CLI user waits for — `graft.cli.Main` in table mode
  * over a seeded table of JSON documents, one child JVM per iteration, timed
  * from spawn to exit; every document's written violations are compared with
  * the generator's expected verdict.
  */
object JsonCli {
  val inputDocs = 20000
  /** Recursive chains deeper than this are cut by the CLI's compile (the
    * default `CompileLimits.maxRefUnroll`), the known defect this workload
    * reports: see perfbench/README.md.
    */
  val unrollLimit = 4

  val specJson: String =
    """{
      "$defs": {
        "node": { "type": "object",
                  "properties": { "v": { "type": "integer", "minimum": 0 },
                                  "next": { "$ref": "#/$defs/node" } },
                  "required": ["v"] },
        "user": { "type": "object",
                  "properties": {
                    "name":  { "type": "string", "minLength": 1 },
                    "email": { "type": "string", "format": "email" },
                    "age":   { "type": "integer", "minimum": 0, "maximum": 150 } },
                  "required": ["name"] }
      },
      "columns": {
        "doc": { "json": {
          "type": "object",
          "properties": {
            "user":    { "$ref": "#/$defs/user" },
            "tags":    { "type": "array", "items": { "type": "string", "maxLength": 12 } },
            "attrs":   { "type": "object",
                         "patternProperties": { "^x-": { "type": "string" } },
                         "additionalProperties": { "type": "integer" } },
            "created": { "type": "string", "format": "date-time" },
            "chain":   { "$ref": "#/$defs/node" }
          } } }
      }
    }"""

  private val J = "columns/doc/json/properties"

  /** One document: its text, chain depth (0 = no chain) and the expected
    * violations as (keyword, instance path) pairs. Dynamic (`json`) mode
    * reports `items`, `patternProperties` and `additionalProperties` once, at
    * the container, rather than per failing element; `$ref` targets report
    * at the leaf.
    */
  final case class Doc(id: Long, text: String, depth: Int, expected: Seq[(String, String)])

  def doc(seed: Long, id: Long): Doc = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + id)
    val vs = Seq.newBuilder[(String, String)]
    def q(s: String) = "\"" + s + "\""
    def word(n: Int) = (1 to n).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    val user = {
      val f = Seq.newBuilder[String]
      if (r.nextDouble() < 0.03) vs += (("$defs/user/required", "doc!json/user"))
      else if (r.nextDouble() < 0.05) {
        f += q("name") + ":" + q(""); vs += (("$defs/user/properties/name/minLength", "doc!json/user/name"))
      } else f += q("name") + ":" + q(word(6))
      if (r.nextDouble() < 0.5) {
        if (r.nextDouble() < 0.08) {
          f += q("email") + ":" + q(word(8))
          vs += (("$defs/user/properties/email/format", "doc!json/user/email"))
        } else f += q("email") + ":" + q(word(5) + "@" + word(4) + ".com")
      }
      val x = r.nextDouble()
      if (x < 0.04) { f += q("age") + ":200"; vs += (("$defs/user/properties/age/maximum", "doc!json/user/age")) }
      else if (x < 0.07) { f += q("age") + ":-1"; vs += (("$defs/user/properties/age/minimum", "doc!json/user/age")) }
      else f += q("age") + ":" + r.nextInt(100)
      "{" + f.result().mkString(",") + "}"
    }
    val kind = r.nextDouble()
    if (kind < 0.05) {
      // truncated document: unparseable
      return Doc(id, "{" + q("user") + ":" + user.dropRight(1), 0,
        Seq(("columns/doc/json/!parse", "doc!json")))
    }
    val fields = Seq.newBuilder[String]
    fields += q("user") + ":" + user
    var depth = 0
    if (kind < 0.35) {
      depth = 1 + r.nextInt(8)
      val bad = r.nextDouble() < 0.3
      val leaf = if (bad) -1 - r.nextInt(9) else r.nextInt(10)
      val chain = (1 until depth).foldLeft(s"""{"v":$leaf}""") { (inner, _) =>
        s"""{"v":${r.nextInt(10)},"next":$inner}"""
      }
      fields += q("chain") + ":" + chain
      if (bad) vs += (("$defs/node/properties/v/minimum",
        "doc!json/chain" + "/next" * (depth - 1) + "/v"))
    } else {
      val tags = (0 until r.nextInt(6)).map { i =>
        if (r.nextDouble() < 0.04) {
          vs += ((s"$J/tags/items", "doc!json/tags")); q(word(20))
        } else q(word(1 + r.nextInt(10)))
      }
      fields += q("tags") + ":" + tags.mkString("[", ",", "]")
      val attrs = (0 until r.nextInt(4)).map { i =>
        val x = r.nextDouble()
        if (x < 0.04) {
          vs += ((s"$J/attrs/patternProperties/^x-", "doc!json/attrs")); q(s"x-$i") + ":" + i
        } else if (x < 0.08) {
          vs += ((s"$J/attrs/additionalProperties", "doc!json/attrs")); q(s"k$i") + ":" + q(word(3))
        } else if (x < 0.5) q(s"x-$i") + ":" + q(word(4))
        else q(s"k$i") + ":" + r.nextInt(1000)
      }
      fields += q("attrs") + ":" + attrs.mkString("{", ",", "}")
      if (r.nextDouble() < 0.6) {
        if (r.nextDouble() < 0.06) {
          vs += ((s"$J/created/format", "doc!json/created")); fields += q("created") + ":" + q("2024-13-45")
        } else fields += q("created") + ":" +
          q(f"2024-${1 + r.nextInt(12)}%02d-${1 + r.nextInt(28)}%02dT${r.nextInt(24)}%02d:00:00Z")
      }
    }
    Doc(id, fields.result().mkString("{", ",", "}"), depth, vs.result().distinct)
  }

  def docs(seed: Long, n: Int): Seq[Doc] = (0L until n).map(doc(seed, _))

  /** The verdict the known defect gives a document deeper than
    * `unrollLimit`: its expected violations without the chain's leaf
    * `minimum`, plus one depth cut where the compiled unroll ends.
    */
  def depthCutVerdict(d: Doc): Seq[(String, String)] =
    d.expected.filterNot(_._1 == "$defs/node/properties/v/minimum") :+
      (("$defs/node/properties/next/$ref", "doc!json/chain" + "/next" * unrollLimit))

  /** Writes the table and the spec file the CLI reads. */
  def generate(spark: SparkSession, docs: Seq[Doc], work: String): Unit = {
    val schema = StructType(Seq(StructField("doc_id", LongType, nullable = false),
      StructField("doc", StringType)))
    spark.createDataFrame(spark.sparkContext.parallelize(docs.map(d => Row(d.id, d.text)), 8),
      schema).write.mode("overwrite").parquet(s"$work/json_docs.parquet")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$work/json_spec.json"),
      specJson.getBytes("UTF-8"))
  }

  /** `expected`: the true verdicts; `depthCut`: the known defect's verdicts
    * of the deep documents. Both as (doc_id, keyword, path, count) rows.
    */
  final case class Input(n: Int, table: String, spec: String, expected: DataFrame,
                         depthCut: DataFrame, deep: Set[Long], invalid: Int, deepShare: Double)

  def expect(spark: SparkSession, docs: Seq[Doc], work: String): Input = {
    val expSchema = StructType(Seq(StructField("doc_id", LongType), StructField("keyword", StringType),
      StructField("path", StringType)))
    def frame(vs: Seq[(Long, Seq[(String, String)])]) = {
      val df = spark.createDataFrame(spark.sparkContext.parallelize(
        vs.flatMap { case (id, v) => v.map { case (k, p) => Row(id, k, p) } }, 8), expSchema)
        .groupBy("doc_id", "keyword", "path").count().persist()
      df.count()
      df
    }
    val deepDocs = docs.filter(_.depth > unrollLimit)
    Input(docs.size, s"$work/json_docs.parquet", s"$work/json_spec.json",
      frame(docs.map(d => d.id -> d.expected)), frame(deepDocs.map(d => d.id -> depthCutVerdict(d))),
      deepDocs.map(_.id).toSet, docs.count(_.expected.nonEmpty), deepDocs.size.toDouble / docs.size)
  }

  /** One CLI invocation. Returns (spawn-to-exit seconds, exit code, peak RSS
    * MB, spawn epoch ms).
    */
  def invoke(a: Args, in: Input, out: String, traceOut: Option[String]): (Double, Int, Double, Long) = {
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val traced = traceOut.toSeq.flatMap(f => Seq(
      "-Dspark.extraListeners=perfbench.TraceListener",
      "-Dspark.sql.queryExecutionListeners=perfbench.TraceQueryListener",
      s"-Dperfbench.trace.out=$f", s"-Dperfbench.trace.input=${in.table}",
      s"-Dperfbench.trace.output=$out"))
    val cp = if (traceOut.isDefined) s"${a.harnessClasspath}:${a.programClasspath}"
      else a.programClasspath
    val cmd = Seq(javaBin) ++ a.javaOpts ++ traced ++ Seq("-cp", cp, "graft.cli.Main",
      "--spec", in.spec, "--table", in.table, "--key", "doc_id", "--output", "basic",
      "--violations-out", out, "--master", s"local[${a.cores}]")
    val pb = new ProcessBuilder(cmd: _*).directory(new java.io.File(a.work))
      .redirectOutput(new java.io.File(s"$out.stdout"))
      .redirectError(new java.io.File(s"$out.stderr"))
    val spawnMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val p = pb.start()
    @volatile var peakKb = 0L
    val poll = new Thread(() => {
      val status = java.nio.file.Paths.get(s"/proc/${p.pid()}/status")
      while (p.isAlive) {
        try {
          val it = java.nio.file.Files.readAllLines(status).iterator()
          while (it.hasNext) {
            val l = it.next()
            if (l.startsWith("VmHWM:")) peakKb = math.max(peakKb, l.split("\\s+")(1).toLong)
          }
        } catch { case _: java.io.IOException => }
        Thread.sleep(10)
      }
    })
    poll.setDaemon(true)
    poll.start()
    val rc = p.waitFor()
    val dt = (System.nanoTime() - t0) / 1e9
    poll.join()
    (dt, rc, peakKb / 1024.0, spawnMs)
  }

  /** Per-document check of one invocation's written violations. A deep
    * document counts as the known defect only when its violations are
    * exactly its depth-cut verdict; any other mismatch is unexpected.
    */
  def check(spark: SparkSession, in: Input, out: String, rc: Int,
            inject: Option[String]): Outcome = {
    if (rc != 1 || !new java.io.File(out, "_SUCCESS").exists()) {
      System.err.println(s"perfbench: json_cli exit $rc, output $out: all documents failed")
      return Outcome(in.n, in.n)
    }
    var got = spark.read.parquet(out).select(
      substring_index(col("instance_path"), "/", 1).cast("long").as("doc_id"),
      col("keyword"),
      expr("substring(instance_path, instr(instance_path, '/') + 1)").as("path"))
    inject match {
      case Some("flip_doc") =>
        // self-test: one invalid, shallow document loses its violations
        val victim = in.expected.select("doc_id").distinct()
          .filter(!col("doc_id").isin(in.deep.toSeq: _*)).agg(min("doc_id")).head().getLong(0)
        got = got.filter(col("doc_id") =!= victim)
      case Some("deep_doc") =>
        // self-test: one deep document's depth cut reported one level too shallow
        val victim = in.deep.min
        got = got.withColumn("path", when(col("doc_id") === victim &&
          col("keyword").endsWith("next/$ref"), regexp_replace(col("path"), "/next$", ""))
          .otherwise(col("path")))
      case _ =>
    }
    val g = got.groupBy("doc_id", "keyword", "path").count().persist()
    val keys = Seq("doc_id", "keyword", "path", "count")
    def mismatched(want: DataFrame): Set[Long] =
      want.join(g, keys, "left_anti").select("doc_id")
        .union(g.join(want, keys, "left_anti").select("doc_id"))
        .distinct().collect().map(_.getLong(0)).toSet
    val wrong = mismatched(in.expected)
    val offCut = mismatched(in.depthCut)
    g.unpersist()
    val known = wrong.filter(id => in.deep.contains(id) && !offCut.contains(id))
    val unexpected = wrong -- known
    if (unexpected.nonEmpty) System.err.println(s"perfbench: json_cli unexpected mismatch on " +
      s"${unexpected.size} documents, e.g. ${unexpected.toSeq.sorted.take(5)}")
    Outcome(in.n, wrong.size, known.size)
  }

  /** Runs in one JVM: the workload's memory is the CLI children's, so the
    * generator's data may live here.
    */
  def run(a: Args): Result = {
    val n = inputDocs
    var spark: SparkSession = null
    var ds: Seq[Doc] = null
    // each invocation is a fresh JVM, so there is nothing to warm up
    val setups = Setup.repeat(a)(
      () => { if (spark != null) Session.stop(spark); spark = Session.start(a, a.cores) },
      () => Num.time { ds = docs(a.seed, n); generate(spark, ds, a.work) }._1,
      () => ())
    val in = expect(spark, ds, a.work)
    val record = Seq("input_rows" -> n, "invalid_docs" -> in.invalid,
      "deep_docs" -> in.deep.size, "deep_share" -> in.deepShare,
      "unroll_limit" -> unrollLimit)
    var k = 0
    def outDir() = { k += 1; s"${a.work}/violations_$k" }
    val res =
      if (!a.trace) {
        var peaks = Vector.empty[Double]
        val s = Loop.run(a.seconds, n) { i =>
          if (a.inject.contains("throw") && i == 0) sys.error("injected failure")
          val out = outDir()
          val (dt, rc, peak, _) = invoke(a, in, out, None)
          peaks :+= peak
          (dt, check(spark, in, out, rc, a.inject))
        }
        s.result(n, setups, record, Some(if (peaks.isEmpty) Double.NaN else Num.median(peaks)))
      } else traced(a, spark, in, record, outDir)
    Session.stop(spark)
    res
  }

  private def traced(a: Args, spark: SparkSession, in: Input, record: Seq[(String, Any)],
                     outDir: () => String): Result = {
    var att, fail, known = 0L
    def once(trace: Boolean): (Double, Map[String, Double]) = {
      val out = outDir()
      val tf = s"$out.trace"
      val (dt, rc, _, spawnMs) = invoke(a, in, out, if (trace) Some(tf) else None)
      val o = check(spark, in, out, rc, None)
      att += o.attempted; fail += o.failed; known += o.knownFailed
      val m = if (!trace) Map.empty[String, Double] else {
        val src = scala.io.Source.fromFile(tf)
        try src.getLines().filterNot(_.startsWith("#")).map(_.split(" "))
          .map(x => x(0) -> x(1).toDouble).toMap
        finally src.close()
      }
      (dt, if (trace) m + ("cli.startup_s" -> (m("app_start_ms") - spawnMs) / 1e3) else m)
    }
    // a traced and an untraced invocation give trace.overhead
    val (tracedS, m) = once(trace = true)
    val untracedS = once(trace = false)._1
    val names = Seq("cli.startup_s" -> "s", "spec.metagate_s" -> "s", "cli.driver_s" -> "s",
      "exec.analysis_s" -> "s", "exec.optimize_s" -> "s", "exec.planning_s" -> "s",
      "exec.codegen_s" -> "s", "exec.validate_s" -> "s", "cli.scan_jobs" -> "count",
      "cli.jobs" -> "count", "output.write_s" -> "s", "output.write_mb" -> "MB",
      "output.readback_s" -> "s", "output.violation_rows" -> "count",
      "exec.task_cpu_s" -> "s", "exec.gc_s" -> "s", "exec.scan_mb" -> "MB")
    val ms = names.map { case (k, u) => Metric(k, m(k), u, 1) } :+
      Metric("trace.overhead", tracedS / untracedS - 1, "ratio", 1)
    Result(att, fail, known, ms, record)
  }
}
