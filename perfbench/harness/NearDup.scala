package perfbench

import graft.pipeline.Dedup
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** `neardup`: MinHash-LSH near-duplicate pairs, exact Jaccard verification
  * and connected components —
  * `Dedup.dedupGroups(Dedup.jaccardPairsLsh(df, "doc_id", "text", 3, 0.5, 8))`
  * collected — over seeded documents with planted near-duplicate clusters.
  */
object NearDup {
  val inputDocs = 8000
  val bigCluster = 200 // one large cluster, below the maxBucket valve of 1000

  /** Planted clusters: each is (member doc ids); members share a base text
    * and differ only in their last word, so every in-cluster pair has
    * Jaccard (S-1)/(S+1) ≥ 0.94 over S ≥ 38 word 3-shingles, while texts of
    * different clusters draw from a 50 000-word vocabulary and share none.
    */
  final case class Corpus(docs: Seq[(Long, String)], clusters: Seq[Seq[Long]]) {
    /** Expected `dedupGroups` rows: (min member id, size) per cluster of ≥ 2. */
    def groups: Set[(Long, Long)] =
      clusters.filter(_.size > 1).map(c => (c.min, c.size.toLong)).toSet
  }

  def corpus(seed: Long, n: Int): Corpus = {
    val rnd = new java.util.Random(seed)
    val sizes = scala.collection.mutable.ArrayBuffer(math.min(bigCluster, n / 10))
    var inClusters = sizes.head
    // long tail: sizes 2..50 with P(s) ∝ s^-2.5 until ~15% of the documents
    val weights = (2 to 50).map(s => math.pow(s, -2.5))
    val wsum = weights.sum
    while (inClusters < n * 0.15) {
      var x = rnd.nextDouble() * wsum
      var s = 2
      while (x > weights(s - 2) && s < 50) { x -= weights(s - 2); s += 1 }
      sizes += s; inClusters += s
    }
    while (inClusters < n) { sizes += 1; inClusters += 1 }
    // a seeded permutation of 0..n-1 as document ids
    val ids = Array.tabulate(inClusters)(_.toLong)
    for (i <- ids.indices.reverse) {
      val j = rnd.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    def word(r: java.util.Random) = "w" + Integer.toString(r.nextInt(50000), 36)
    var next = 0
    val docs = Vector.newBuilder[(Long, String)]
    val clusters = sizes.zipWithIndex.map { case (size, ci) =>
      val r = new java.util.Random(seed * 1000003L + ci)
      val base = Vector.fill(40 + r.nextInt(21))(word(r))
      (0 until size).map { m =>
        val id = ids(next); next += 1
        val words = if (m == 0) base else base.updated(base.size - 1, s"v${m}x${word(r)}")
        docs += ((id, words.mkString(" ")))
        id
      }
    }
    Corpus(docs.result(), clusters.toSeq)
  }

  def generate(spark: SparkSession, seed: Long, n: Int, dir: String): Corpus = {
    val c = corpus(seed, n)
    val schema = StructType(Seq(StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType)))
    val rows = c.docs.map { case (id, t) => Row(id, t) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 8), schema)
      .write.mode("overwrite").parquet(dir)
    c
  }

  def pairs(df: DataFrame): DataFrame = Dedup.jaccardPairsLsh(df, "doc_id", "text", 3, 0.5, 8)

  /** One iteration: pairs, groups, collected; the Dedup caches are released. */
  def iteration(spark: SparkSession, df: DataFrame): Set[(Long, Long)] = {
    val g = Dedup.dedupGroups(pairs(df)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.catalog.clearCache()
    g
  }

  def check(want: Set[(Long, Long)], got: Set[(Long, Long)]): Boolean = {
    val ok = got == want
    if (!ok) System.err.println(s"perfbench: neardup mismatch: ${(got -- want).take(5)} " +
      s"unexpected, ${(want -- got).take(5)} missing")
    ok
  }

  /** Self-test fault: two planted clusters reported as one. */
  private def merge(g: Set[(Long, Long)]): Set[(Long, Long)] = {
    val two = g.toSeq.sorted.take(2)
    if (two.size < 2) g else g -- two + ((two.map(_._1).min, two.map(_._2).sum))
  }

  private def dir(a: Args) = s"${a.work}/neardup.parquet"

  /** Prepare phase: the parquet table and the planted groups, stored as
    * `min:size` pairs.
    */
  def prepare(a: Args): Unit = {
    var c: Corpus = null
    Prepared.write(a)(spark => c = generate(spark, a.seed, inputDocs, dir(a)),
      _ => Seq("groups" -> c.groups.toSeq.sorted.map { case (m, k) => s"$m:$k" }.mkString(",")))
  }

  def run(a: Args, p: Map[String, String]): Result = {
    val n = inputDocs
    val want = p("groups").split(",").filter(_.nonEmpty).map { g =>
      val Array(m, k) = g.split(":"); (m.toLong, k.toLong) }.toSet
    var spark: SparkSession = null
    var df: DataFrame = null
    val setups = Setup.repeat(a)(
      () => {
        if (spark != null) Session.stop(spark)
        spark = Session.start(a, a.cores)
        df = spark.read.parquet(dir(a))
      },
      () => Prepared.generateTime(p),
      () => iteration(spark, df))
    val s0 = spark
    val d0 = df
    def iter(i: Int): (Double, Outcome) = {
      val (dt, g) = Num.time {
        if (a.inject.contains("throw") && i == 0) sys.error("injected failure")
        iteration(s0, d0)
      }
      val seen = if (a.inject.contains("merge_clusters")) merge(g) else g
      (dt, Outcome(1, if (check(want, seen)) 0 else 1))
    }
    val record = Seq("input_rows" -> n, "clusters" -> want.size,
      "largest_cluster" -> want.map(_._2).max,
      "docs_in_clusters" -> want.toSeq.map(_._2).sum)
    val res =
      if (!a.trace) {
        Loop.run(a.seconds, 1)(iter).result(n, setups, record)
      } else traced(s0, d0, want, record)
    Session.stop(spark)
    res
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def traced(spark: SparkSession, df: DataFrame, want: Set[(Long, Long)],
                     record: Seq[(String, Any)]): Result = {
    val reps = 2
    var att, fail = 0L
    def checked(g: Set[(Long, Long)]): Unit = { att += 1; if (!check(want, g)) fail += 1 }
    // untraced and traced iterations alternate, and so does which of the two
    // goes first, so warm-up drift hits both alike
    def tracedOnce() = {
      Tracing.on(spark)
      val s = Tracing.section(spark)(iteration(spark, df))
      Tracing.off(spark)
      s
    }
    val pairsOfRuns = (1 to reps).map { i =>
      val first = if (i % 2 == 0) Some(tracedOnce()) else None
      val (u, g0) = Num.time(iteration(spark, df))
      checked(g0)
      val s = first.getOrElse(tracedOnce())
      checked(s.result)
      (u, (s.wallS, s.totals))
    }
    val untraced = pairsOfRuns.map(_._1)
    val full = pairsOfRuns.map(_._2)
    Tracing.on(spark)
    def timed(f: => Any) = {
      val r = (1 to 2).map { _ =>
        val s = Tracing.section(spark)(f)
        spark.catalog.clearCache()
        (s.wallS, s.totals.shWriteMb)
      }
      (Num.median(r.map(_._1)), Num.median(r.map(_._2)))
    }
    val (bandsS, _) = timed(noop(Dedup.minhashBands(df, "doc_id", "text", 8)))
    val (candS, candSh) = timed(noop(Dedup.minhashCandidates(df, "doc_id", "text", 8, 3, 1000L)))
    val (pairsS, pairsSh) = timed(noop(pairs(df)))
    val candidates = Dedup.minhashCandidates(df, "doc_id", "text", 8, 3, 1000L).count()
    spark.catalog.clearCache()
    val cc = (1 to 2).map { _ =>
      val p = pairs(df).persist()
      val verified = p.count()
      val s = Tracing.section(spark)(
        Dedup.dedupGroups(p).collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
      checked(s.result)
      spark.catalog.clearCache()
      (s.wallS, s.jobs.size, verified)
    }
    Tracing.off(spark)
    val verified = cc.head._3
    def med(f: TraceState.Totals => Double) = Num.median(full.map(x => f(x._2)))
    val ms = Seq(
      Metric("pipeline.bands_s", bandsS, "s", 2),
      Metric("pipeline.candidates_s", candS, "s", 2),
      Metric("pipeline.pairs_s", pairsS, "s", 2),
      Metric("pipeline.cc_s", Num.median(cc.map(_._1)), "s", 2),
      Metric("pipeline.candidate_pairs", candidates.toDouble, "count", 1),
      Metric("pipeline.verified_pairs", verified.toDouble, "count", 1),
      Metric("pipeline.verify_yield", verified.toDouble / math.max(1L, candidates), "ratio", 1),
      Metric("pipeline.verify_shuffle_mb", pairsSh - candSh, "MB", 2),
      Metric("pipeline.cc_jobs", Num.median(cc.map(_._2.toDouble)), "count", 2),
      Metric("pipeline.shuffle_mb", med(_.shWriteMb), "MB", reps),
      Metric("pipeline.spill_mb", med(_.spillMb), "MB", reps),
      Metric("pipeline.task_skew", med(_.skew), "ratio", reps),
      Metric("exec.gc_s", med(_.gcS), "s", reps),
      Metric("trace.overhead", Num.median(full.map(_._1)) / Num.median(untraced) - 1, "ratio", reps))
    Result(att, fail, 0, ms, record)
  }
}
