package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.linkage._

/** Two-table Fellegi–Sunter linkage, the paper's pipeline.
  *
  * Table A is `graft.LinkageE2E.tableA` over the sf0.1 fixture's
  * 15,000-row customer table (`data/customer.parquet`), replicated
  * `Replicas`×; table B is `graft.LinkageE2E.tableB(A)`, the perturbed
  * clone with planted truth (B id − 1e9 is the true A id). The seed
  * shifts every `c_custkey` by the same offset, which moves the
  * hash-derived names and B's perturbations; nations, balances and
  * segments are the fixture's.
  */
final class LinkageWorkload(seed: Long, data: String, work: String) extends Workload {
  val Replicas = 8
  val UPairs = 500000L
  val EmIterations = 25

  private val baseDir = s"$work/linkage"
  private var a: DataFrame = _
  private var b: DataFrame = _

  // Outputs of the last repetition.
  private var ids: DataFrame = _
  private var nCand = 0L
  private var patterns: Seq[EM.Pattern] = Nil
  private var u: Map[String, Map[String, Double]] = Map.empty
  private var scored: DataFrame = _
  private var cal: Scoring.Calibration = _

  val ops = 7

  /** The fixture's customers with keys 0..14,999 shifted by a seeded
    * offset: tableA derives record ids as key + replica·15000, so any
    * 15,000 consecutive keys give distinct ids below B's 1e9 offset.
    */
  private def base(spark: SparkSession): DataFrame = {
    val offset = math.floorMod(seed, 10007L) * 60000L
    spark.read.parquet(s"$data/customer.parquet")
      .withColumn("c_custkey", col("c_custkey") + offset)
  }

  def setup(spark: SparkSession): Unit = {
    base(spark).write.mode("overwrite").parquet(s"$baseDir/base/customer.parquet")
    a = graft.LinkageE2E.tableA(spark, s"$baseDir/base", Replicas).localCheckpoint(true)
    b = graft.LinkageE2E.tableB(a).localCheckpoint(true)
    a.count()
    b.count()
  }

  private val comparators =
    Comparators.jaroWinkler(Seq("name")) ++
      Comparators.exact(Seq("nationkey", "segment")) :+
      Comparators.expression("bal_band",
        when(abs(col("acctbal_left") - col("acctbal_right")) < lit(1.5), "close")
          .otherwise("far"))

  /** Name prefix (5 letters) ∪ nation × 10.00 balance band. */
  private val rules: BlockingRules = {
    val band = (c: Column) => floor(c / 10)
    BlockingRules(Seq(
      ComputedKeys(Seq(("name_pfx", substring(col("name_left"), 1, 5),
        substring(col("name_right"), 1, 5)))),
      ComputedKeys(Seq(
        ("nk", col("nationkey_left"), col("nationkey_right")),
        ("bal10", band(col("acctbal_left")), band(col("acctbal_right")))))))
  }

  private def truth: DataFrame =
    a.select(col("rec_id"), col("rec_id").as("cluster"))
      .union(b.select(col("rec_id"), (col("rec_id") - 1000000000L).as("cluster")))

  def run(spark: SparkSession, op: Ops): Unit = {
    ids = op("blocking") {
      val c = Blocking.extractBlocks(a, b, "rec_id", "rec_id", rules).localCheckpoint(true)
      nCand = c.count()
      c
    }
    patterns = op("patterns") {
      EM.collectPatterns(Pairs.patternCounts(a, b, "rec_id", "rec_id", ids, comparators))
    }
    u = op("uprobs") {
      UProbs.calculateUProbs(a, b, "rec_id", "rec_id", comparators, size = UPairs, seed = seed)
    }
    val em = op("em") {
      EM.run(patterns, totalPairs = nCand.toDouble, uProbabilities = u, maxIter = EmIterations)
    }
    scored = op("score") {
      val pairs = Pairs.computePairsDataset(a, b, "rec_id", "rec_id", ids)
      val values = Comparators.doComparisons(pairs, comparators,
        keep = Seq("rec_id_left", "rec_id_right"))
      Scoring.attachTruth(Scoring.score(values, em), truth, "rec_id", "cluster")
        .select("rec_id_left", "rec_id_right", "weight", "true_match")
        .localCheckpoint(true)
    }
    op("evaluate") {
      val t = scored.filter(col("weight") > 0.0)
      t.count()
      t.filter(col("true_match")).count()
      Scoring.precisionByBand(t).collect()
    }
    cal = op("calibrate")(Scoring.calibrate(scored))
  }

  def items: Long = nCand

  def outcomes: Map[String, Double] = Map("blocking.pairs" -> nCand.toDouble)

  private def levels(m: scala.collection.Map[String, scala.collection.Map[String, Double]]): String =
    Json.obj(m.toSeq.sortBy(_._1).map { case (f, ls) =>
      f -> Json.obj(ls.toSeq.sortBy(_._1).map { case (l, p) => l -> Json.num(p) }: _*)
    }: _*)

  /** Inputs, candidates and scored matches as parquet; patterns,
    * u-probabilities, the EM fit at every iteration count and the
    * evaluation as JSON. The EM refits are driver-side and untimed.
    */
  def outputs(spark: SparkSession): String = {
    a.write.mode("overwrite").parquet(s"$baseDir/a")
    b.write.mode("overwrite").parquet(s"$baseDir/b")
    ids.write.mode("overwrite").parquet(s"$baseDir/candidates")
    scored.filter(col("weight") > 0.0).select("rec_id_left", "rec_id_right")
      .write.mode("overwrite").parquet(s"$baseDir/matches")
    val fits = (1 to EmIterations).map { k =>
      val r = EM.run(patterns, totalPairs = nCand.toDouble, uProbabilities = u, maxIter = k)
      Json.obj("lambda" -> Json.num(r.lambda), "m" -> levels(r.mProbabilities),
        "u" -> levels(r.uProbabilities))
    }
    Json.obj(
      "dir" -> Json.str(baseDir),
      "patterns" -> Json.arr(patterns.map(p => Json.obj(
        "levels" -> Json.obj(p.levels.toSeq.sortBy(_._1).map { case (f, l) =>
          f -> l.map(Json.str).getOrElse("null") }: _*),
        "n" -> Json.num(p.n.toDouble)))),
      "u" -> levels(u.map { case (f, ls) => f -> (ls: scala.collection.Map[String, Double]) }),
      "em" -> Json.arr(fits),
      "calibration_slope" -> Json.num(cal.slope))
  }
}
