package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.Etl
import graft.ops.{Clusters, Dedup, Graphs}

/** Corpus deduplication and analysis of the duplicate graph: exact
  * keep-list, exact 3-shingle Jaccard pairs by prefix filtering,
  * MinHash-LSH pairs, duplicate clusters, an audited export of the
  * survivors, then exact-integer PageRank and a triangle count over
  * the Jaccard pair graph.
  *
  * The corpus is `Replicas` copies of the first `BaseDocs` of the sf0.1
  * fixture's 5,000 documents (`data/documents.parquet`). Replica r renames every token
  * by appending its own seeded salt, so replicas share no shingle and
  * each holds the fixture's pair structure under ids shifted by
  * r·BaseDocs.
  */
final class DedupWorkload(seed: Long, data: String, work: String) extends Workload {
  val BaseDocs = 2000L
  val Replicas = 2
  val Shingle = 3
  val MinJaccard = 0.5
  val BucketCap = 100L
  val PageRankIterations = 3

  private val dir = s"$work/dedup"
  private var docs: DataFrame = _

  private var nKeep = 0L
  private var exactPairs: DataFrame = _
  private var lshPairs: DataFrame = _
  private var nLsh = 0L
  private var nClusterKeep = 0L
  private var nReadBack = 0L
  private var ranks: DataFrame = _
  private var nTriangles = 0L

  val ops = 7

  def setup(spark: SparkSession): Unit = {
    val b = spark.read.parquet(s"$data/documents.parquet")
      .filter(col("doc_id") < BaseDocs).select("doc_id", "text")
    val salted = (0 until Replicas).map { r =>
      val salt = Seq.iterate(math.floorMod(seed * 1000003L + r * 7919L, 1L << 40), 6)(_ / 26)
        .map(x => ('a' + (x % 26).toInt).toChar).mkString
      b.select((col("doc_id") + r * BaseDocs).as("doc_id"),
        array_join(transform(split(col("text"), " "), t => concat(t, lit("_" + salt))), " ")
          .as("text"))
    }.reduce(_ union _)
    salted.write.mode("overwrite").parquet(s"$dir/docs")
    docs = spark.read.parquet(s"$dir/docs")
    docs.count()
  }

  def run(spark: SparkSession, op: Ops): Unit = {
    val text = col("text")
    nKeep = op("exact") {
      Dedup.exactDuplicates(docs, "doc_id", text).filter(col("keep")).count()
    }
    exactPairs = op("prefix") {
      val p = Dedup.ngramJaccardPairsPrefix(docs, "doc_id", text, Shingle, MinJaccard)
        .select("id_a", "id_b").localCheckpoint(true)
      p.count()
      p
    }
    lshPairs = op("lsh") {
      val p = Dedup.ngramJaccardPairs(docs, "doc_id", text, Shingle, MinJaccard,
        maxBucketSize = Some(BucketCap)).select("id_a", "id_b").localCheckpoint(true)
      nLsh = p.count()
      p
    }
    val resolved = op("clusters") {
      val r = Clusters.resolveDuplicates(docs.select("doc_id"), "doc_id", exactPairs)
        .localCheckpoint(true)
      nClusterKeep = r.filter(col("keep")).count()
      r
    }
    nReadBack = op("export") {
      val survivors = docs.join(resolved.filter(col("keep")).select("doc_id"), "doc_id")
      Etl.writeAudited(survivors, s"$dir/survivors")
      Etl.readAudited(spark, s"$dir/survivors").count()
    }
    ranks = op("pagerank") {
      Graphs.pageRankExact(exactPairs, iterations = PageRankIterations).localCheckpoint(true)
    }
    nTriangles = op("triangles") {
      Graphs.triangleCount(exactPairs).head().getLong(0)
    }
  }

  def items: Long = BaseDocs * Replicas

  def outcomes: Map[String, Double] = Map("lsh.pairs" -> nLsh.toDouble)

  def outputs(spark: SparkSession): String = {
    exactPairs.write.mode("overwrite").parquet(s"$dir/prefix_pairs")
    lshPairs.write.mode("overwrite").parquet(s"$dir/lsh_pairs")
    ranks.write.mode("overwrite").parquet(s"$dir/pagerank")
    Json.obj(
      "dir" -> Json.str(dir),
      "base_docs" -> Json.num(BaseDocs.toDouble),
      "replicas" -> Json.num(Replicas.toDouble),
      "shingle" -> Json.num(Shingle.toDouble),
      "min_jaccard" -> Json.num(MinJaccard),
      "keep" -> Json.num(nKeep.toDouble),
      "cluster_keep" -> Json.num(nClusterKeep.toDouble),
      "read_back" -> Json.num(nReadBack.toDouble),
      "pagerank_iterations" -> Json.num(PageRankIterations.toDouble),
      "triangles" -> Json.num(nTriangles.toDouble))
  }
}
