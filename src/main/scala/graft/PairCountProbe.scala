package graft
import org.apache.spark.sql.SparkSession

/** Deterministic companion to the 100x probe's dedup_minhash timing: the
  * candidate-pair count at each scale, proving whether super-linear time
  * growth is work growth (pairs) or a plan defect. On the replica
  * corpora every text has `replicas` byte-identical copies, so buckets
  * are duplicate-dense and the within-bucket pair regime (all-pairs
  * under the 256 cap, successor chains above it) sets the work.
  */
object PairCountProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.extensions", "graft.lake.connector.GraftSparkExtensions")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sfDir = "/root/testdata/sf0.1"
    Seq("10x" -> ScaleBench.buildCorpus(spark, sfDir),
        "100x" -> ScaleBench.buildCorpusN(spark, sfDir, 100, 128)).foreach {
      case (tag, dir) =>
        val docs = graft.queries.Tables.t(spark, dir, "documents")
        val n = docs.count()
        val pairs = graft.ops.Dedup.minhashCandidates(docs, "text", "doc_id").count()
        println(f"[paircount] $tag docs=$n pairs=$pairs pairs/doc=${pairs.toDouble / n}%.1f")
    }
    spark.stop()
  }
}
