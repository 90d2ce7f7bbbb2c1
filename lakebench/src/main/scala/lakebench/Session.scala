package lakebench

import org.apache.spark.sql.SparkSession

/** The one place the benchmark's session is configured: Spark's defaults
  * plus the connector's extension and the `ducklake` catalog. The scratch
  * directories sit inside the run directory.
  */
object Session {
  def start(runDir: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("lakebench")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.sql.extensions", "graft.lake.connector.GraftSparkExtensions")
      .config("spark.sql.catalog.ducklake", "graft.lake.connector.DuckLakeSparkCatalog")
      .config("spark.sql.catalog.ducklake.metaDb", s"$runDir/lake/meta")
      .config("spark.sql.catalog.ducklake.dataPath", s"$runDir/lake/data")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
