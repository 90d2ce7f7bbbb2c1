package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Lake SQL reads resolve through the session extension's analyzer rule,
  * so a lake catalog in a session without the extension must fail when
  * it loads, naming the missing setting — not later, obscurely, in
  * physical planning.
  */
class ExtensionRequiredSpec extends AnyFunSuite {

  test("a lake catalog in a session without GraftSparkExtensions fails loudly") {
    // extensions are bound per SparkContext: start one of our own
    SparkSession.getDefaultSession.foreach(_.stop())
    val root = Files.createTempDirectory("dl-noext").toString
    val spark = SparkSession.builder()
      .master("local[1]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalog.noext",
        classOf[graft.lake.connector.DuckLakeSparkCatalog].getName)
      .config("spark.sql.catalog.noext.metaDb", s"$root/meta")
      .config("spark.sql.catalog.noext.dataPath", s"$root/data")
      .getOrCreate()
    try {
      val e = intercept[Exception](spark.sql("SHOW TABLES IN noext.main").collect())
      val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString("\n")
      assert(messages.contains(
        "spark.sql.extensions=graft.lake.connector.GraftSparkExtensions"), messages)
    } finally spark.stop()
  }
}
