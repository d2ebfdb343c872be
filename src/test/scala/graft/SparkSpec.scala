package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String): String = s"/root/testdata/$dir"
}

object SparkSpec {
  private var s: SparkSession = _

  /** Re-creates the shared session if another suite (e.g. ExtensionsSpec,
    * which needs its own builder) stopped it. */
  def session: SparkSession = synchronized {
    if (s == null || s.sparkContext.isStopped) {
      s = SparkSession.builder()
        .master("local[4]")
        .appName("graft-test")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        // the generated-code cache is JVM-wide and sized once, by whichever
        // suite's session starts first, so every test builder sets this
        .config("spark.sql.codegen.cache.maxEntries",
          GraftSession.CodegenCacheEntries.toString)
        // as GraftSession.tune: a streaming query's cloned session shares
        // the executor classloader, so its drains reuse compiled classes
        .config("spark.sql.artifact.isolation.enabled", "false")
        // keep explicit partitionBy(lit(0)) specs — see GraftSession.tune
        .config("spark.sql.optimizer.excludedRules",
          "org.apache.spark.sql.catalyst.optimizer.EliminateWindowPartitions")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
    }
    s
  }
}
