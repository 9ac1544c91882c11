package graft.perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

import graft.GraftBootstrap

/** The benchmark's Spark session: the same wiring as the engine's own
  * bench (`local[N]`, graft extensions, the fork-free local filesystem),
  * with Spark's scratch space inside the run's work directory. */
object Session {

  def build(cores: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.hadoop.fs.file.impl", classOf[graft.catalog.GraftLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.catalog.GraftLocalFs].getName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Load [[TimedCatalog]] as the `graft` catalog, before
    * `GraftBootstrap.ensure` would load the engine's class under that
    * name. The warehouse is the one `ensure` would configure. */
  def useTimedCatalog(spark: SparkSession): Unit = {
    val name = GraftBootstrap.CatalogName
    spark.conf.set(s"spark.sql.catalog.$name", classOf[TimedCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", GraftBootstrap.warehouseDir(spark))
    spark.sessionState.catalogManager.catalog(name)
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}
