package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.Files

/** One shared local SparkSession for the whole forked test JVM. */
object TestSpark {
  lazy val spark: SparkSession = {
    val wh = Files.createTempDirectory("graft-test-warehouse")
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", wh.toString) // fresh per test JVM
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // Plan-string assertions read PushedFilters/ReadSchema metadata;
      // the default 100-char truncation cuts them off once attribute IDs
      // grow late in a long suite (order-dependent flake in round 5).
      .config("spark.sql.maxMetadataStringLength", "10000")
      // The suite runs the same plans many times over (registry sweeps,
      // fuzz walks re-probing after every step); the default 100-entry
      // compiled-code cache evicts them between repeats, and about half
      // of one registry pass's ~4400 generated-code compilations were
      // repeats. Room for the whole suite's working set compiles each
      // distinct class once.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  val sf0001 = "/root/testdata/sf0.001"

  /** Write crafted tables into a temp dir shaped like a testdata sf dir,
    * so specs exercise the exact `(SparkSession, sfDir) => DataFrame`
    * query path the driver runs. */
  def makeSfDir(tables: (String, DataFrame)*): String = {
    val dir = Files.createTempDirectory("graft-test-sf").toFile
    dir.deleteOnExit()
    tables.foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite")
        .parquet(s"${dir.getAbsolutePath}/$name.parquet")
    }
    dir.getAbsolutePath
  }
}
