package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session; suites run
  * sequentially under sbt's default forked test JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def fixture(name: String): String =
    getClass.getClassLoader.getResource(name).getPath

  /** The lake files `df`'s physical plan scans: each manifest-planned
    * scan's `selectedPartitions`, i.e. what the FileIndex kept after
    * file pruning. (`inputFiles` lists the whole relation, pruned or
    * not.) Deletion-vector sidecar scans are not lake files and are
    * left out. */
  def scannedFiles(df: DataFrame): Seq[String] =
    df.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec
          if f.relation.location.isInstanceOf[graft.sources.GraftLakeFileIndex] =>
        f.selectedPartitions.filePartitionIterator
          .flatMap(_.files.map(_.fileStatus.getPath.toString)).toSeq
    }.flatten
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      // the standard deployment config: functions/TVFs/DML procedures +
      // the catalog read rule ride the extensions seam
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // reference supports GB18030 data files (S7) - allow JVM charsets
      .config("spark.sql.legacy.javaCharsets", "true")
      // tests are the documented retention-floor opt-out (no writer can
      // be live on a fixture table); the refusal default itself is
      // pinned by GraftLakeDmlSpec, which sets this back to true around
      // its intercept
      .config("spark.graft.vacuum.retentionCheck", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
