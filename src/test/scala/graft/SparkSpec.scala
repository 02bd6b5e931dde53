package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test JVM (sbt forks one JVM for
  * the Test config; 4 cores / 4 shuffle partitions keeps suites fast).
  */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(cores = 4, appName = "graft-test")
}

object SparkSpec {
  private val cleanupDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
      }
      cleanupDirs.forEach(rm(_))
    }))
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  val sfDir = "/root/testdata/sf0.001"

  /** Temp dir deleted when the test JVM exits. Test corpora must not
    * outlive the suite: a leaked source dir keeps its Materialize stages
    * alive FOREVER (the fail-safe sweep correctly keeps stages whose
    * source still exists), so every run would grow the shared scratch.
    * Deleting the source at exit lets the next JVM's startup sweep
    * reclaim the stages.
    */
  def tempDir(prefix: String): java.io.File = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    SparkSpec.cleanupDirs.add(d)
    d
  }

  /** `transformWithState` requires the RocksDB state store; scope it (and
    * the checksum workaround — see SessionTimersSpec) to one test body.
    */
  def withRocksDb[A](body: => A): A =
    GraftSession.withConf(spark, GraftSession.rocksDbStateConf(changelog = false))(body)

  /** [[withRocksDb]] plus changelog checkpointing — the production (and
    * StreamBench) setting: commits upload per-batch changelogs, restore
    * replays them over the last background snapshot. Restore-path specs
    * should run under this mode too, since it is the default the bench
    * measures.
    */
  def withChangelogRocksDb[A](body: => A): A =
    GraftSession.withConf(spark, GraftSession.rocksDbStateConf(changelog = true))(body)

  def fixturePath: String =
    getClass.getResource("/user_activity_fixture.json").getPath

  /** Fixture as a batch DataFrame with eventTime (12 valid events; the
    * 13th record is missing `activity` and must be skipped at ingest).
    */
  def fixture: DataFrame = sources.Tables.userActivityJson(spark, fixturePath)
}
