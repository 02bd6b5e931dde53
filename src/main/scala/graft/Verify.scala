package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Usage: Verify <sfDir> <outDir> [q94,q123,...] — the optional list
  * ([[Registry.select]]) dumps only those queries and writes only their
  * oracles, so tools/check.py can check just the queries a change touched.
  */
object Verify {

  /** oracle_sql.json, keys sorted. Jackson escapes every control char: a
    * tab or CR in builder-authored SQL must never make the driver's
    * json.load fail and silently zero the round's correctness.
    */
  def oracleJson(oracles: Map[String, String]): String =
    new ObjectMapper().writeValueAsString(new java.util.TreeMap(oracles.asJava))

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val names = args.lift(2).map(Registry.select)
      .getOrElse(SparkEntry.queries.keys.toSeq.sorted)
    val spark = GraftSession.local(appName = "verify")
    new java.io.File(outDir).mkdirs()
    val failed = names.filterNot { name =>
      try {
        SparkEntry.queries(name)(spark, sfDir).coalesce(1).write
          .mode("overwrite").parquet(s"$outDir/$name")
        true
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: $e")
        false
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracleJson(SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }))
    spark.stop()
    println(s"[verify] dumped ${names.size - failed.size}/${names.size}; " +
      s"failed: ${failed.mkString("[", ", ", "]")}")
  }
}
