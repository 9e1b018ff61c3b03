package graft
import java.nio.file.{Files, Paths}

import graft.io.Json

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB compare (`tools/check_oracle.py`).
  * Named queries dump only those and their oracle SQL; no names dumps
  * all of them.
  *
  * {{{ sbt "runMain graft.Verify <sfDir> <outDir> [query…]" }}}
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, names @ _*) = args
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val picked: String => Boolean = if (names.isEmpty) _ => true else names.toSet
    // the engine's own session factory: AQE, UTC, shuffle partitions
    // sized to cores, GraftExtensions (vec_* SQL functions + the
    // range-join rewrite rule) — the gate verifies the engine as
    // configured, not a bare Spark session
    val spark = graft.core.GraftSession.local("graft-verify")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => picked(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql.filter(kv => picked(kv._1))
      .map { case (k, v) => s""""${Json.escape(k)}": "${Json.escape(v)}"""" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
