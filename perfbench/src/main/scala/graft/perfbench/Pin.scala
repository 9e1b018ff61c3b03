package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Writes the analytics tables and the headline queries' DuckDB oracle
  * SQL to a directory, for `pin_answers.py`.
  * {{{ Pin <dir> }}} */
object Pin {
  def main(args: Array[String]): Unit = {
    val dir = Paths.get(args(0)).toAbsolutePath
    val spark = graft.core.GraftSession.local("perfbench-pin", 2)
    spark.sparkContext.setLogLevel("ERROR")
    Data.writeFixtures(spark, dir.toUri.toString)
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n") + "\""
    val oracles = graft.queries.Corpus.headlines.map { h =>
      s"${q(h.name)}: ${q(h.oracle.getOrElse(sys.error(s"${h.name} has no oracle")))}"
    }
    Files.write(dir.resolve("oracle_sql.json"),
      oracles.mkString("{\n", ",\n", "\n}\n").getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
