package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` of named corpus queries, each executed
  * first so the dump shows AQE's final plan beside the initial one —
  * the r20 optimization round's plan evidence
  * (`plans/r20/<query>_{before,after}.txt`).
  *
  * {{{ sbt "Test/runMain graft.ExplainDump /root/testdata/sf0.1 plans/r20 after q01_pricing_summary ..." }}}
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val tag = args(2)
    val names = args.drop(3)
    val spark = graft.core.GraftSession.local("graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    val byName = graft.queries.Corpus.all.map(q => q.name -> q).toMap
    names.foreach { n =>
      val q = byName.getOrElse(n, sys.error(s"unknown query $n"))
      try {
        val df = q.run(spark, sfDir)
        df.collect() // executed first: the dump carries AQE's final plan
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        Files.write(Paths.get(outDir, s"${n}_$tag.txt"), plan.getBytes(StandardCharsets.UTF_8))
        println(s"EXPLAIN $n -> $outDir/${n}_$tag.txt")
      } catch {
        case e: Throwable => println(s"EXPLAIN $n FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
