package graft

import org.apache.spark.CodegenCache

/** Janino compile counts of corpus queries — the measurements behind
  * `GraftSession.CodegenCacheEntries`.
  *
  * {{{ sbt "Test/runMain graft.DriveCodegen <sfDir> <mode> <cacheEntries|default> <arg> [useIdInClassName]" }}}
  *
  *  - `perquery`: each headline's first run and an immediate repeat, in
  *    corpus order, then one more pass in reverse order;
  *  - `corpus`: one headline pass, one pass over all corpus queries, one
  *    more headline pass — compiles of each (a cache large enough never
  *    to evict makes the first two the working set);
  *  - `loop`: one warm-up headline pass, then seeded shuffled passes for
  *    `<arg>` seconds; compiles per op and per query, JVM metaspace;
  *  - `diag`: five runs of query `<arg>`, with every compiled source
  *    logged (CodeGenerator at DEBUG).
  *
  * `<cacheEntries>` overrides `spark.sql.codegen.cache.maxEntries`
  * (`default`: the session factory's); `useIdInClassName` overrides
  * `spark.sql.codegen.useIdInClassName`. local[4].
  */
object DriveCodegen {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, mode, cacheArg, arg) = args.take(4)
    val b = graft.core.GraftSession.builder("drive-codegen", 4).master("local[4]")
    if (cacheArg != "default") b.config("spark.sql.codegen.cache.maxEntries", cacheArg)
    args.lift(4).foreach(v => b.config("spark.sql.codegen.useIdInClassName", v))
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    println(s"CG cache.maxEntries=${spark.conf.get("spark.sql.codegen.cache.maxEntries")} " +
      s"useIdInClassName=${spark.conf.get("spark.sql.codegen.useIdInClassName")}")
    val heads = graft.queries.Corpus.headlines
    def compiled(body: => Unit): Long = {
      val c0 = CodegenCache.compiles
      body
      CodegenCache.compiles - c0
    }
    def run(q: graft.queries.Q): Long = compiled(q.run(spark, sfDir).collect())
    def metaspace(): Unit = {
      System.gc()
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getName == "Metaspace").foreach { p =>
          println(f"CG metaspace used=${p.getUsage.getUsed / 1048576.0}%.1f MB")
        }
      println(s"CG loaded classes=${java.lang.management.ManagementFactory.getClassLoadingMXBean.getLoadedClassCount}")
    }
    mode match {
      case "perquery" =>
        heads.foreach { q =>
          val first = run(q)
          println(f"CG perquery ${q.name}%-28s first=$first%4d repeat=${run(q)}%4d")
        }
        println(s"CG reversed pass compiles=${compiled(heads.reverse.foreach(run))}")
      case "corpus" =>
        println(s"CG headline pass compiles=${compiled(heads.foreach(run))}")
        var failed = 0
        val all = graft.queries.Corpus.all
        val n = compiled(all.foreach { q =>
          try run(q)
          catch { case e: Throwable => failed += 1; println(s"CG failed ${q.name}: ${e.getMessage}") }
        })
        println(s"CG corpus pass compiles=$n queries=${all.size} failed=$failed")
        println(s"CG headline pass after corpus compiles=${compiled(heads.reverse.foreach(run))}")
        metaspace()
      case "loop" =>
        heads.foreach(run)
        val secs = arg.toDouble
        val rnd = new scala.util.Random(1)
        val per = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
        val t0 = System.nanoTime()
        def left = (System.nanoTime() - t0) / 1e9 < secs
        var ops = 0
        val n = compiled(while (left) rnd.shuffle(heads).foreach { q =>
          if (left) { per(q.name) += run(q); ops += 1 }
        })
        println(f"CG loop ops=$ops compiles=$n perop=${n.toDouble / ops}%.2f")
        per.toSeq.sortBy(_._1).foreach { case (k, v) => println(s"CG loop $k $v") }
        metaspace()
      case "diag" =>
        val q = graft.queries.Corpus.all.find(_.name == arg).getOrElse(sys.error(s"unknown query $arg"))
        org.apache.logging.log4j.core.config.Configurator.setLevel(
          "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator",
          org.apache.logging.log4j.Level.DEBUG)
        (1 to 5).foreach { i =>
          System.err.println(s"===== run $i")
          println(s"CG diag run $i compiles=${run(q)}")
        }
    }
    spark.stop()
  }
}
