package graft

/** Dev profiler: time named corpus queries in isolation.
  *
  * {{{ sbt "runMain graft.RunOne /root/testdata/sf0.1 q30_dedup_exact q31_minhash_signatures" }}}
  *
  * Each query runs twice (cold = plan+codegen+JIT, warm = steady state)
  * and optionally prints the formatted physical plan with -explain.
  */
object RunOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val explain = args.contains("-explain")
    val names = args.drop(1).filterNot(_ == "-explain")
    // GraftSession, not a raw builder: the extensions (SnapshotDmlRule,
    // RangeJoinRewrite, vec_* SQL functions) must be active here exactly
    // as in Verify, or extension-dependent queries can't run
    val spark = graft.core.GraftSession
      .local("graft-run-one", Runtime.getRuntime.availableProcessors)
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect()
    val byName = graft.queries.Corpus.all.map(q => q.name -> q).toMap
    names.foreach { n =>
      val q = byName.getOrElse(n, sys.error(s"unknown query $n; known: ${byName.keys.toSeq.sorted.mkString(",")}"))
      if (explain) q.run(spark, sfDir).explain("formatted")
      (1 to 2).foreach { i =>
        val t0 = System.nanoTime()
        val c = q.run(spark, sfDir).count()
        println(f"RUNONE $n pass$i rows=$c%d sec=${(System.nanoTime() - t0) / 1e9}%.3f")
      }
    }
    spark.stop()
  }
}
