package graft

/** Interleaved one-JVM A/B timing of corpus queries: on a shared host,
  * load moves wall time more than most code changes, so both sides run
  * alternately in one JVM and are compared by their distributions.
  *
  * {{{
  *   sbt "Test/runMain graft.DriveAB <sfDir> q74_decontamination,q89_decontamination_bloom"
  *   sbt "Test/runMain graft.DriveAB <sfDir> q135_minor_compaction_sql \
  *     graft.delta.minorCompaction=true graft.delta.minorCompaction=false"
  * }}}
  *
  * Without conf sides the named queries are the sides. With two conf
  * sides (`k=v,…` each) every query runs under both, each side's confs
  * set before and unset after every sample. Each (query, side) runs
  * once untimed, then [[Reps]] rounds time every one of them, the order
  * reversed every other round. Prints every sample, then each (query,
  * side)'s median and quartiles.
  */
object DriveAB {
  val Reps = 10

  def main(args: Array[String]): Unit = {
    val (sfDir, names, sides) = args match {
      case Array(sf, qs) => (sf, qs.split(",").toSeq, Seq(""))
      case Array(sf, qs, a, b) => (sf, qs.split(",").toSeq, Seq(a, b))
      case _ => sys.error("usage: DriveAB <sfDir> <q1,q2,…> [<k=v,…> <k=v,…>]")
    }
    val byName = graft.queries.Corpus.all.map(q => q.name -> q).toMap
    val cells = for (n <- names; side <- sides)
      yield (byName.getOrElse(n, sys.error(s"unknown query $n")), side)
    val spark = graft.core.GraftSession.local("drive-ab")
    spark.sparkContext.setLogLevel("ERROR")
    def time(q: graft.queries.Q, side: String): Double = {
      val confs = side.split(",").toSeq.filter(_.nonEmpty).map { kv =>
        val Array(k, v) = kv.split("=", 2); k -> v
      }
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val t0 = System.nanoTime()
        q.run(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      } finally confs.foreach { case (k, _) => spark.conf.unset(k) }
    }
    cells.foreach { case (q, side) => time(q, side) } // plan compile + JIT
    val samples = for (rep <- 1 to Reps; (q, side) <- if (rep % 2 == 0) cells.reverse else cells)
      yield {
        val t = time(q, side)
        println(f"SAMPLE rep=$rep ${q.name} $side $t%.3f")
        (q.name, side) -> t
      }
    cells.foreach { case (q, side) =>
      val xs = samples.collect { case (k, t) if k == (q.name, side) => t }.sorted
      def quantile(p: Double): Double = {
        val h = p * (xs.size - 1)
        val lo = h.toInt
        xs(lo) + (h - lo) * (xs(math.min(lo + 1, xs.size - 1)) - xs(lo))
      }
      println(f"AB ${q.name} $side p25=${quantile(0.25)}%.3f median=${quantile(0.5)}%.3f " +
        f"p75=${quantile(0.75)}%.3f")
    }
    spark.stop()
  }
}
