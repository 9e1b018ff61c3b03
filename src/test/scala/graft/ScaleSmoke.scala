package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** One-off SCALE smoke (VERDICT r10 item 5): run the corpus an order of
  * magnitude above the per-round bench scale and record whether the
  * warm plans hold — especially the flagged super-linear risks (q71
  * iterative connected components, q32 LSH self-join, q112 semantic
  * dedup, the snapshot/manifest paths).
  *
  * The driver ships no sf1.0 fixtures (TESTDATA.md: sf0.001/0.01/0.1
  * only) and /root/testdata is read-only, so this tool SYNTHESIZES an
  * sf1.0-equivalent under /tmp by replicating the sf0.1 tables 10× with
  * disjoint key spaces — facts and entity tables scale linearly
  * (orderkey/custkey/partkey/suppkey/doc_id/vec_id/event_id/user_id
  * offset per replica, FK relationships preserved within a replica),
  * dims (region, nation) stay fixed, document text is salted per
  * replica (`r<i> ` prefix, n_chars recomputed) so the near-dup
  * structure scales instead of exploding into 10-way exact-duplicate
  * clusters, and embeddings get a per-replica first-component nudge so
  * ANN buckets spread rather than stack. Clearly synthetic — used for
  * TIMING/SCALING only, never correctness (oracles stay at sf0.01).
  *
  * Usage: Test/runMain graft.ScaleSmoke [replicas] [budgetSec] [outFile]
  * Writes SCALE_r12.json (repo root) by default: per-query seconds,
  * failed/skipped lists.
  */
object ScaleSmoke {

  private val Off = 100000000L // replica key offset (all long key cols)

  def main(args: Array[String]): Unit = {
    val replicas = args.lift(0).map(_.toInt).getOrElse(10)
    val budgetSec = args.lift(1).map(_.toLong).getOrElse(2700L)
    val outFile = args.lift(2).getOrElse("SCALE_r12.json")
    val base = "/root/testdata/sf0.1"
    val out = s"/tmp/graft_scale_${replicas}x"

    val spark = graft.core.GraftSession.local("graft-scale", graft.core.GraftSession.defaultCores)
    spark.sparkContext.setLogLevel("ERROR")
    import org.apache.spark.sql.functions._

    val ready = Paths.get(out, "_READY")
    if (!Files.exists(ready)) {
      Files.createDirectories(Paths.get(out))
      def replicate(table: String, build: (org.apache.spark.sql.DataFrame, Int) => org.apache.spark.sql.DataFrame,
                    files: Int): Unit = {
        val src = spark.read.parquet(s"$base/$table.parquet")
        val all = (0 until replicas).map(i => build(src, i)).reduce(_ unionByName _)
        all.repartition(files).write.mode("overwrite").parquet(s"$out/$table.parquet")
        println(s"[scale] built $table x$replicas")
      }
      def off(i: Int) = lit(i * Off)
      // dims stay dim-sized at any scale
      Seq("region", "nation").foreach { t =>
        spark.read.parquet(s"$base/$t.parquet").write.mode("overwrite").parquet(s"$out/$t.parquet")
      }
      replicate("customer", (d, i) => d.withColumn("c_custkey", col("c_custkey") + off(i)), 8)
      replicate("supplier", (d, i) => d.withColumn("s_suppkey", col("s_suppkey") + off(i)), 4)
      replicate("part", (d, i) => d.withColumn("p_partkey", col("p_partkey") + off(i)), 8)
      replicate("orders", (d, i) => d
        .withColumn("o_orderkey", col("o_orderkey") + off(i))
        .withColumn("o_custkey", col("o_custkey") + off(i)), 16)
      replicate("lineitem", (d, i) => d
        .withColumn("l_orderkey", col("l_orderkey") + off(i))
        .withColumn("l_partkey", col("l_partkey") + off(i))
        .withColumn("l_suppkey", col("l_suppkey") + off(i)), 32)
      replicate("events", (d, i) => d
        .withColumn("event_id", col("event_id") + off(i))
        .withColumn("user_id", col("user_id") + off(i)), 16)
      replicate("documents", (d, i) =>
        (if (i == 0) d else d.withColumn("text", concat(lit(s"r$i "), col("text"))))
          .withColumn("doc_id", col("doc_id") + off(i))
          .withColumn("n_chars", length(col("text")).cast("long")), 16)
      replicate("embeddings", (d, i) => d
        .withColumn("vec_id", col("vec_id") + off(i))
        .withColumn("embedding",
          expr(s"transform(embedding, (x, j) -> IF(j = 0, x + ${i * 0.001}f, x))")), 8)
      Files.write(ready, "ok".getBytes(StandardCharsets.UTF_8))
    } else println(s"[scale] reusing $out")

    def loadavg1(): Double =
      try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), StandardCharsets.UTF_8)
        .split(" ")(0).toDouble
      catch { case _: Throwable => -1.0 }

    spark.range(1000000).selectExpr("sum(id)").collect() // JVM warmup

    val la0 = loadavg1()
    val t0 = System.nanoTime()
    val done = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    val skipped = scala.collection.mutable.ArrayBuffer.empty[String]
    graft.queries.Corpus.all.foreach { q =>
      val elapsed = (System.nanoTime() - t0) / 1e9
      if (elapsed > budgetSec) skipped += q.name
      else {
        val s0 = System.nanoTime()
        val sec =
          try { q.run(spark, out).count(); (System.nanoTime() - s0) / 1e9 }
          catch { case e: Throwable =>
            System.err.println(s"[scale] ${q.name} FAILED: ${e.getClass.getSimpleName} ${e.getMessage}")
            -1.0
          }
        done += q.name -> sec
        println(f"[scale] ${q.name}%-28s ${sec}%8.2f s")
      }
    }
    val la1 = loadavg1()
    val failed = done.filter(_._2 < 0).map(_._1)
    def r2(v: Double) = math.rint(v * 100) / 100
    val qjson = done.map { case (k, v) => s""""$k":${r2(v)}""" }.mkString("{", ",", "}")
    val json =
      s"""{"kind":"scale_smoke","sf_equiv":"~sf1.0 (${replicas}x sf0.1 synthetic replicas, dims fixed)",""" +
        s""""base":"$base","replicas":$replicas,"total":${r2(done.map(_._2).filter(_ >= 0).sum)},""" +
        s""""queries":$qjson,""" +
        s""""failed":${failed.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
        s""""skipped":${skipped.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
        s""""loadavg":[$la0,$la1],"budget_sec":$budgetSec}"""
    Files.write(Paths.get(outFile), json.getBytes(StandardCharsets.UTF_8))
    println(json)
    spark.stop()
  }
}
