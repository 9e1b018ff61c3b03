package graft.core

import graft.SparkSpec
import graft.operators.{Dedup, Similarity}
import graft.queries.Corpus
import org.apache.spark.CodegenCache

/** A query served again reuses its generated classes: Spark's JVM-wide
  * `CodeGenerator` cache holds graft's working set
  * (`GraftSession.CodegenCacheEntries`), and the iterative operators run
  * in the caller's session, so their tasks keep one class loader (a
  * session clone gives every call a fresh one, and every class compiles
  * again under it).
  *
  * A repeat may still compile a class it has never compiled: AQE picks
  * some joins' build side by which query stage finishes first, so a
  * plan variant can first appear on a later run. What a repeat must not
  * do is compile a source the cache already held, or compile under a
  * class loader the cache did not already know. */
class CodegenCacheSpec extends SparkSpec {
  import spark.implicits._

  /** Runs `body`; fails if it compiled a (loader, source) entry the cache
    * held before it, compiled under a new class loader, or lost an entry
    * it compiled. */
  private def assertNothingRecompiled(what: String)(body: => Unit): Unit = {
    val before = CodegenCache.entries()
    val c0 = CodegenCache.compiles
    body
    val n = CodegenCache.compiles - c0
    val added = CodegenCache.entries() -- before
    // each compile inserts one entry: fewer new entries than compiles
    // means an entry was compiled again or evicted within `body`
    assert(n == added.size, s"$what: $n compiles but ${added.size} new cache entries")
    // (an empty cache knows no loader yet)
    val newLoaders = if (before.isEmpty) Set.empty else added.map(_._1) -- before.map(_._1)
    assert(newLoaders.isEmpty,
      s"$what compiled ${added.size} classes under ${newLoaders.size} new class loader(s)")
  }

  test("the session's codegen cache is sized to graft's working set") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
    assert(spark.conf.get("spark.sql.codegen.useIdInClassName") == "false")
  }

  test("a second pass over the headline queries, in another order, compiles nothing again") {
    val dir = sf()
    def pass(qs: Seq[graft.queries.Q]): Unit = qs.foreach(q => q.run(spark, dir).collect())
    // the whole first pass fits: every class it compiles stays cached
    assertNothingRecompiled("first headline pass")(pass(Corpus.headlines))
    assertNothingRecompiled("second headline pass")(pass(Corpus.headlines.reverse))
  }

  test("a second nearDupClusters call on the same input compiles nothing again") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("a", "b")
    def run(): Unit =
      assert(Dedup.nearDupClusters(pairs).as[(Long, Long)].collect().toMap ==
        Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
    run()
    assertNothingRecompiled("second nearDupClusters call")(run())
  }

  test("a second kmeansCentroids call on the same input compiles nothing again") {
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
    def run(): Seq[(Long, Long)] =
      Similarity.kmeansCentroids(e, "vec_id", "embedding", k = 8, iters = 2)
        .select($"cell_id", $"n").as[(Long, Long)].collect().toSeq.sorted
    val first = run()
    assertNothingRecompiled("second kmeansCentroids call")(assert(run() == first))
  }
}
