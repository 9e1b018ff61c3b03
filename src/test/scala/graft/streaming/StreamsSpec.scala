package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

final case class StreamEvent(ts: java.sql.Timestamp, event_type: String, value: Double)

class StreamsSpec extends SparkSpec {
  import spark.implicits._

  private def t(s: String) = java.sql.Timestamp.valueOf(s)

  test("tumblingAgg emits closed windows once watermark passes") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[StreamEvent]
    val q = Streams.tumblingAgg(ms.toDF(), windowLen = "1 hour", watermarkDelay = "1 hour")
      .writeStream.format("memory").queryName("tumbling").outputMode("append").start()
    try {
      ms.addData(
        StreamEvent(t("2024-01-01 00:10:00"), "a", 1.0),
        StreamEvent(t("2024-01-01 00:20:00"), "a", 2.0),
        StreamEvent(t("2024-01-01 00:30:00"), "b", 5.0)
      )
      q.processAllAvailable()
      // advance watermark past window [00:00,01:00): needs event ≥ 02:00
      ms.addData(StreamEvent(t("2024-01-01 03:00:00"), "a", 9.0))
      q.processAllAvailable()
      val rows = spark.table("tumbling").orderBy("w_start", "event_type").collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
      assert(rows.toSeq == Seq(
        ("2024-01-01 00:00:00.0", "a", 2L, 3.0),
        ("2024-01-01 00:00:00.0", "b", 1L, 5.0)
      ))
    } finally q.stop()
  }

  test("sessionize closes a session after the gap and keeps state per user") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Streams.SessionEvent]
    val q = Streams.sessionize(ms.toDS(), gapSeconds = 600L, watermarkDelay = "10 minutes")
      .writeStream.format("memory").queryName("sessions").outputMode("append").start()
    try {
      ms.addData(
        Streams.SessionEvent(1L, t("2024-01-01 00:00:00"), 1.0),
        Streams.SessionEvent(1L, t("2024-01-01 00:05:00"), 2.0),
        Streams.SessionEvent(2L, t("2024-01-01 00:00:00"), 7.0)
      )
      q.processAllAvailable()
      // second session for user 1, far past the gap — also advances watermark
      ms.addData(Streams.SessionEvent(1L, t("2024-01-01 01:00:00"), 4.0))
      q.processAllAvailable()
      // push watermark far enough to time out and close everything open
      ms.addData(Streams.SessionEvent(3L, t("2024-01-01 05:00:00"), 0.0))
      q.processAllAvailable()
      ms.addData(Streams.SessionEvent(3L, t("2024-01-01 09:00:00"), 0.0))
      q.processAllAvailable()
      val rows = spark.table("sessions")
        .filter($"user_id".isin(1L, 2L))
        .orderBy("user_id", "session_start").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getInt(3), r.getDouble(4)))
      assert(rows.toSeq == Seq(
        (1L, "2024-01-01 00:00:00.0", 2, 3.0),
        (1L, "2024-01-01 01:00:00.0", 1, 4.0),
        (2L, "2024-01-01 00:00:00.0", 1, 7.0)
      ))
    } finally q.stop()
  }

  test("dedupStream keeps first arrival per key while state is in the watermark") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, String, Double)]
    val df = ms.toDF().toDF("ts", "doc_key", "payload")
    val q = Streams.dedupStream(df, Seq("doc_key"), watermarkDelay = "1 hour")
      .writeStream.format("memory").queryName("dedup").outputMode("append").start()
    try {
      ms.addData((t("2024-01-01 00:10:00"), "k1", 1.0), (t("2024-01-01 00:20:00"), "k2", 2.0))
      q.processAllAvailable()
      // duplicate k1 within the watermark window -> dropped
      ms.addData((t("2024-01-01 00:30:00"), "k1", 99.0))
      q.processAllAvailable()
      val vals = spark.table("dedup").orderBy("doc_key")
        .collect().map(r => (r.getString(1), r.getDouble(2)))
      assert(vals.toSeq == Seq(("k1", 1.0), ("k2", 2.0)))
    } finally q.stop()
  }

  test("dedupStream re-admits a key after its state is evicted by the watermark") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, String, Double)]
    val df = ms.toDF().toDF("ts", "doc_key", "payload")
    val q = Streams.dedupStream(df, Seq("doc_key"), watermarkDelay = "1 hour")
      .writeStream.format("memory").queryName("dedup_evict").outputMode("append").start()
    try {
      ms.addData((t("2024-01-01 00:10:00"), "k1", 1.0))
      q.processAllAvailable()
      // push the watermark far past k1's event time + delay -> state evicted
      ms.addData((t("2024-01-01 10:00:00"), "other", 0.0))
      q.processAllAvailable()
      ms.addData((t("2024-01-01 10:30:00"), "k1", 2.0))
      q.processAllAvailable()
      val k1 = spark.table("dedup_evict").filter("doc_key = 'k1'").count()
      // bounded state is the documented trade: duplicates separated by
      // more than the watermark window are re-admitted
      assert(k1 == 2)
    } finally q.stop()
  }

  test("availableNowTo processes only new files per invocation") {
    val base = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val in = s"$base/in"; val out = s"$base/out"; val ck = s"$base/ck"
    new java.io.File(in).mkdirs()
    def land(name: String, rows: Seq[String]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/$name"),
        rows.mkString("\n").getBytes("UTF-8"))
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, v STRING")

    land("a.json", Seq("""{"id":1,"v":"x"}""", """{"id":2,"v":"y"}"""))
    val q1 = Streams.availableNowTo(Streams.ndjsonStream(spark, in, schema), out, ck)
    q1.awaitTermination()
    assert(spark.read.parquet(out).count() == 2)

    land("b.json", Seq("""{"id":3,"v":"z"}"""))
    val q2 = Streams.availableNowTo(Streams.ndjsonStream(spark, in, schema), out, ck)
    q2.awaitTermination()
    val df = spark.read.parquet(out)
    assert(df.count() == 3) // a.json not reprocessed
    assert(df.agg(max("id")).head.getLong(0) == 3L)
  }

  test("enrich joins the stream against a broadcast dimension per micro-batch") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val dim = Seq(("web", "high"), ("crawl", "low")).toDF("source", "trust")
    val q = Streams.enrich(ms.toDF().toDF("id", "source"), dim, Seq("source"))
      .writeStream.format("memory").queryName("enriched").outputMode("append").start()
    try {
      ms.addData((1L, "web"), (2L, "crawl"), (3L, "unknown"))
      q.processAllAvailable()
      val rows = spark.table("enriched").orderBy("id").collect()
        .map(r => (r.getLong(1), Option(r.getString(2))))
      assert(rows.toSeq == Seq((1L, Some("high")), (2L, Some("low")), (3L, None)))
    } finally q.stop()
  }

  test("intervalJoin matches purchases to recent signups, bounded state") {
    implicit val ctx = spark.sqlContext
    val purchases = MemoryStream[(Long, java.sql.Timestamp)]
    val signups = MemoryStream[(Long, java.sql.Timestamp)]
    val joined = Streams.intervalJoin(
      purchases.toDF().toDF("user_id", "p_ts"),
      signups.toDF().toDF("user_id", "s_ts"),
      "user_id", "p_ts", "s_ts", lookback = "2 hours")
    val q = joined.select(col("user_id"), col("p_ts"), col("s_ts"))
      .writeStream.format("memory").queryName("attributed").outputMode("append").start()
    try {
      signups.addData((1L, t("2024-01-01 09:00:00")), (2L, t("2024-01-01 05:00:00")))
      purchases.addData((1L, t("2024-01-01 10:00:00")), (2L, t("2024-01-01 10:00:00")))
      q.processAllAvailable()
      val rows = spark.table("attributed").collect()
        .map(r => (r.getLong(0), r.getTimestamp(2).toString))
      // user 1's signup is within the 2h lookback; user 2's (5h earlier) is not
      assert(rows.toSeq == Seq((1L, "2024-01-01 09:00:00.0")))
    } finally q.stop()
  }

  test("a replayed batchId is a committed no-op (exactly-once at batch granularity)") {
    val base = java.nio.file.Files.createTempDirectory("graft-incdedup-replay").toString
    val corpus = s"$base/corpus"; val index = s"$base/index"
    val batch = Seq((1L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    assert(Streams.incrementalDedupBatch(batch, 0L, "doc_id", "text", corpus, index))
    assert(!Streams.incrementalDedupBatch(batch, 0L, "doc_id", "text", corpus, index)) // replay skipped
    assert(spark.read.parquet(corpus).count() == 1) // not double-appended
    assert(Streams.incrementalDedupBatch(batch, 1L, "doc_id", "text", corpus, index)) // new batch runs
    assert(spark.read.parquet(corpus).count() == 1) // ...but the doc is already indexed
  }

  test("incrementalDedupSink lands each signature once across batches and grows the index") {
    implicit val ctx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-incdedup").toString
    val corpus = s"$base/corpus"; val index = s"$base/index"; val ck = s"$base/ck"
    val ms = MemoryStream[(Long, String)]
    val q = Streams.incrementalDedupSink(ms.toDF().toDF("doc_id", "text"),
      "doc_id", "text", corpus, index, ck)
    try {
      ms.addData(
        (1L, "the quick brown fox jumps over the lazy dog"),
        (2L, "a completely different document about spark engines"),
        (3L, "the quick brown fox jumps over the lazy dog") // intra-batch dup of 1
      )
      q.processAllAvailable()
      assert(spark.read.parquet(corpus).select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
      assert(spark.read.parquet(index).count() == 2)
      ms.addData(
        (4L, "the quick brown fox jumps over the lazy dog"), // cross-batch dup of 1
        (5L, "an entirely new document no one has seen")
      )
      q.processAllAvailable()
      assert(spark.read.parquet(corpus).select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 5L))
      assert(spark.read.parquet(index).count() == 3)
    } finally q.stop()
  }

  test("incrementalNearDupSink drops lightly-edited copies across batches, not just exact ones") {
    implicit val ctx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-incneardup").toString
    val corpus = s"$base/corpus"; val index = s"$base/index"; val ck = s"$base/ck"
    val a = "the quick brown fox jumps over the lazy dog while the cat sleeps in the warm afternoon sun near the garden wall"
    val b = "spark engines process distributed datasets with catalyst optimizing logical plans into efficient physical execution stages"
    val ms = MemoryStream[(Long, String)]
    val q = Streams.incrementalNearDupSink(ms.toDF().toDF("doc_id", "text"),
      "doc_id", "text", corpus, index, ck)
    try {
      ms.addData(
        (1L, a),
        (2L, b),
        (3L, a.replace("garden wall", "stone wall")) // near-dup of 1, not exact
      )
      q.processAllAvailable()
      assert(spark.read.parquet(corpus).select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
      val idx1 = spark.read.parquet(index).count()
      assert(idx1 <= 2 * 4, "index must stay bounded by keepers x bands")
      ms.addData(
        (4L, a.replace("afternoon sun", "morning sun")), // cross-batch near-dup of 1
        (5L, "an entirely new document no one has ever seen before in any batch of this stream")
      )
      q.processAllAvailable()
      assert(spark.read.parquet(corpus).select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 5L))
      assert(spark.read.parquet(index).count() <= 3 * 4)
    } finally q.stop()
  }

  test("a replayed near-dup batchId is a committed no-op") {
    val base = java.nio.file.Files.createTempDirectory("graft-incneardup-replay").toString
    val corpus = s"$base/corpus"; val index = s"$base/index"
    val batch = Seq((1L, "the quick brown fox jumps over the lazy dog while the cat sleeps nearby")).toDF("doc_id", "text")
    assert(Streams.incrementalNearDupBatch(batch, 0L, "doc_id", "text", corpus, index))
    assert(!Streams.incrementalNearDupBatch(batch, 0L, "doc_id", "text", corpus, index)) // replay skipped
    assert(spark.read.parquet(corpus).count() == 1) // not double-appended
    assert(Streams.incrementalNearDupBatch(batch, 1L, "doc_id", "text", corpus, index))
    assert(spark.read.parquet(corpus).count() == 1) // already indexed
    // index rows are never re-appended for already-present buckets
    val n = spark.read.parquet(index).count()
    assert(Streams.incrementalNearDupBatch(batch, 2L, "doc_id", "text", corpus, index))
    assert(spark.read.parquet(index).count() == n)
  }

  test("a crash before the marker replays to the identical corpus and index — no dupes, no loss") {
    val base = java.nio.file.Files.createTempDirectory("graft-incdedup-crash").toString
    val corpus = s"$base/corpus"; val index = s"$base/index"
    val idxPath = new org.apache.hadoop.fs.Path(index)
    val fs = idxPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val b0 = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a completely different document about spark engines")).toDF("doc_id", "text")
    assert(Streams.incrementalDedupBatch(b0, 0L, "doc_id", "text", corpus, index))
    // crash point 1: corpus + index written, marker lost (kill -9 just
    // before the commit point) — the replay must not double-append the
    // corpus nor re-grow the index
    val b1 = Seq((5L, "an entirely new document no one has seen")).toDF("doc_id", "text")
    assert(Streams.incrementalDedupBatch(b1, 1L, "doc_id", "text", corpus, index))
    fs.delete(new org.apache.hadoop.fs.Path(index, "_committed_1"), false)
    assert(Streams.incrementalDedupBatch(b1, 1L, "doc_id", "text", corpus, index))
    assert(spark.read.parquet(corpus).select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 5L))
    assert(spark.read.parquet(index).count() == 3, "replay must not duplicate index rows")
    // crash point 2: corpus written, index append lost — the replay
    // must re-derive the same keepers and restore the index rows
    val before = fs.listStatus(idxPath).map(_.getPath.getName).toSet
    val b2 = Seq((7L, "yet another brand new document for this corpus stream")).toDF("doc_id", "text")
    assert(Streams.incrementalDedupBatch(b2, 2L, "doc_id", "text", corpus, index))
    fs.listStatus(idxPath).filterNot(s => before(s.getPath.getName))
      .foreach(s => fs.delete(s.getPath, false)) // drop batch 2's index files AND its marker
    assert(Streams.incrementalDedupBatch(b2, 2L, "doc_id", "text", corpus, index))
    assert(spark.read.parquet(corpus).select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 5L, 7L))
    assert(spark.read.parquet(index).count() == 4)
  }

  test("near-dup crash before the marker replays identically too") {
    val base = java.nio.file.Files.createTempDirectory("graft-incneardup-crash").toString
    val corpus = s"$base/corpus"; val index = s"$base/index"
    val idxPath = new org.apache.hadoop.fs.Path(index)
    val fs = idxPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val a = "the quick brown fox jumps over the lazy dog while the cat sleeps in the warm afternoon sun"
    val b0 = Seq((1L, a)).toDF("doc_id", "text")
    assert(Streams.incrementalNearDupBatch(b0, 0L, "doc_id", "text", corpus, index))
    val n0 = spark.read.parquet(index).count()
    // crash just before the marker: index holds batch 1's buckets; the
    // replay must EXCLUDE its own rows from the drop decision (else it
    // would drop its whole batch and overwrite the corpus partition
    // with nothing — data loss)
    val b1 = Seq((5L, "spark engines process distributed datasets with catalyst optimizing every logical plan")).toDF("doc_id", "text")
    assert(Streams.incrementalNearDupBatch(b1, 1L, "doc_id", "text", corpus, index))
    fs.delete(new org.apache.hadoop.fs.Path(index, "_committed_1"), false)
    assert(Streams.incrementalNearDupBatch(b1, 1L, "doc_id", "text", corpus, index))
    assert(spark.read.parquet(corpus).select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 5L))
    assert(spark.read.parquet(index).count() > n0, "batch 1's buckets stay indexed")
    assert(spark.read.parquet(index).groupBy("band_idx", "bucket").count()
      .filter(col("count") > 1).count() == 0, "no duplicate buckets after replay")
  }

  test("conformedNdjsonSink reports mid-stream schema drift and still lands conformed rows") {
    implicit val ctx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-drift").toString
    val out = s"$base/out"; val ck = s"$base/ck"
    val spec = Seq(graft.core.ColumnSpec("id", "long", 1), graft.core.ColumnSpec("name", "string", 2))
    val reports = scala.collection.mutable.ListBuffer[(Long, Seq[graft.core.Conform.ColumnDrift])]()
    val ms = MemoryStream[String]
    val q = Streams.conformedNdjsonSink(ms.toDF(), spec, out, ck,
      (bid, rep) => reports.synchronized { reports += ((bid, rep)) })
    try {
      ms.addData("""{"id":1,"name":"a"}""", """{"id":2,"name":"b"}""")
      q.processAllAvailable()
      assert(reports.isEmpty) // conforming batch: no drift report
      // producer drifts mid-stream: id becomes an array (no ANSI cast),
      // a new field appears
      ms.addData("""{"id":[9],"name":"c","extra":true}""")
      q.processAllAvailable()
      assert(reports.size == 1)
      val byCol = reports.head._2.map(d => d.col_name -> d.status).toMap
      assert(byCol("id") == "incompatible_nulled")
      assert(byCol("name") == "exact")
      assert(byCol("extra") == "extra_dropped")
      // the drifted batch still landed, conformed: id nulled, extra gone
      val landed = spark.read.parquet(out)
      assert(landed.columns.toSeq == Seq("id", "name"))
      assert(landed.count() == 3)
      assert(landed.filter(col("name") === "c").select("id").collect().head.isNullAt(0))
    } finally q.stop()
  }

  test("index compaction bounds file growth across batches without changing dedup results") {
    def dataFiles(p: String): Seq[String] =
      new java.io.File(p).listFiles().toSeq.map(_.getName)
        .filter(n => !n.startsWith("_") && !n.startsWith("."))
    def run(base: String, compactEvery: Int): (Seq[Long], Long) = {
      val corpus = s"$base/corpus"; val index = s"$base/index"
      for (b <- 0 until 9) {
        val batch = Seq(
          (b * 10L + 1, s"unique document number $b about streaming engines and state"),
          (b * 10L + 2, "the quick brown fox jumps over the lazy dog every single day"), // dup in every batch
          (b * 10L + 3, s"another unique document number $b on compaction and file growth")
        ).toDF("doc_id", "text")
        Streams.incrementalDedupBatch(batch, b.toLong, "doc_id", "text", corpus, index,
          compactEvery = compactEvery)
      }
      (spark.read.parquet(corpus).select("doc_id").as[Long].collect().sorted.toSeq,
        spark.read.parquet(index).count())
    }
    val basePlain = java.nio.file.Files.createTempDirectory("graft-nocompact").toString
    val baseCompact = java.nio.file.Files.createTempDirectory("graft-compact").toString
    val (plainIds, plainSigs) = run(basePlain, compactEvery = 0)
    val (compactIds, compactSigs) = run(baseCompact, compactEvery = 3)
    assert(compactIds == plainIds && compactSigs == plainSigs) // dedup results unchanged
    // 9 appending batches -> files grow with batch count uncompacted;
    // with compactEvery=3 the last compaction (after batch 9) leaves a
    // single rewritten file set plus at most 0 newer appends
    val grown = dataFiles(s"$basePlain/index").size
    val bounded = dataFiles(s"$baseCompact/index").size
    assert(grown > bounded)
    assert(bounded <= 2) // one compacted file set (fits one 128 MB target file here)
    // markers beyond the retention horizon would be pruned; all 9 are
    // inside it here and must survive (replay protection intact)
    val markers = new java.io.File(s"$baseCompact/index").listFiles()
      .map(_.getName).count(_.startsWith("_committed_"))
    assert(markers == 9)
  }

  test("topKSketchSink: standing heavy hitters exact below capacity; replayed batch never double-counts") {
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, count, lit}
    val root = java.nio.file.Files.createTempDirectory("graft-stream-topk").toString
    val tables = new graft.io.SnapshotTables(spark, root)
    val ck = java.nio.file.Files.createTempDirectory("graft-stream-topk-ck").toString
    val ms = MemoryStream[(String, String)]
    val q = Streams.topKSketchSink(ms.toDF().toDF("src", "token"), Seq("src"), "token",
      tables, "hh", checkpoint = ck)
    val fed = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    def feed(rows: (String, String)*): Unit = { fed ++= rows; ms.addData(rows: _*); q.processAllAvailable() }
    def standing(): Set[(String, Int, String, Long)] =
      graft.operators.Sketches.topKRollup(tables.read("hh"), Seq("src"), k = 2)
        .select(col("src"), col("rk"), col("item"), col("cnt"))
        .as[(String, Int, String, Long)].collect().toSet
    def exact(): Set[(String, Int, String, Long)] = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("src")).orderBy(col("cnt").desc, col("item"))
      fed.toSeq.toDF("src", "item").groupBy(col("src"), col("item")).agg(count(lit(1)).as("cnt"))
        .withColumn("rk", org.apache.spark.sql.functions.row_number().over(w))
        .filter(col("rk") <= 2).select(col("src"), col("rk"), col("item"), col("cnt"))
        .as[(String, Int, String, Long)].collect().toSet
    }
    try {
      feed(("a", "x"), ("a", "x"), ("a", "y"), ("b", "p"))
      assert(standing() == exact())
      // counts accumulate across batches; new groups join the state
      feed(("a", "y"), ("a", "y"), ("b", "q"), ("b", "q"), ("c", "z"))
      assert(standing() == exact())
      val v = tables.currentVersion("hh")
      assert(v == 2) // one version per non-empty batch
      // REPLAY the last applied batch id directly: sketch counts add, so
      // the sink must detect and skip — state and version unchanged
      Streams.topKSketchBatch(Seq(("a", "y")).toDF("src", "token"), batchId = 1L,
        Seq("src"), "token", tables, "hh", maxItemsTracked = 8192)
      assert(tables.currentVersion("hh") == v)
      assert(standing() == exact())
      // time travel: version 1 is the top-k as of the first batch
      assert(tables.readVersion("hh", 1).count() == 2) // groups a, b
    } finally q.stop()
  }

  test("quantileSketchSink: standing percentiles exact below capacity; replay skips whole") {
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("graft-stream-quant").toString
    val tables = new graft.io.SnapshotTables(spark, root)
    val ck = java.nio.file.Files.createTempDirectory("graft-stream-quant-ck").toString
    val ms = MemoryStream[(String, Double)]
    val q = Streams.quantileSketchSink(ms.toDF().toDF("src", "v"), Seq("src"), "v",
      tables, "qs", checkpoint = ck)
    val fed = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    def feed(rows: (String, Double)*): Unit = { fed ++= rows; ms.addData(rows: _*); q.processAllAvailable() }
    def standing(): Map[String, (Long, Double)] =
      graft.operators.Sketches.quantileRollup(tables.read("qs"), Seq("src"), Seq(("p50", 0.5)))
        .select(col("src"), col("n_rows"), col("p50"))
        .as[(String, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    def exact(): Map[String, (Long, Double)] =
      fed.groupBy(_._1).map { case (s, rows) =>
        val sorted = rows.map(_._2).sorted
        s -> ((sorted.length.toLong, sorted(math.max(1, math.ceil(0.5 * sorted.length).toInt) - 1)))
      }.toMap
    try {
      feed(("a", 5.0), ("a", 1.0), ("a", 9.0), ("b", 2.0))
      assert(standing() == exact())
      feed(("a", 3.0), ("a", 7.0), ("b", 8.0), ("c", 4.0))
      assert(standing() == exact())
      val v = tables.currentVersion("qs")
      // replaying an applied batch must not add its values again
      Streams.quantileSketchBatch(Seq(("a", 3.0)).toDF("src", "v"), batchId = 1L,
        Seq("src"), "v", tables, "qs", capacity = 8192)
      assert(tables.currentVersion("qs") == v)
      assert(standing() == exact())
    } finally q.stop()
  }

  test("snapshotMergeSink upserts each micro-batch as a table version; replayed content is idempotent") {
    implicit val ctx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-stream-snap").toString
    val tables = new graft.io.SnapshotTables(spark, root)
    val ck = java.nio.file.Files.createTempDirectory("graft-stream-snap-ck").toString
    val ms = MemoryStream[(Long, String)]
    val q = Streams.snapshotMergeSink(
      ms.toDF().toDF("k", "v"), tables, "tab", keyCols = Seq("k"), checkpoint = ck)
    try {
      ms.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      assert(tables.read("tab").as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b")))
      // update + insert, including two in-batch rows for one key (max wins)
      ms.addData((1L, "a2"), (3L, "c"), (1L, "a1"))
      q.processAllAvailable()
      assert(tables.read("tab").as[(Long, String)].collect().toSet ==
        Set((1L, "a2"), (2L, "b"), (3L, "c")))
      val vAfter = tables.currentVersion("tab")
      assert(vAfter == 2) // one version per non-empty batch
      // replay semantics: merging identical content again commits a new
      // version with the SAME state (exactly-once effect)
      tables.merge("tab", Seq((1L, "a2"), (3L, "c")).toDF("k", "v"), Seq("k"))
      assert(tables.read("tab").as[(Long, String)].collect().toSet ==
        Set((1L, "a2"), (2L, "b"), (3L, "c")))
      // prior batch states time-travel
      assert(tables.readVersion("tab", 1).as[(Long, String)].collect().toSet ==
        Set((1L, "a"), (2L, "b")))
    } finally q.stop()
  }

  test("snapshotMergeSink with orderCol keeps the NEWEST in-batch row per key, not the struct-max") {
    implicit val ctx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-stream-snap-ord").toString
    val tables = new graft.io.SnapshotTables(spark, root)
    val ck = java.nio.file.Files.createTempDirectory("graft-stream-snap-ord-ck").toString
    val ms = MemoryStream[(Long, String, Long)]
    val q = Streams.snapshotMergeSink(
      ms.toDF().toDF("k", "status", "seq"), tables, "tab", keyCols = Seq("k"),
      checkpoint = ck, orderCol = Some("seq"))
    try {
      // 'shipped' at seq=2 is the newest update for key 1; the struct-max
      // fallback would instead keep 'zz-stale' (alphabetically largest
      // first non-key column) — exactly the trap orderCol closes
      ms.addData((1L, "zz-stale", 1L), (1L, "shipped", 2L), (2L, "new", 1L))
      q.processAllAvailable()
      assert(tables.read("tab").as[(Long, String, Long)].collect().toSet ==
        Set((1L, "shipped", 2L), (2L, "new", 1L)))
    } finally q.stop()
  }

  test("snapshotMergeSink mor=true: each batch commits O(batch) deltas; state matches the COW twin") {
    implicit val ctx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-stream-mor").toString
    val tables = new graft.io.SnapshotTables(spark, root)
    val ck = java.nio.file.Files.createTempDirectory("graft-stream-mor-ck").toString
    val ms = MemoryStream[(Long, String)]
    val q = Streams.snapshotMergeSink(
      ms.toDF().toDF("k", "v"), tables, "tab", keyCols = Seq("k"), checkpoint = ck, mor = true)
    try {
      ms.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable() // first batch: full bootstrap commit
      ms.addData((1L, "a2"), (3L, "c"))
      q.processAllAvailable() // later batches: merge-on-read deltas
      assert(tables.read("tab").as[(Long, String)].collect().toSet ==
        Set((1L, "a2"), (2L, "b"), (3L, "c")))
      assert(tables.chainKinds("tab", tables.currentVersion("tab")) ==
        Seq("full", "mor_upsert"))
      // the delta version's directory holds ONLY the batch (O(batch) write)
      assert(spark.read.parquet(tables.snapshotDirString("tab", 2)).count() == 2)
      // every batch state still time-travels
      assert(tables.readVersion("tab", 1).as[(Long, String)].collect().toSet ==
        Set((1L, "a"), (2L, "b")))
    } finally q.stop()
  }

  test("snapshotAppendSink: O(batch) appends, txn-id exactly-once, chain bounded by folds") {
    implicit val ctx = spark.sqlContext
    spark.conf.set("graft.delta.maxChainLength", "3")
    spark.conf.set("graft.delta.materializeRatio", "1000")
    val root = java.nio.file.Files.createTempDirectory("graft-stream-app").toString
    val tables = new graft.io.SnapshotTables(spark, root, previousVersionsMax = 100)
    val ck = java.nio.file.Files.createTempDirectory("graft-stream-app-ck").toString
    val ms = MemoryStream[(Long, String)]
    val q = Streams.snapshotAppendSink(ms.toDF().toDF("id", "v"), tables, "ev", ck)
    try {
      (1 to 6).foreach { i => ms.addData((i.toLong, s"e$i")); q.processAllAvailable() }
      // every event exactly once; every segment dir held one batch
      assert(tables.read("ev").as[(Long, String)].collect().toSet ==
        (1 to 6).map(i => (i.toLong, s"e$i")).toSet)
      // bounded chains, base never rewritten after bootstrap
      val cur = tables.currentVersion("ev")
      val kinds = (1 to cur).map(v => tables.listedKind("ev", v))
      assert(kinds.head == Some("full") && kinds.tail.forall(k => k.nonEmpty && k != Some("full")),
        kinds.toString)
      assert((1 to cur).forall(v => tables.chainKinds("ev", v).length <= 3))
      // the sink's replay contract: re-presenting a committed batch's
      // txn (what a foreachBatch retry does) lands NOTHING
      val sinkId = java.security.MessageDigest.getInstance("MD5")
        .digest(ck.getBytes("UTF-8")).map("%02x".format(_)).mkString
      tables.append(Seq((99L, "dup")).toDF("id", "v"), "ev",
        txnId = Some(s"append-sink.$sinkId.2"))
      assert(tables.currentVersion("ev") == cur)
      assert(tables.read("ev").count() == 6)
    } finally {
      q.stop()
      spark.conf.unset("graft.delta.maxChainLength")
      spark.conf.unset("graft.delta.materializeRatio")
    }
  }

  test("streaming MOR chains stay bounded by FOLDING: after bootstrap the base is never rewritten") {
    implicit val ctx = spark.sqlContext
    // tight budget so the boundary triggers within a few batches; high
    // materialize ratio so the policy FOLDS (at this fixture size the
    // deltas instantly rival the 2-row base — real tables are the
    // other way around)
    spark.conf.set("graft.delta.maxChainLength", "4")
    spark.conf.set("graft.delta.materializeRatio", "1000")
    val root = java.nio.file.Files.createTempDirectory("graft-stream-fold").toString
    // high retention so the WHOLE version line stays auditable below
    val tables = new graft.io.SnapshotTables(spark, root, previousVersionsMax = 100)
    val ck = java.nio.file.Files.createTempDirectory("graft-stream-fold-ck").toString
    val ms = MemoryStream[(Long, String)]
    val q = Streams.snapshotMergeSink(
      ms.toDF().toDF("k", "v"), tables, "tab", keyCols = Seq("k"), checkpoint = ck, mor = true)
    try {
      ms.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable() // v1 bootstrap (full)
      (1 to 10).foreach { i =>
        ms.addData((1L, s"u$i"), (100L + i, "n"))
        q.processAllAvailable()
      }
      val cur = tables.currentVersion("tab")
      // the budget held at every committed version…
      (1 to cur).foreach(v => assert(tables.chainKinds("tab", v).length <= 4))
      // …and it held by FOLDING, never by rewriting the table: v1 is
      // the only full commit on the whole line
      val kinds = (1 to cur).map(v => tables.listedKind("tab", v))
      assert(kinds.head == Some("full") && kinds.tail.forall(k => k.nonEmpty && k != Some("full")),
        s"expected no materialize on the line, saw $kinds")
      assert(kinds.count(_ == Some("mor_revise")) >= 2, s"expected repeated folds, saw $kinds")
      // and the stream's state is exactly right
      assert(tables.read("tab").as[(Long, String)].collect().toSet ==
        (Set((1L, "u10"), (2L, "b")) ++ (1 to 10).map(i => (100L + i, "n"))))
    } finally {
      q.stop()
      spark.conf.unset("graft.delta.maxChainLength")
      spark.conf.unset("graft.delta.materializeRatio")
    }
  }

  test("lshIndexUpsertSink: post-batch queries find new vectors; index stays bucket-pruned; replays idempotent") {
    implicit val ctx = spark.sqlContext
    import graft.operators.Similarity
    val root = java.nio.file.Files.createTempDirectory("graft-stream-ann").toString
    val tables = new graft.io.SnapshotTables(spark, root)
    val ck = java.nio.file.Files.createTempDirectory("graft-stream-ann-ck").toString
    val e = spark.read.parquet(sf() + "/embeddings.parquet").select($"vec_id", $"embedding")
    val all = e.as[(Long, Array[Float])].collect().toSeq
    val (batch1, batch2) = all.partition(_._1 < 300)
    val queries = e.filter($"vec_id" < 5)
    val ms = MemoryStream[(Long, Array[Float])]
    val q = Streams.lshIndexUpsertSink(ms.toDF().toDF("vec_id", "embedding"),
      tables, "ann", "vec_id", "embedding", checkpoint = ck, bits = 4, dim = 64)
    try {
      ms.addData(batch1: _*)
      q.processAllAvailable()
      def served = Similarity.queryLshIndexSnapshot(
        tables, "ann", queries, "vec_id", "embedding", k = 5, bits = 4, dim = 64)
      def direct(corpus: org.apache.spark.sql.DataFrame) = Similarity.lshTopK(
        corpus, queries, "vec_id", "embedding", k = 5, bits = 4, dim = 64)
      // batch-1 index serves exactly what the direct path computes on batch 1
      assert(served.collect().toSeq == direct(e.filter($"vec_id" < 300)).collect().toSeq)
      // batch 2 lands -> queries immediately see the NEW vectors
      ms.addData(batch2: _*)
      q.processAllAvailable()
      val afterBatch2 = served.collect().toSeq
      assert(afterBatch2 == direct(e).collect().toSeq)
      assert(afterBatch2.map(_.getLong(2)).exists(_ >= 300), "no new-vector neighbor surfaced")
      // serving stays sub-linear: probed buckets prune to partition dirs
      val plan = served.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("bkt"), plan)
      // replayed batch re-merges the same keys: content identical, one
      // more version (exactly-once by idempotence)
      val vBefore = tables.currentVersion("ann")
      ms.addData(batch2: _*)
      q.processAllAvailable()
      assert(tables.currentVersion("ann") == vBefore + 1)
      assert(tables.read("ann").count() == all.size)
      assert(served.collect().toSeq == afterBatch2)
    } finally q.stop()
  }

  test("pqIndexUpsertSink: frozen quantizers across batches; serving matches the batch-built index") {
    implicit val ctx = spark.sqlContext
    import graft.operators.Similarity
    val root = java.nio.file.Files.createTempDirectory("graft-stream-pq").toString
    val tables = new graft.io.SnapshotTables(spark, root)
    val ck = java.nio.file.Files.createTempDirectory("graft-stream-pq-ck").toString
    val e = spark.read.parquet(sf() + "/embeddings.parquet").select($"vec_id", $"embedding")
    val cb = Similarity.pqTrain(e, "vec_id", "embedding", dim = 64, m = 8, k = 16)
    val all = e.as[(Long, Array[Float])].collect().toSeq
    val (batch1, batch2) = all.partition(_._1 < 300)
    // seed the quantizer from the full corpus' id<16 slice — the same
    // frozen centroids the batch-built reference uses
    val seedCent = e.filter($"vec_id" < 16)
      .select($"vec_id".cast("long").as("cell_id"), $"embedding".as("cent_vec"))
    val ms = MemoryStream[(Long, Array[Float])]
    val q = Streams.pqIndexUpsertSink(ms.toDF().toDF("vec_id", "embedding"),
      tables, "pq", "vec_id", "embedding", cb, dim = 64, m = 8, numCells = 16,
      checkpoint = ck, centroids = Some(seedCent))
    Similarity.buildPqIndex(e, "vec_id", "embedding", cb, "pq_stream_ref",
      dim = 64, m = 8, numCells = 16, numBuckets = 8)
    try {
      ms.addData(batch1: _*)
      q.processAllAvailable()
      ms.addData(batch2: _*)
      q.processAllAvailable()
      val queries = e.filter($"vec_id" < 5)
      val served = Similarity.queryPqIndexSnapshot(tables, "pq", queries, "vec_id", "embedding",
        cb, dim = 64, m = 8, k = 16, nprobe = 2, topK = 5)
      val reference = Similarity.queryPqIndex(spark, "pq_stream_ref", queries, "vec_id", "embedding",
        cb, dim = 64, m = 8, k = 16, nprobe = 2, topK = 5)
      assert(served.collect().toSeq == reference.collect().toSeq)
      assert(tables.read("pq").count() == all.size)
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS pq_stream_ref")
      spark.sql("DROP TABLE IF EXISTS pq_stream_ref_centroids")
    }
  }
}
