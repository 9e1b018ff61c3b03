package graft.io

import graft.SparkSpec

/** Catalog-level atomic commits (the Nessie capability): one commit
  * spanning N snapshot tables, readers see both-or-neither. */
class LakeCommitsSpec extends SparkSpec {
  import spark.implicits._

  private def newLake(): (LakeCommits, SnapshotTables, SnapshotTables) = {
    val root = java.nio.file.Files.createTempDirectory("graft-lake").toString
    (new LakeCommits(spark, s"$root/_log"),
      new SnapshotTables(spark, s"$root/silver"),
      new SnapshotTables(spark, s"$root/gold"))
  }

  test("publish pins current versions; later per-table commits stay invisible until republished") {
    val (lake, silver, gold) = newLake()
    silver.overwriteTable(Seq((1, "a")).toDF("id", "v"), "t")
    gold.overwriteTable(Seq((1, 10)).toDF("id", "n"), "s")
    val c1 = lake.publish(Seq(silver -> "t", gold -> "s"))
    assert(c1 == 1 && lake.headCommit == 1)
    // a direct (un-published) commit advances the table but NOT the log view
    silver.overwriteTable(Seq((2, "b")).toDF("id", "v"), "t")
    assert(silver.read("t").as[(Int, String)].head() == ((2, "b")))      // direct read: new
    assert(lake.read(silver, "t").as[(Int, String)].head() == ((1, "a"))) // log read: pinned
    val c2 = lake.publish(Seq(silver -> "t"))
    assert(c2 == 2)
    assert(lake.read(silver, "t").as[(Int, String)].head() == ((2, "b")))
    // gold's pin carried forward through the silver-only commit
    assert(lake.read(gold, "s").as[(Int, Int)].head() == ((1, 10)))
  }

  test("a table the log does not govern falls back to its current version") {
    val (lake, silver, _) = newLake()
    silver.overwriteTable(Seq((7, "z")).toDF("id", "v"), "free")
    assert(lake.read(silver, "free").as[(Int, String)].head() == ((7, "z")))
  }

  test("readAt time-travels the whole lake to a historical commit") {
    val (lake, silver, gold) = newLake()
    silver.overwriteTable(Seq(("day1", 1)).toDF("d", "x"), "t")
    gold.overwriteTable(Seq(("day1", 100)).toDF("d", "agg"), "s")
    lake.publish(Seq(silver -> "t", gold -> "s"))
    silver.overwriteTable(Seq(("day2", 2)).toDF("d", "x"), "t")
    gold.overwriteTable(Seq(("day2", 200)).toDF("d", "agg"), "s")
    lake.publish(Seq(silver -> "t", gold -> "s"))
    assert(lake.log == Seq(1, 2))
    assert(lake.readAt(1, silver, "t").as[(String, Int)].head() == (("day1", 1)))
    assert(lake.readAt(1, gold, "s").as[(String, Int)].head() == (("day1", 100)))
    assert(lake.readAt(2, gold, "s").as[(String, Int)].head() == (("day2", 200)))
  }

  test("publishBranches: WAP across two tables flips atomically at the log") {
    val (lake, silver, gold) = newLake()
    silver.overwriteTable(Seq((1, "old")).toDF("id", "v"), "t")
    gold.overwriteTable(Seq((1, 10)).toDF("id", "n"), "s")
    lake.publish(Seq(silver -> "t", gold -> "s"))
    // stage a coordinated change on per-table branches
    silver.createBranch("t", "wap")
    gold.createBranch("s", "wap")
    silver.commitToBranch("t", "wap", Seq((1, "new"), (2, "more")).toDF("id", "v"))
    gold.commitToBranch("s", "wap", Seq((1, 20), (2, 5)).toDF("id", "n"))
    // pre-publish: log readers see the old pair
    assert(lake.read(silver, "t").count() == 1 && lake.read(gold, "s").count() == 1)
    val c = lake.publishBranches(Seq((silver, "t", "wap"), (gold, "s", "wap")))
    assert(c == 2)
    val Seq(t, s) = lake.readAll(Seq(silver -> "t", gold -> "s"))
    assert(t.count() == 2 && s.count() == 2)
    assert(s.as[(Int, Int)].collect().toSet == Set((1, 20), (2, 5)))
  }

  test("concurrent readers observe both tables advanced or neither (the both-or-neither guarantee)") {
    val (lake, silver, gold) = newLake()
    // invariant: silver.t and gold.s always publish the SAME k
    def land(k: Int): Unit = {
      silver.overwriteTable(Seq((k, s"v$k")).toDF("k", "v"), "t")
      gold.overwriteTable(Seq((k, k * 100)).toDF("k", "agg"), "s")
      lake.publish(Seq(silver -> "t", gold -> "s"))
    }
    land(1)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val torn = new java.util.concurrent.atomic.AtomicInteger(0)
    val reads = new java.util.concurrent.atomic.AtomicInteger(0)
    val reader = new Thread(() => {
      while (!stop.get()) {
        // ONE state resolution for both tables — the consistent read
        val Seq(t, s) = lake.readAll(Seq(silver -> "t", gold -> "s"))
        val kSilver = t.select("k").as[Int].head()
        val kGold = s.select("k").as[Int].head()
        reads.incrementAndGet()
        if (kSilver != kGold) torn.incrementAndGet()
      }
    })
    reader.start()
    (2 to 6).foreach(land) // publishers flip the log while the reader loops
    stop.set(true)
    reader.join(60000)
    assert(reads.get() > 0, "reader never completed a read")
    assert(torn.get() == 0, s"${torn.get()} torn reads of ${reads.get()}")
    // and the final state is the last pair
    val Seq(t, s) = lake.readAll(Seq(silver -> "t", gold -> "s"))
    assert(t.as[(Int, String)].head() == ((6, "v6")) && s.as[(Int, Int)].head() == ((6, 600)))
  }

  test("racing publishers: one winner per slot, loser rebases — both updates land") {
    val (lake, silver, gold) = newLake()
    silver.overwriteTable(Seq((1, "a")).toDF("id", "v"), "t")
    gold.overwriteTable(Seq((1, 10)).toDF("id", "n"), "s")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val fs = Seq(silver -> "t", gold -> "s").map { case (st, t) =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          override def call(): Int = { barrier.await(); lake.publish(Seq(st -> t)) }
        })
      }
      val commits = fs.map(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(commits.toSet == Set(1, 2), s"got $commits") // adjacent slots, no lost update
      val s = lake.state()
      assert(s.size == 2 && s.values.forall(_ == 1))
    } finally pool.shutdown()
  }

  test("a reader looping state() while two publishers race never reads a half-written commit") {
    val lake = new LakeCommits(spark,
      java.nio.file.Files.createTempDirectory("graft-lake-torn").resolve("_log").toString)
    // wide commits (each carries every key) widen any torn-write window
    val keys = (1 to 2000).map(i => s"ns.table_$i")
    val rounds = 60
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    try {
      val start = new java.util.concurrent.CyclicBarrier(3)
      val reader = pool.submit(new java.util.concurrent.Callable[Int] {
        override def call(): Int = {
          start.await()
          var reads = 0
          while (!done.get || reads == 0) {
            val s = lake.state()
            assert(s.isEmpty || s.size == keys.size, s"a commit read with ${s.size} keys")
            reads += 1
          }
          reads
        }
      })
      // each round both publishers race for one slot; the loser rebases
      val round = new java.util.concurrent.CyclicBarrier(2)
      val publishers = Seq(0, 1).map { w =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = {
            start.await()
            (1 to rounds).foreach { r =>
              round.await()
              lake.advance(keys.map(_ -> (2 * r + w)).toMap)
            }
          }
        })
      }
      try publishers.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      finally done.set(true)
      assert(reader.get(120, java.util.concurrent.TimeUnit.SECONDS) > 0)
      assert(lake.log == (1 to 2 * rounds))
    } finally pool.shutdownNow()
  }

  test("two unpaced publishers committing back to back both finish: no CAS starvation") {
    val lake = new LakeCommits(spark,
      java.nio.file.Files.createTempDirectory("graft-lake-starve").resolve("_log").toString)
    // wide commits (each carries every key) make every attempt slow
    // enough for the winner of a slot to be first at the next one too
    val keys = (1 to 2000).map(i => s"ns.table_$i")
    val rounds = 40
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val start = new java.util.concurrent.CyclicBarrier(2)
      val publishers = Seq(0, 1).map { w =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = {
            start.await()
            (1 to rounds).foreach(r => lake.advance(keys.map(_ -> (2 * r + w)).toMap))
          }
        })
      }
      publishers.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      assert(lake.log == (1 to 2 * rounds))
    } finally pool.shutdownNow()
  }

  test("expireLog keeps head resolution intact; only deep time travel is retired") {
    val (lake, silver, _) = newLake()
    (1 to 5).foreach { i =>
      silver.overwriteTable(Seq((i, s"v$i")).toDF("k", "v"), "t")
      lake.publish(Seq(silver -> "t"))
    }
    lake.expireLog(keep = 2)
    assert(lake.log == Seq(4, 5))
    assert(lake.read(silver, "t").as[(Int, String)].head() == ((5, "v5")))
    assert(lake.readAt(4, silver, "t").as[(Int, String)].head() == ((4, "v4")))
    intercept[Exception] { lake.readAt(1, silver, "t").collect() }
    intercept[IllegalArgumentException] { lake.expireLog(0) }
  }

  test("publish of an uncommitted table is refused") {
    val (lake, silver, _) = newLake()
    val e = intercept[IllegalArgumentException] { lake.publish(Seq(silver -> "ghost")) }
    assert(e.getMessage.contains("no committed version"))
  }

  test("anchored publishExact: a stale expected parent refuses instead of silently rebasing") {
    val (lake, silver, gold) = newLake()
    silver.overwriteTable(Seq((1, "a")).toDF("id", "v"), "t")
    gold.overwriteTable(Seq((1, 10)).toDF("id", "n"), "s")
    lake.publish(Seq(silver -> "t")) // c1
    // anchored at the true head: lands as c2
    assert(lake.publishExact(Seq((gold, "s", 1)), expectedParent = Some(1)) == 2)
    // anchored at a now-stale parent: the commit's own file-CAS refuses
    // (the HTTP face maps this to 409) — gold's pin is not overwritten
    val e = intercept[CommitLog.StaleParentCommit] {
      lake.publishExact(Seq((silver, "t", 1)), expectedParent = Some(1))
    }
    assert(e.expected == 1 && e.actual == 2)
    assert(lake.pinnedVersion(gold, "s").contains(1))
  }

  test("publishExact refuses a non-positive version and writes no commit") {
    val (lake, silver, _) = newLake()
    silver.overwriteTable(Seq((1, "a")).toDF("id", "v"), "t")
    lake.publish(Seq(silver -> "t"))
    Seq(0, -1).foreach { v =>
      intercept[IllegalArgumentException] { lake.publishExact(Seq((silver, "t", v))) }
    }
    assert(lake.log == Seq(1) && lake.pinnedVersion(silver, "t").contains(1))
  }

  test("on-disk compatibility: a commit file in the earlier rendering resolves under both faces") {
    val logDir = java.nio.file.Files.createTempDirectory("graft-lake-compat").toString
    val commits = java.nio.file.Paths.get(logDir, "commits")
    java.nio.file.Files.createDirectories(commits)
    // the earlier hand-rolled rendering, byte for byte: sorted keys with
    // only `"` and `\` escaped, one entry per line
    val written =
      """{
        |  "commit": 1,
        |  "parent": 0,
        |  "tables": {
        |    "/wh/gold\\x|s": 7,
        |    "/wh/sil\"ver|t": 3
        |  }
        |}""".stripMargin
    java.nio.file.Files.write(commits.resolve("c000000001.json"), written.getBytes("UTF-8"))
    val want = Map("/wh/gold\\x|s" -> 7, "/wh/sil\"ver|t" -> 3)
    val lake = new LakeCommits(spark, logDir)
    val ice = new IcebergLakeCommits(spark, logDir)
    assert(lake.log == Seq(1) && ice.headCommit == 1)
    assert(lake.state() == want)
    assert(ice.state(1) == want.map { case (k, v) => k -> v.toLong })
    // the log keeps growing from it, under the same file and key names
    val silver = new SnapshotTables(spark, "/wh/sil\"ver")
    assert(lake.publishExact(Seq((silver, "u", 2))) == 2)
    assert(lake.state(2) == want + ("/wh/sil\"ver|u" -> 2))
    val c2 = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(commits.resolve("c000000002.json").toFile)
    assert(c2.get("commit").asInt == 2 && c2.get("parent").asInt == 1 && c2.get("tables").size == 3)
  }
}
