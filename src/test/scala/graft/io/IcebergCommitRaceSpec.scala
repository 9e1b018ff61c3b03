package graft.io

import java.util.concurrent.{Callable, CyclicBarrier, Executors, TimeUnit}

import graft.SparkSpec
import org.apache.hadoop.fs.Path

/** The Iceberg metadata commit ([[IcebergMetadata.commit]]) under TRUE
  * concurrency: two writers hold the same table head, a CyclicBarrier
  * releases both right before the `v<hint+1>.metadata.json` claim, and
  * in every round exactly one commit may land while the other throws
  * the conflict. Runs on the `file` scheme — the one where the claim
  * is POSIX link(2); Hadoop's check-then-create lets two racing local
  * writers both "win", the later silently overwriting the earlier.
  * The hint starts with a Hadoop-written `.crc` sidecar (what a table
  * written through Hadoop's checksummed local FS carries), so every
  * round also reads through a hint the commits replaced. */
class IcebergCommitRaceSpec extends SparkSpec {
  import spark.implicits._

  private def exported(df: org.apache.spark.sql.DataFrame): String = {
    val t = new SnapshotTables(spark,
      java.nio.file.Files.createTempDirectory("graft-race-snap").toString)
    t.overwriteTable(df, "tab")
    val dest = java.nio.file.Files.createTempDirectory("graft-race-ice").toString
    IcebergExport.export(t, "tab", dest)
    dest
  }

  private def fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Two commits prepared from the same head (`prepare` loads it and
    * stages everything but the claim), run on two threads released
    * together: each writer's result or the exception it threw. */
  private def race[T](prepare: Int => () => T): Seq[Either[Throwable, T]] = {
    val commits = Seq(prepare(0), prepare(1))
    val barrier = new CyclicBarrier(2)
    val pool = Executors.newFixedThreadPool(2)
    try {
      commits.map { c =>
        pool.submit(new Callable[Either[Throwable, T]] {
          def call(): Either[Throwable, T] = {
            barrier.await()
            try Right(c()) catch { case e: Exception => Left(e) }
          }
        })
      }.map(_.get(5, TimeUnit.MINUTES))
    } finally pool.shutdownNow()
  }

  /** Exactly one writer landed and the other lost the claim of
    * `v<expected>.metadata.json`. */
  private def assertOneWinner[T](outcomes: Seq[Either[Throwable, T]], expected: Int,
      round: String): Unit = {
    assert(outcomes.count(_.isRight) == 1, s"$round: exactly one commit must land, got $outcomes")
    outcomes.collect { case Left(e) => e }.foreach {
      case c: IcebergMetadata.CommitConflictException =>
        assert(c.getMessage.contains(s"v$expected.metadata.json"), round)
      case other => fail(s"$round: the loser must throw the commit conflict", other)
    }
  }

  private def hintOf(dest: String): Int =
    java.nio.file.Files.readString(java.nio.file.Paths.get(dest, "metadata", "version-hint.text"))
      .trim.toInt

  test("racing metadata commits: one lands per round, the other conflicts on the version file") {
    val dest = exported(Seq((1L, "a")).toDF("k", "v"))
    val hintPath = new Path(dest, "metadata/version-hint.text")
    val crc = java.nio.file.Paths.get(dest, "metadata", ".version-hint.text.crc")
    val start = hintOf(dest)
    locally {
      val os = fs.create(hintPath, true)
      try os.write(start.toString.getBytes("UTF-8")) finally os.close()
    }
    assert(java.nio.file.Files.exists(crc), "the checksummed local FS writes a .crc sidecar")

    val rounds = 40
    (1 to rounds).foreach { r =>
      val outcomes = race { w =>
        val (mdPath, md) = IcebergMetadata.loadHead(fs, dest)
        val tag = md.get("refs").asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
          .putObject(s"r$r-w$w")
        tag.put("snapshot-id", md.get("current-snapshot-id").asLong)
        tag.put("type", "tag")
        () => IcebergMetadata.commit(fs, mdPath, md)
      }
      assertOneWinner(outcomes, start + r, s"round $r")
    }
    assert(hintOf(dest) == start + rounds)
    assert(!java.nio.file.Files.exists(crc), "a replaced hint must not keep a stale .crc")
    // every round's winner carried every earlier winner's tag: no lost write
    val tags = IcebergImport.refs(spark, dest).collect { case (n, (_, "tag")) => n }
    assert(tags.size == rounds)
    assert(tags.map(_.takeWhile(_ != '-')).toSet == (1 to rounds).map(r => s"r$r").toSet)
  }

  test("racing appends: one lands, the other conflicts, and the table reads only the winner") {
    val dest = exported(Seq((1L, "a")).toDF("k", "v"))
    val start = hintOf(dest)
    val rows = Seq(Seq((100L, "w0")), Seq((101L, "w1")))
    val outcomes = race { w =>
      val lt = IcebergAppend.load(spark, dest)
      val m = IcebergAppend.writeDataManifest(spark, lt, rows(w).toDF("k", "v"))
      () => IcebergAppend.commitSnapshot(spark, lt, Seq(m), operation = "append")
    }
    assertOneWinner(outcomes, start + 1, "append round")
    val winner = outcomes.indexWhere(_.isRight)
    assert(IcebergImport.read(spark, dest).as[(Long, String)].collect().toSet ==
      (Seq((1L, "a")) ++ rows(winner)).toSet)
  }
}
