package graft.io

import org.apache.hadoop.fs.Path
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** The metadata codec reads back what it writes: every entry
  * [[IcebergMetadata.writeManifest]] encodes decodes equal through
  * [[IcebergMetadata.TableMetadata.entries]], and every
  * [[IcebergMetadata.writeManifestList]] entry equal through
  * [[IcebergMetadata.TableMetadata.manifests]] — inherited and
  * explicit sequences, equality ids, the v3 deletion-vector triple and
  * `first_row_id`, stats maps and partition values included. Pure JVM
  * over the local file system, no Spark. */
class IcebergMetadataRoundTripSpec extends AnyFunSuite {
  import IcebergMetadata._

  private val fs = org.apache.hadoop.fs.FileSystem.getLocal(new org.apache.hadoop.conf.Configuration())

  private def sample[T](g: Gen[T]): T = Iterator.continually(g.sample).flatten.next()

  private def table(fv: Int): TableMetadata = {
    val dir = java.nio.file.Files.createTempDirectory("graft-icecodec").toString
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(s"""{"format-version":$fv}""").asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    new TableMetadata(fs, dir, new Path(dir, "metadata/v1.metadata.json"), json)
  }

  private val genPartFields: Gen[Seq[PartField]] = for {
    n <- Gen.chooseNum(0, 3)
    kinds <- Gen.listOfN(n, Gen.oneOf("int", "long", "string", "date"))
  } yield kinds.zipWithIndex.map { case (k, i) => PartField(s"p$i", k, 1000 + i) }

  private def genPartValue(kind: String): Gen[AnyRef] = Gen.frequency(1 -> Gen.const(null),
    4 -> (kind match {
      case "long" => Gen.long.map(java.lang.Long.valueOf)
      case "string" => Gen.alphaNumStr
      case _ => Gen.chooseNum(-100000, 100000).map(Integer.valueOf)
    }))

  private val genBytes: Gen[Array[Byte]] = Gen.chooseNum(0, 16).flatMap(n =>
    Gen.listOfN(n, Gen.chooseNum(-128, 127).map(_.toByte)).map(_.toArray))

  private val genStats: Gen[Map[Int, IcebergExport.ColFileStats]] = Gen.mapOf(for {
    id <- Gen.chooseNum(1, 40)
    vc <- Gen.option(Gen.chooseNum(0L, 1L << 40))
    nc <- Gen.option(Gen.chooseNum(0L, 1L << 40))
    lo <- Gen.option(genBytes)
    hi <- Gen.option(genBytes)
    // a column with no stat at all writes nothing to read back
    if Seq(vc, nc, lo, hi).exists(_.isDefined)
  } yield id -> IcebergExport.ColFileStats(vc, nc, lo, hi))

  /** One entry of a manifest with `content` (0 data, 1 deletes). */
  private def genEntry(fv: Int, content: Int, parts: Seq[PartField]): Gen[ManifestEntry] = for {
    status <- Gen.oneOf(0, 1, 2)
    snap <- Gen.chooseNum(1L, Long.MaxValue)
    // None = inherited from the manifest list
    seq <- Gen.option(Gen.chooseNum(0L, 1L << 40))
    fileSeq <- Gen.option(Gen.chooseNum(0L, 1L << 40))
    rows <- Gen.chooseNum(0L, 1L << 40)
    size <- Gen.chooseNum(0L, 1L << 40)
    path <- Gen.alphaNumStr.map(s => s"file:/data/$s.parquet")
    partition <- Gen.sequence[Seq[AnyRef], AnyRef](parts.map(p => genPartValue(p.kind)))
    stats <- genStats
    kind <- Gen.oneOf(if (content == 0) Seq("data") else Seq("pos", "eq") ++ (if (fv >= 3) Seq("dv") else Nil))
    eqIds <- Gen.nonEmptyListOf(Gen.chooseNum(1, 40))
    ref <- Gen.alphaNumStr.map(s => s"file:/data/$s.parquet")
    off <- Gen.chooseNum(0L, 1L << 30)
    len <- Gen.chooseNum(1L, 1L << 30)
    firstRowId <- if (fv >= 3 && content == 0) Gen.option(Gen.chooseNum(0L, 1L << 40)) else Gen.const(None)
  } yield ManifestEntry(status, Some(snap), seq, fileSeq, DataFile(
    content = kind match { case "data" => 0; case "eq" => 2; case _ => 1 },
    path = path, format = if (kind == "dv") "PUFFIN" else "PARQUET",
    recordCount = rows, sizeBytes = size,
    partition = parts.map(_.name).zip(partition), stats = stats,
    equalityIds = if (kind == "eq") eqIds else Nil,
    dv = if (kind == "dv") Some(PuffinDeletionVectors.DvRef(ref, off, len, rows)) else None,
    firstRowId = firstRowId))

  /** Byte arrays compare by content. */
  private def canon(e: ManifestEntry) = (e.copy(file = e.file.copy(stats = Map.empty)),
    e.file.stats.map { case (id, c) => id -> (c.valueCount, c.nullCount, c.lower.map(_.toSeq), c.upper.map(_.toSeq)) })

  test("every manifest entry the codec writes reads back equal") {
    for (round <- 1 to 30) {
      val fv = if (round % 2 == 0) 3 else 2
      val tm = table(fv)
      val content = round % 3 % 2
      val parts = sample(genPartFields)
      val entries = sample(Gen.chooseNum(1, 12).flatMap(n => Gen.listOfN(n, genEntry(fv, content, parts))))
      val header = ManifestHeader(fv, content, """{"type":"struct","schema-id":0,"fields":[]}""", 0,
        0, "[]", parts)
      val written = writeManifest(fs, new Path(tm.tableDir, s"m-$round.avro"), header, entries, 7L, 9L)
      val read = tm.entries(written)
      assert(read.partFields == parts)
      assert(read.entries.map(canon) == entries.map(canon), s"round $round (v$fv, content $content)")
      assert(read.meta.get("format-version").contains(fv.toString) &&
        read.meta.get("content").contains(if (content == 0) "data" else "deletes"))
      // the inheritance rule fills exactly the ADDED entries' None sequences
      read.entries.filter(e => e.sequence.isEmpty && e.status == 1).foreach(e =>
        assert(tm.dataSequence(e, written, read.path) == 7L))
    }
  }

  private def genListEntry(fv: Int): Gen[ManifestListEntry] = for {
    path <- Gen.alphaNumStr.map(s => s"file:/meta/$s.avro")
    longs <- Gen.listOfN(9, Gen.chooseNum(0L, 1L << 40))
    ints <- Gen.listOfN(5, Gen.chooseNum(0, 1 << 20))
    firstRowId <- if (fv >= 3) Gen.option(Gen.chooseNum(0L, 1L << 40)) else Gen.const(None)
  } yield ManifestListEntry(path, longs(0), ints(0), ints(1) % 2, longs(1), longs(2), Some(longs(3)),
    ints(2), ints(3), ints(4), longs(4), longs(5), longs(6), firstRowId)

  test("every manifest-list entry the codec writes reads back equal, v2 and v3") {
    for (round <- 1 to 20) {
      val fv = if (round % 2 == 0) 3 else 2
      val tm = table(fv)
      val entries = sample(Gen.chooseNum(0, 10).flatMap(n => Gen.listOfN(n, genListEntry(fv))))
      val list = writeManifestList(fs, new Path(tm.tableDir, s"snap-$round.avro"), fv, 5L, Some(4L),
        3L, entries)
      val snap = Snapshot(5L, Some(4L), Some(3L), 0L, Map.empty, Some(list), None, null)
      assert(tm.manifests(snap) == entries, s"round $round (v$fv)")
    }
  }
}
