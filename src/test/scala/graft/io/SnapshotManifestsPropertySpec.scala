package graft.io

import graft.SparkSpec
import graft.catalog.SnapshotCatalog
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{col, count, lit, max, min}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property: every manifest answer equals the plain answer, whether the
  * manifest rules run on the driver (the default budget) or in a Spark
  * job (`graft.scan.manifestDriverRows = 0`). Random append chains of
  * 1–3 segments over int, long, double and string columns (strings
  * include characters outside the BMP, whose UTF-8 and UTF-16 orders
  * differ), with stats on every column and sketches on a random subset;
  * random bounds and IN-probes. */
class SnapshotManifestsPropertySpec extends SparkSpec {
  import spark.implicits._

  private val catalog = "mprop"
  private lazy val st: SnapshotTables = {
    val root = java.nio.file.Files.createTempDirectory("graft-mprop").toString
    spark.conf.set(s"spark.sql.catalog.$catalog", classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$catalog.root", root)
    spark.sql(s"CREATE NAMESPACE $catalog.dw")
    new SnapshotTables(spark, s"$root/dw")
  }

  private val strings = Seq("a", "ab", "b", "z", "￿", "😀", "😀x", "𝄞", "é")
  private type R = (Option[Int], Long, Double, String)
  private val genRow: Gen[R] = for {
    i <- Gen.frequency(4 -> Gen.chooseNum(-50, 50).map(Option(_)), 1 -> Gen.const(None))
    l <- Gen.chooseNum(-1000L, 1000L)
    d <- Gen.chooseNum(-40, 40).map(_ * 0.5)
    s <- Gen.oneOf(strings)
  } yield (i, l, d, s)
  private val cols = Seq("i", "l", "d", "s")

  private def value(c: String, r: R): Any = c match {
    case "i" => r._1.orNull
    case "l" => r._2
    case "d" => r._3
    case _ => r._4
  }
  private def genValue(c: String, rows: Seq[R]): Gen[Any] =
    Gen.frequency(3 -> Gen.oneOf(rows).map(value(c, _)), 1 -> genRow.map(value(c, _)))
      .suchThat(_ != null)

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** The data files a planned read opens (the SQL scan included). */
  private def planned(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.inputFiles.toSeq
        case _ => Nil
      }
    }.flatten.sorted

  /** `body` with the manifest rules on the driver, then in a Spark job. */
  private def bothWays[T](body: => T): (T, T) = {
    def fresh() = SnapshotTables.manifestCache.synchronized(SnapshotTables.manifestCache.clear())
    fresh()
    val driver = body
    spark.conf.set("graft.scan.manifestDriverRows", "0")
    try { fresh(); (driver, body) }
    finally { spark.conf.unset("graft.scan.manifestDriverRows"); fresh() }
  }

  private def withoutMetadata[T](body: => T): T = {
    spark.conf.set("graft.scan.manifestPruning", "false")
    spark.conf.set("graft.scan.metadataAggregates", "false")
    try body
    finally {
      spark.conf.unset("graft.scan.manifestPruning")
      spark.conf.unset("graft.scan.metadataAggregates")
    }
  }

  test("pruned reads, SQL scans and metadata aggregates equal the plain answers on both evaluation paths") {
    var skipped = 0 // probes and boxes that skipped a file: the property is not vacuous
    for (round <- 1 to 3) {
      def draw[T](g: Gen[T], salt: Int): T = g.pureApply(Gen.Parameters.default, Seed(round * 1000L + salt))
      val table = s"t$round"
      val nSegs = round % 3 + 1
      val sketch = draw(Gen.someOf(cols), 2).toSeq
      val segs = (1 to nSegs).map(k => draw(Gen.listOfN(draw(Gen.chooseNum(4, 40), 10 + k), genRow), 20 + k))
      segs.zipWithIndex.foreach { case (rows, k) =>
        val files = draw(Gen.chooseNum(1, 3), 30 + k)
        val df = rows.toDF(cols: _*).repartitionByRange(files, col(draw(Gen.oneOf(cols), 40 + k)))
        if (k == 0) st.overwriteTable(df, table, Nil, statsCols = cols, sketchCols = sketch)
        else st.append(df, table)
      }
      val all = segs.flatten
      val plain = st.read(table)
      val sql = spark.table(s"$catalog.dw.$table")
      val clue = s"round $round: ${all.length} rows in $nSegs segments, sketches on $sketch"

      val allFiles = plain.inputFiles.length
      for (q <- 1 to 3) {
        val c1 = draw(Gen.oneOf(cols), 100 + q)
        val c2 = draw(Gen.oneOf(cols.filter(_ != c1)), 110 + q)
        def bound(c: String, salt: Int): (Any, Any) = {
          val a = draw(genValue(c, all), salt)
          val b = draw(genValue(c, all), salt + 1)
          if (c == "s") {
            val (x, y) = (a.toString, b.toString)
            if (org.apache.spark.unsafe.types.UTF8String.fromString(x)
                .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y)) <= 0) (x, y) else (y, x)
          } else if (a.toString.toDouble <= b.toString.toDouble) (a, b) else (b, a)
        }
        val (lo1, hi1) = bound(c1, 120 + 10 * q)
        val (lo2, hi2) = bound(c2, 200 + 10 * q)
        val box: Column = col(c1).between(lo1, hi1) && col(c2).between(lo2, hi2)
        val probes = draw(Gen.listOfN(3, genValue(c1, all)), 300 + q)
        val in: Column = col(c1).isin(probes: _*)
        val what = s"$clue; box $c1 [$lo1, $hi1] x $c2 [$lo2, $hi2]; $c1 IN $probes"

        val want = sorted(plain.where(box))
        val wantIn = sorted(plain.where(in))
        val (boxFiles, boxFilesJob) = bothWays {
          val b = st.readPrunedBox(table, Seq((c1, lo1, hi1), (c2, lo2, hi2)))
          assert(sorted(b.where(box)) == want, what)
          b.inputFiles.sorted.toSeq
        }
        assert(boxFiles == boxFilesJob, what)
        val (inFiles, inFilesJob) = bothWays {
          val p = st.readPrunedIn(table, c1, probes)
          assert(sorted(p.where(in)) == wantIn, what)
          p.inputFiles.sorted.toSeq
        }
        assert(inFiles == inFilesJob, what)
        if (boxFiles.length < allFiles) skipped += 1
        if (inFiles.length < allFiles) skipped += 1
        val (sqlFiles, sqlFilesJob) = bothWays {
          val s1 = sql.where(box)
          val s2 = sql.where(in)
          assert(sorted(s1) == want && sorted(s2) == wantIn, what)
          (planned(s1), planned(s2))
        }
        assert(sqlFiles == sqlFilesJob, what)
      }

      assert(st.fastCount(table) == all.length, clue)
      val aggs = cols.flatMap(c => Seq(count(col(c)), min(col(c)), max(col(c))))
      val wantAgg = withoutMetadata(sql.agg(count(lit(1)), aggs: _*).collect().head)
      val (gotAgg, gotAggJob) = bothWays(Seq(
        sql.agg(count(lit(1)), aggs: _*).collect().head,
        sql.agg(count(lit(1)), cols.filter(_ != "s").flatMap(c => Seq(min(col(c)), max(col(c)))): _*).collect().head))
      assert(gotAgg == gotAggJob, clue)
      assert(gotAgg.head == wantAgg, clue)
      val numeric = withoutMetadata(
        sql.agg(count(lit(1)), cols.filter(_ != "s").flatMap(c => Seq(min(col(c)), max(col(c)))): _*).collect().head)
      assert(gotAgg(1) == numeric, clue)

      val byCol = st.manifestAgg(table, cols).collect().map(r => r.getString(0) -> r).toMap
      for (c <- cols.filter(_ != "s")) {
        val r: Row = byCol(c)
        val vals = all.map(value(c, _)).filter(_ != null).map(_.toString.toDouble)
        if (!r.isNullAt(1)) assert(r.getLong(1) == all.length, s"$clue; $c n_rows")
        if (!r.isNullAt(4)) assert(r.getLong(4) == all.length - vals.length, s"$clue; $c n_nulls")
        if (!r.isNullAt(2)) assert(r.getDouble(2) == vals.min, s"$clue; $c min")
        if (!r.isNullAt(3)) assert(r.getDouble(3) == vals.max, s"$clue; $c max")
      }
    }
    assert(skipped > 0)
  }
}
