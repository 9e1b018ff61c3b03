package graft.pipeline

import java.nio.file.{Files, Paths}
import java.time.LocalDate

/** Deterministic brewery-shaped NDJSON generator (FIXTURES.md A.1) at
  * the reference's real dataset scale (~8.9k rows over ~45 files of
  * ≤200 records — datalake_bronze_fetch_raw_data_api_dag.py:25,
  * meta.total ≈ 8900): like-shaped bronze input for the schema-
  * inference specs. */
object BreweryFixture {

  private val types = Seq("micro", "brewpub", "regional", "contract", "planning", null)
  private val countries = Seq("United States", "Ireland", "South Korea", "Portugal", null)

  private def rec(i: Int): String = {
    val t = types(i % types.length)
    val c = countries(i % countries.length)
    val tj = if (t == null) "null" else s""""$t""""
    val cj = if (c == null) "null" else s""""$c""""
    // every 97th phone is unparseable -> conformance casts it to null
    val phone = if (i % 97 == 0) "\"not-a-phone\"" else "\"" + ("40581604" + i).take(11) + "\""
    s"""{"id":"b${"%05d".format(i)}","name":"Brewery $i","brewery_type":$tj,"city":"City${i % 500}",""" +
      s""""state_province":"State${i % 60}","postal_code":"${10000 + i % 90000}","country":$cj,""" +
      s""""longitude":"${-120.0 + (i % 700) / 10.0}","latitude":"${25.0 + (i % 250) / 10.0}",""" +
      s""""phone":$phone,"website_url":"http://example.com/b$i","street":"$i Main St"}"""
  }

  /** Land `rows` records as NDJSON under `root/sys_file_date=<date>/`,
    * 200 per file like the reference's pagination. Returns the prefix. */
  def land(root: String, date: LocalDate, rows: Int = 8910): String = {
    val dir = Paths.get(s"$root/sys_file_date=$date")
    Files.createDirectories(dir)
    (0 until rows).grouped(200).zipWithIndex.foreach { case (chunk, page) =>
      val node = page % 3 + 1 // the reference's 3 fetch nodes
      Files.write(
        dir.resolve(s"node_${node}_page_${page + 1}.json"),
        chunk.map(rec).mkString("\n").getBytes("UTF-8")
      )
    }
    s"$root/sys_file_date=$date"
  }
}
