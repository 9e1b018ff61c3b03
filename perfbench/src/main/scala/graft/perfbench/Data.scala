package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable

/** Input generators. Everything the engine reads is made here, from the
  * run's seed (brewery days) or from fixed constants (the
  * analytics tables, whose answers are pinned in `answers.json`). */
object Data {

  // ---------------------------------------------------------------- brewery

  /** What one landed day should produce: silver rows, the gold
    * `(type, country) -> qtd` map, and the rows whose phone or longitude
    * must conform to null. */
  final case class BreweryDay(
      date: LocalDate,
      records: Int,
      files: Int,
      bytes: Long,
      gold: Map[(String, String), Long],
      nullPhones: Long,
      nullLongitudes: Long)

  private val breweryTypes =
    Vector("micro", "micro", "micro", "brewpub", "brewpub", "regional", "planning",
      "contract", "proprietor", "closed", "large", "nano", "taproom", null)
  private val countries =
    Vector("United States", "United States", "United States", "Ireland", "England",
      "South Korea", "Portugal", "Austria", "Scotland", "Poland", null)

  private def js(s: String): String =
    if (s == null) "null"
    else "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** Land one day of Open Brewery DB records as NDJSON under
    * `bronzeDir/sys_file_date=<date>/`, ≤200 records per file spread
    * over 3 fetch nodes, with the FIXTURES A.1 variants: files that omit
    * columns, files that carry extra ones, and unparseable phone and
    * longitude strings. */
  def landBreweryDay(bronzeDir: Path, date: LocalDate, rng: scala.util.Random): BreweryDay = {
    val records = 8800 + rng.nextInt(200)
    val dir = bronzeDir.resolve(s"sys_file_date=$date")
    Files.createDirectories(dir)
    val gold = mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
    var nullPhones = 0L
    var nullLon = 0L
    var bytes = 0L
    val pages = (0 until records).grouped(200).toVector
    pages.zipWithIndex.foreach { case (chunk, page) =>
      val missing = rng.nextInt(5) == 0 // this page's records lack address_2/address_3/state
      val extra = rng.nextInt(4) == 0 // this page's records carry fields the spec drops
      val sb = new StringBuilder
      chunk.foreach { i =>
        val t = breweryTypes(rng.nextInt(breweryTypes.length))
        val c = countries(rng.nextInt(countries.length))
        gold((t, c)) += 1
        val phone =
          if (rng.nextInt(100) == 0) { nullPhones += 1; "not-a-phone" }
          else if (rng.nextInt(50) == 0) { nullPhones += 1; null }
          else (2000000000L + rng.nextInt(999999999)).toString
        val lon =
          if (rng.nextInt(100) == 0) { nullLon += 1; "n/a" }
          else f"${-125.0 + rng.nextDouble() * 60.0}%.8f"
        val lat = f"${25.0 + rng.nextDouble() * 24.0}%.8f"
        val fields = mutable.ArrayBuffer(
          "id" -> js(java.util.UUID.nameUUIDFromBytes(s"$date/$i".getBytes(StandardCharsets.UTF_8)).toString),
          "name" -> js(s"Brewery ${rng.nextInt(100000)}"),
          "brewery_type" -> js(t),
          "address_1" -> js(s"${rng.nextInt(9999)} Main St"),
          "city" -> js(s"City${rng.nextInt(900)}"),
          "state_province" -> js(s"State${rng.nextInt(60)}"),
          "postal_code" -> js(f"${rng.nextInt(99999)}%05d"),
          "country" -> js(c),
          "longitude" -> js(lon),
          "latitude" -> js(lat),
          "phone" -> js(phone),
          "website_url" -> js(s"http://example.com/b$i"),
          "street" -> js(s"${rng.nextInt(9999)} Main St"))
        if (!missing) fields ++= Seq("address_2" -> "null", "address_3" -> "null",
          "state" -> js(s"State${rng.nextInt(60)}"))
        if (extra) fields ++= Seq("updated_at" -> js(s"${date}T00:00:00Z"), "tags" -> "[\"a\",\"b\"]")
        sb.append(fields.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")).append('\n')
      }
      val b = sb.toString.getBytes(StandardCharsets.UTF_8)
      bytes += b.length
      Files.write(dir.resolve(s"node_${page % 3 + 1}_page_${page + 1}.json"), b)
    }
    BreweryDay(date, records, pages.size, bytes, gold.toMap, nullPhones, nullLon)
  }

  // -------------------------------------------------------------- analytics

  /** Row counts of the generated analytics tables (the shape of the
    * corpus's sf0.01 fixtures). Changing any of these, or any expression
    * below, invalidates `answers.json`; re-pin with `pin_answers.py`. */
  val fixtureRows: Map[String, Long] = Map(
    "region" -> 5L, "nation" -> 25L, "customer" -> 1500L, "orders" -> 15000L,
    "lineitem" -> 60000L, "events" -> 10000L, "documents" -> 500L, "embeddings" -> 500L)

  private val vocab = Seq("the", "a", "of", "and", "batch", "part", "spark", "line", "column",
    "order", "small", "sort", "fast", "value", "scan", "hash", "slow", "group", "agg",
    "filter", "query", "big", "key", "window", "row", "table", "stream", "merge", "data",
    "vector", "customer", "join", "index", "plan", "cache", "shuffle", "commit", "file",
    "page", "node")

  private val lineitemExprs = Seq(
    "id div 4 AS l_orderkey",
    "pmod(hash(id, 1), 2000) AS l_partkey",
    "pmod(hash(id, 2), 100) AS l_suppkey",
    "CAST(id % 4 + 1 AS INT) AS l_linenumber",
    "CAST(pmod(hash(id, 3), 50) + 1 AS DOUBLE) AS l_quantity",
    "CAST(pmod(hash(id, 4), 9000000) + 100000 AS DOUBLE) / 100 AS l_extendedprice",
    "CAST(pmod(hash(id, 5), 11) AS DOUBLE) / 100 AS l_discount",
    "CAST(pmod(hash(id, 6), 9) AS DOUBLE) / 100 AS l_tax",
    "element_at(array('A', 'N', 'R'), CAST(pmod(hash(id, 7), 3) + 1 AS INT)) AS l_returnflag",
    "IF(pmod(hash(id, 8), 2) = 0, 'O', 'F') AS l_linestatus",
    "timestamp_seconds(788918400 + pmod(hash(id, 9), 2500) * 86400) AS l_shipdate")

  /** Lineitem-shaped rows for ids `[lo, hi)`, a pure function of the id. */
  def lineitem(spark: SparkSession, lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi).selectExpr(lineitemExprs: _*)

  /** Write the analytics tables as one parquet file each under `dir`. */
  def writeFixtures(spark: SparkSession, dir: String): Unit = {
    val n = fixtureRows
    val prev = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    def write(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    write("region", spark.range(n("region")).selectExpr("CAST(id AS INT) AS r_regionkey",
      "element_at(array('AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'), CAST(id + 1 AS INT)) AS r_name"))
    write("nation", spark.range(n("nation")).selectExpr("CAST(id AS INT) AS n_nationkey",
      "concat('NATION_', id) AS n_name", "CAST(id % 5 AS INT) AS n_regionkey"))
    write("customer", spark.range(n("customer")).selectExpr("id AS c_custkey",
      "concat('Customer#', lpad(CAST(id AS STRING), 9, '0')) AS c_name",
      "CAST(pmod(hash(id, 21), 25) AS INT) AS c_nationkey",
      "CAST(pmod(hash(id, 22), 1100000) - 100000 AS DOUBLE) / 100 AS c_acctbal",
      "element_at(array('AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'), " +
        "CAST(pmod(hash(id, 23), 5) + 1 AS INT)) AS c_mktsegment"))
    write("orders", spark.range(n("orders")).selectExpr("id AS o_orderkey",
      s"pmod(hash(id, 11), ${n("customer")}) AS o_custkey",
      "element_at(array('O', 'F', 'P'), CAST(pmod(hash(id, 12), 3) + 1 AS INT)) AS o_orderstatus",
      "CAST(pmod(hash(id, 13), 50000000) + 100000 AS DOUBLE) / 100 AS o_totalprice",
      "timestamp_seconds(788918400 + pmod(hash(id, 14), 2400) * 86400) AS o_orderdate",
      "element_at(array('1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'), " +
        "CAST(pmod(hash(id, 15), 5) + 1 AS INT)) AS o_orderpriority"))
    write("lineitem", lineitem(spark, 0, n("lineitem")))
    write("events", spark.range(n("events")).selectExpr("id AS event_id",
      "timestamp_micros(1704067200000000 + id * 30000000 + pmod(hash(id, 31), 30000000)) AS ts",
      "pmod(hash(id, 32), 150) AS user_id",
      "element_at(array('view', 'click', 'purchase', 'signup', 'error'), " +
        "CAST(pmod(hash(id, 33), 5) + 1 AS INT)) AS event_type",
      "CAST(pmod(hash(id, 34), 20000) AS DOUBLE) / 100 AS value",
      "concat('{\"k\": ', pmod(hash(id, 35), 100), '}') AS props"))
    // text: a seeded bag of words; every 13th doc repeats an earlier doc
    // with one extra word (near duplicate), every 101st repeats one
    // verbatim (exact duplicate)
    val words = vocab.map(w => s"'$w'").mkString("array(", ", ", ")")
    write("documents", spark.range(n("documents"))
      .selectExpr("id AS doc_id",
        "CASE WHEN id % 101 = 50 THEN id - 50 WHEN id % 13 = 7 THEN id - 7 ELSE id END AS tseed",
        "id % 13 = 7 AND id % 101 <> 50 AS near")
      .selectExpr("doc_id",
        s"concat_ws(' ', transform(sequence(1, CAST(8 + pmod(hash(tseed, 41), 80) AS INT)), " +
          s"i -> element_at($words, CAST(pmod(hash(tseed, i, 42), ${vocab.size}) + 1 AS INT)))) " +
          "|| IF(near, ' extra', '') AS text",
        "element_at(array('en', 'en', 'en', 'de', 'es', 'fr', 'zh'), CAST(pmod(hash(doc_id, 43), 7) + 1 AS INT)) AS lang",
        "concat('src', pmod(hash(doc_id, 44), 20)) AS source")
      .selectExpr("doc_id", "text", "lang", "source", "CAST(length(text) AS BIGINT) AS n_chars"))
    write("embeddings", spark.range(n("embeddings")).selectExpr("id AS vec_id",
      "transform(sequence(1, 64), j -> CAST((pmod(hash(id, j, 51), 20001) - 10000) / 40000.0 AS FLOAT)) AS embedding",
      "CAST(pmod(hash(id, 52), 10) AS INT) AS label"))
    prev match {
      case Some(v) => spark.conf.set("spark.sql.parquet.outputTimestampType", v)
      case None => spark.conf.unset("spark.sql.parquet.outputTimestampType")
    }
  }
}
