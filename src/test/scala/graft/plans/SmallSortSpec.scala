package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalacheck.Gen

/** [[SmallSortRule]]: a global sort whose materialized input AQE would
  * coalesce into one partition sorts in one task, with no range
  * exchange — same rows, same order; past the gate the range exchange
  * and the output partition count stay as they were. */
class SmallSortSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import SmallSortSpec.Key

  private def sample[T](g: Gen[T]): T = Iterator.continually(g.sample).flatten.next()

  /** Runs `body` under `confs` (Spark's own keys), restored after. */
  private def withSQLConf[T](confs: (String, String)*)(body: => T): T = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** `df`'s rows, whether its final adaptive plan kept a range
    * exchange, and its output partition count. */
  private def run(df: => DataFrame): (Seq[Row], Boolean, Int) = {
    val qe = df.queryExecution
    val rdd = qe.executedPlan.execute()
    val ranged = collect(qe.executedPlan) {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }.nonEmpty
    (qe.executedPlan.executeCollectPublic().toSeq, ranged, rdd.getNumPartitions)
  }

  private val Excluded = "spark.sql.adaptive.optimizer.excludedRules" -> SmallSortRule.ruleName

  // --- random small frames: ints, strings, doubles; nulls, NaN, dups ---
  private val schema = StructType(Seq(
    StructField("i", IntegerType), StructField("s", StringType), StructField("d", DoubleType)))
  private val genRow: Gen[Row] = for {
    i <- Gen.frequency[Any](8 -> Gen.choose(-3, 3), 1 -> Gen.const(null))
    s <- Gen.frequency[Any](8 -> Gen.oneOf("", "a", "b", "B", "ab"), 1 -> Gen.const(null))
    d <- Gen.frequency[Any](8 -> Gen.oneOf(-1.5, 0.0, 2.0, Double.PositiveInfinity),
      1 -> Gen.const(Double.NaN), 1 -> Gen.const(null))
  } yield Row(i, s, d)
  private val genKeys: Gen[Seq[Key]] = for {
    n <- Gen.choose(1, 3)
    cols <- Gen.oneOf(Seq(0, 1, 2).permutations.toSeq).map(_.take(n))
    keys <- Gen.sequence[Seq[Key], Key](cols.map(c =>
      for (a <- Gen.oneOf(true, false); nf <- Gen.oneOf(true, false)) yield Key(c, a, nf)))
  } yield keys

  /** Spark's orderings: NaN above every double, -0.0 never drawn. */
  private def cmpValue(a: Any, b: Any): Int = (a, b) match {
    case (x: Int, y: Int) => Integer.compare(x, y)
    case (x: String, y: String) => x.compareTo(y)
    case (x: Double, y: Double) => java.lang.Double.compare(x, y)
  }
  private def driverSort(rows: Seq[Row], keys: Seq[Key]): Seq[Row] =
    rows.sortWith { (r1, r2) =>
      keys.iterator.map { k =>
        val (a, b) = (r1.get(k.c), r2.get(k.c))
        if (a == null && b == null) 0
        else if (a == null) (if (k.nullsFirst) -1 else 1)
        else if (b == null) (if (k.nullsFirst) 1 else -1)
        else if (k.asc) cmpValue(a, b) else -cmpValue(a, b)
      }.find(_ != 0).exists(_ < 0)
    }
  private def render(r: Row, cs: Seq[Int]): String = cs.map(c => String.valueOf(r.get(c))).mkString("|")

  test("random small sorts: the one-task sort equals a driver-side sort, with no range exchange") {
    (1 to 25).foreach { trial =>
      // at least two rows: Spark's OptimizeOneRowPlan drops the Sort of
      // a one-row input, so no sort is left to run in one task and the
      // input's partitioning (3 here) passes through
      val rows = sample(Gen.choose(2, 60).flatMap(n => Gen.listOfN(n, genRow)))
      val keys = sample(genKeys)
      val order: Seq[Column] = keys.map { k =>
        val c = col(schema(k.c).name)
        (k.asc, k.nullsFirst) match {
          case (true, true) => c.asc_nulls_first
          case (true, false) => c.asc_nulls_last
          case (false, true) => c.desc_nulls_first
          case (false, false) => c.desc_nulls_last
        }
      }
      val (out, ranged, parts) = run(
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).repartition(3).sort(order: _*))
      val clue = s"trial $trial keys $keys rows $rows"
      assert(!ranged && parts == 1, clue)
      val kc = keys.map(_.c)
      assert(out.map(render(_, kc)) == driverSort(rows, keys).map(render(_, kc)), clue)
      assert(out.map(render(_, 0 to 2)).sorted == rows.map(render(_, 0 to 2)).sorted, clue)
    }
  }

  private def grouped: DataFrame =
    spark.range(0, 400).selectExpr("id % 7 AS a", "CAST(id % 5 AS STRING) AS b")
      .groupBy("a", "b").count().orderBy("a", "b")

  test("a small GROUP BY … ORDER BY runs no range exchange and keeps its rows, order and one partition") {
    val (rows, ranged, parts) = run(grouped)
    val (base, baseRanged, baseParts) = withSQLConf(Excluded)(run(grouped))
    assert(!ranged && parts == 1)
    assert(baseRanged && baseParts == 1, "without the rule AQE coalesces the range shuffle to one partition")
    assert(rows == base && rows.length == 35)
  }

  test("past the gate the range exchange stays and the output partition count is unchanged") {
    Seq(
      Seq("spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1b"),
      Seq("spark.sql.adaptive.coalescePartitions.enabled" -> "false"),
      Seq("spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1b")
    ).foreach { confs =>
      val (rows, ranged, parts) = withSQLConf(confs: _*)(run(grouped))
      val (base, _, baseParts) = withSQLConf(confs :+ Excluded: _*)(run(grouped))
      assert(ranged && parts == baseParts, confs)
      assert(rows == base, confs)
    }
    // advisory-size gate: parallelismFirst off, default advisory size
    val (_, ranged, parts) =
      withSQLConf("spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false")(run(grouped))
    assert(!ranged && parts == 1)
  }
}

object SmallSortSpec {
  /** One sort key: column index, direction and null placement. */
  final case class Key(c: Int, asc: Boolean, nullsFirst: Boolean)
}
