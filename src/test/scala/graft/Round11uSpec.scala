package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Wave-77 bounds: the table checksum is order-independent and
  * detects single-row perturbations (the property a reconciliation
  * digest exists for), and the Hampel filter matches a driver
  * recomputation on the raw daily grid — spikes replaced by the
  * rolling median, everything else passed through.
  */
class Round11uSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.01"

  test("quality_table_checksum is order-independent and perturbation-sensitive") {
    val base = SparkEntry.queries("quality_table_checksum")(spark, sf)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getString(2), r.getLong(3)))
      .toMap
    assert(base.nonEmpty)
    // recompute from a shuffled row order — digests must not move
    def digests(df: org.apache.spark.sql.DataFrame) = df
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("month"),
              conv(substring(md5(concat_ws("|",
                     col("o_orderkey"), col("o_custkey"),
                     col("o_orderstatus"),
                     round(col("o_totalprice") * 100).cast("bigint"),
                     date_format(col("o_orderdate"), "yyyy-MM-dd"),
                     col("o_orderpriority"))), 1, 15), 16, 10)
                .cast("bigint").as("h"))
      .groupBy("month")
      .agg(count(lit(1)).as("n"),
           sum(col("h").cast("decimal(38,0)")).cast("string").as("s"),
           expr("bit_xor(h)").as("x"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getString(2), r.getLong(3)))
      .toMap
    val shuffled = digests(
      Tables(spark, sf, "orders").repartition(7, col("o_custkey")))
    assert(shuffled == base, "row order / partitioning must not change digests")
    // perturb ONE row's price by one cent — its month's digests must move
    val perturbed = digests(
      Tables(spark, sf, "orders").withColumn("o_totalprice",
        when(col("o_orderkey") === 7, col("o_totalprice") + 0.01)
          .otherwise(col("o_totalprice"))))
    val movedMonth = Tables(spark, sf, "orders")
      .filter(col("o_orderkey") === 7)
      .select(date_format(col("o_orderdate"), "yyyy-MM")).first().getString(0)
    assert(perturbed(movedMonth)._2 != base(movedMonth)._2,
           "sum digest must detect a one-cent perturbation")
    assert(perturbed(movedMonth)._3 != base(movedMonth)._3,
           "xor digest must detect a one-cent perturbation")
    assert(perturbed.filter(_._1 != movedMonth) ==
             base.filter(_._1 != movedMonth),
           "other months' digests must not move")
  }

  test("window_hampel_filter matches a driver recomputation") {
    val rows = SparkEntry.queries("window_hampel_filter")(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
             (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getBoolean(5),
              r.getDouble(6)))
      .toMap
    assert(rows.size % 30 == 0 && rows.nonEmpty)
    val daily = Tables.events(spark, sf)
      .groupBy(col("event_type"),
               datediff(col("ts").cast("date"), to_date(lit("2023-12-31")))
                 .cast("bigint").as("t"))
      .agg(count(lit(1)).as("x"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val types = daily.keys.map(_._1).toSeq.distinct
    def med(v: Seq[Double]): Double = {
      val s = v.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    types.foreach { et =>
      val x = (1 to 30).map(t => daily.getOrElse((et, t.toLong), 0L).toDouble)
      (1 to 30).foreach { t =>
        val frame = (math.max(1, t - 3) to math.min(30, t + 3)).map(i => x(i - 1))
        val m = med(frame)
        val md = med(frame.map(v => math.abs(v - m)))
        val spike = math.abs(x(t - 1) - m) > 3.0 * 1.4826 * md
        val (gx, gm, gmd, gs, gf) = rows((et, t.toLong))
        assert(gx == x(t - 1).toLong, s"$et day $t count")
        assert(math.abs(gm - m) < 1e-9, s"$et day $t median")
        assert(math.abs(gmd - md) < 1e-9, s"$et day $t MAD")
        assert(gs == spike, s"$et day $t spike flag")
        assert(math.abs(gf - (if (spike) m else x(t - 1))) < 1e-9,
               s"$et day $t filtered value")
      }
    }
  }
}
