package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Wave-49 checks: the regex-funnel sequences agree with a driver-side
  * rebuild from raw events, the rates reconcile exactly with the
  * per-user key, and the struct-surgery key's INTERMEDIATE schema really
  * carries the evolved struct (withField added, dropFields removed).
  */
class Round10ssSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("ts_pattern_match_regex sequences match a driver-side rebuild") {
    val got = SparkEntry.queries("ts_pattern_match_regex")(spark, sf).collect()
    val raw = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("event_type"),
              expr("unix_micros(ts)").as("us"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val want = raw.groupBy(_._1).map { case (u, xs) =>
      val seq = xs.sortBy(x => (x._4, x._2)).map(_._3.head).mkString
      (u, xs.length.toLong, seq)
    }
    assert(got.length == want.size && got.nonEmpty)
    val wantMap = want.map(w => w._1 -> w).toMap
    got.foreach { r =>
      val (u, n, seq) = wantMap(r.getLong(0))
      assert(r.getLong(1) == n)
      assert(r.getString(2) == seq, s"seq mismatch for user $u")
      assert(r.getLong(3) == (if ("vc+p".r.findFirstIn(seq).isDefined) 1L else 0L))
      assert(r.getLong(4) == (if ("v.*c.*p".r.findFirstIn(seq).isDefined) 1L else 0L))
    }
    // strict implies subsequence
    assert(got.forall(r => r.getLong(3) <= r.getLong(4)))
  }

  test("ts_funnel_regex_rates reconciles with the per-user key") {
    val per = SparkEntry.queries("ts_pattern_match_regex")(spark, sf).collect()
    val agg = SparkEntry.queries("ts_funnel_regex_rates")(spark, sf).collect().head
    assert(agg.getLong(0) == per.length.toLong)
    assert(agg.getLong(1) == per.map(_.getLong(3)).sum)
    assert(agg.getLong(2) == per.map(_.getLong(4)).sum)
    val n = agg.getLong(0); val s = agg.getLong(1); val q = agg.getLong(2)
    assert(agg.getLong(3) == (s * 2000000L + n) / (2L * n))
    assert(agg.getLong(4) == (q * 2000000L + n) / (2L * n))
  }

  test("scalar_struct_fields evolves the struct schema in place") {
    // rebuild the intermediate the key constructs and assert the struct
    // really gained v_cents and lost v (the API contract, independent of
    // the flattened output the oracle checks)
    val evolved = Tables.events(spark, sf)
      .select(col("event_id"),
              struct(col("event_type").as("et"), col("value").as("v"),
                     col("user_id").as("uid")).as("payload"))
      .withColumn("payload",
        col("payload")
          .withField("v_cents", round(col("payload.v") * 100).cast("bigint"))
          .dropFields("v"))
    val fields = evolved.schema("payload").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSeq
    assert(fields == Seq("et", "uid", "v_cents"), s"got $fields")

    val got = SparkEntry.queries("scalar_struct_fields")(spark, sf)
    val want = Tables.events(spark, sf)
      .select(col("event_id"), col("event_type").as("et"),
              col("user_id").as("uid"),
              round(col("value") * 100).cast("bigint").as("v_cents"))
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }
}
