package graft.operators

import graft.{Decl, Tables, declMap}
import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.{BigIntVector, Float8Vector}
import org.apache.spark.sql.{Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY §2.12's interop cell — the Arrow-vectorized UDF path.
  *
  * A vectorized (pandas-style) UDF is, mechanically, "ship each partition
  * to the worker as Arrow record batches, compute over the columnar
  * buffers, ship batches back". This container has no Python runtime for
  * library code, so the worker here is in-JVM — but the batch plumbing is
  * the real thing: rows are batched into genuine Arrow value vectors
  * (`BigIntVector`/`Float8Vector` from the bundled arrow-vector, the same
  * memory format `mapInArrow`/`mapInPandas` workers receive), the
  * transform runs over those columnar buffers, and results stream back as
  * rows. Batch size 4096 mirrors
  * `spark.sql.execution.arrow.maxRecordsPerBatch`'s intent: bounded
  * per-batch memory regardless of partition size — the property that
  * keeps the exchange safe at 100 TB.
  *
  * Allocator lifecycle: one child allocator scope per batch, closed in a
  * finally — Arrow accounts off-heap buffers strictly, and a leaked
  * vector fails the allocator close loudly (better than an executor
  * OOM'ing silently at scale).
  */
object Interop {

  /** Luhn mod-10 checksum validity. Classical: from the RIGHT, double
    * every second digit, subtract 9 when the double exceeds 9, valid
    * iff the total ≡ 0 (mod 10). Pure integer/string arithmetic — the
    * oracle replays it with list_transform over the same digits.
    */
  private[graft] def luhnValid(s: String): Boolean = {
    var total = 0
    var i = s.length - 1
    var second = false
    while (i >= 0) {
      var d = s.charAt(i) - '0'
      if (second) { d *= 2; if (d > 9) d -= 9 }
      total += d
      second = !second
      i -= 1
    }
    total % 10 == 0
  }

  /** Exact Σ value² over BIGINTs — a typed Aggregator whose
    * reduce/merge are both plain adds, registered through
    * `functions.udaf` so SQL text can call it like a built-in.
    */
  private class SumSq extends org.apache.spark.sql.expressions.Aggregator[Long, Long, Long] {
    def zero: Long = 0L
    def reduce(acc: Long, x: Long): Long = acc + x * x
    def merge(a: Long, b: Long): Long = a + b
    def finish(acc: Long): Long = acc
    def bufferEncoder: org.apache.spark.sql.Encoder[Long] =
      org.apache.spark.sql.Encoders.scalaLong
    def outputEncoder: org.apache.spark.sql.Encoder[Long] =
      org.apache.spark.sql.Encoders.scalaLong
  }

  val decls: Map[String, Decl] = declMap(
    // Price-tier classification computed inside Arrow batches: cents =
    // round(price·100) and tier = cents div 10000, vectorized over the
    // columnar buffers. The DuckDB oracle recomputes both relationally —
    // the hash-match proves the Arrow exchange is value-exact (no
    // row-order, null, or rounding drift through the batch boundary).
    "udf_arrow_vectorized" -> Decl(
      (s, d) => {
        val src = Tables(s, d, "part")
          .select(col("p_partkey"), col("p_retailprice"))
        val outSchema = StructType(Seq(
          StructField("p_partkey", LongType),
          StructField("cents", LongType),
          StructField("tier", LongType)))
        src.mapPartitions { rows =>
          rows.grouped(4096).flatMap { chunk =>
            val alloc = new RootAllocator(Long.MaxValue)
            val keyV = new BigIntVector("p_partkey", alloc)
            val priceV = new Float8Vector("p_retailprice", alloc)
            try {
              val n = chunk.size
              keyV.allocateNew(n); priceV.allocateNew(n)
              var i = 0
              chunk.foreach { r =>
                if (r.isNullAt(0)) keyV.setNull(i) else keyV.setSafe(i, r.getLong(0))
                if (r.isNullAt(1)) priceV.setNull(i)
                else priceV.setSafe(i, r.getDouble(1))
                i += 1
              }
              keyV.setValueCount(n); priceV.setValueCount(n)
              val out = new Array[Row](n)
              var j = 0
              while (j < n) {
                val k: java.lang.Long =
                  if (keyV.isNull(j)) null else java.lang.Long.valueOf(keyV.get(j))
                if (priceV.isNull(j)) out(j) = Row(k, null, null)
                else {
                  val cents = Math.round(priceV.get(j) * 100.0d)
                  out(j) = Row(k, cents, cents / 10000L)
                }
                j += 1
              }
              out.toSeq
            } finally { keyV.close(); priceV.close(); alloc.close() }
          }
        }(Encoders.row(outSchema))
          .orderBy("p_partkey")
      },
      Some("""SELECT p_partkey,
             |       CAST(round(p_retailprice * 100) AS BIGINT) AS cents,
             |       CAST(round(p_retailprice * 100) AS BIGINT) // 10000 AS tier
             |FROM part ORDER BY p_partkey""".stripMargin)),

    // The remaining two UDF registration surfaces —
    // a REGISTERED scalar Scala UDF invoked from SQL text (the
    // `spark.udf.register` path users extend the engine through; Luhn
    // checksum validation of minted 16-digit account numbers — string and
    // integer arithmetic only, so the DuckDB oracle replays the identical
    // algorithm relationally), and a typed `Aggregator` registered via
    // `functions.udaf` and invoked from SQL (exact Σc² per event type —
    // the merge-associative shape that proves the partial/merge contract,
    // since any partial-aggregation error changes the exact BIGINT).
    //
    // Scale shape: the scalar UDF is row-local (no shuffle beyond the
    // final ORDER BY); the Aggregator is one hash aggregate with
    // map-side partials, exactly like a built-in sum.

    // 16-digit account numbers minted from event ids (zero-padded
    // digits of event_id·37 + user_id%10 — arbitrary but deterministic
    // content); the registered UDF classifies Luhn validity and the
    // key aggregates the verdicts so the oracle match covers every row.
    "udf_scalar_registered" -> Decl(
      (s, d) => {
        s.udf.register("luhn_valid",
          (acct: String) => luhnValid(acct))
        graft.Tables.events(s, d).createOrReplaceTempView("ev_udf91")
        s.sql("""
          SELECT valid, count(*) AS n,
                 min(acct) AS first_acct, max(acct) AS last_acct
          FROM (SELECT acct, luhn_valid(acct) AS valid
                FROM (SELECT lpad(CAST(event_id * 37 + user_id % 10
                                       AS STRING), 16, '0') AS acct
                      FROM ev_udf91))
          GROUP BY valid ORDER BY valid""")
      },
      Some("""WITH acct AS (
             |  SELECT lpad(CAST(event_id * 37 + user_id % 10 AS VARCHAR),
             |              16, '0') AS acct
             |  FROM events),
             |luhn AS (
             |  SELECT acct,
             |         list_sum(list_transform(generate_series(1, len(acct)),
             |           i -> CASE WHEN (len(acct) - i) % 2 = 1
             |                THEN (CASE WHEN 2 * CAST(acct[i] AS INT) > 9
             |                      THEN 2 * CAST(acct[i] AS INT) - 9
             |                      ELSE 2 * CAST(acct[i] AS INT) END)
             |                ELSE CAST(acct[i] AS INT) END)) % 10 = 0
             |           AS valid
             |  FROM acct)
             |SELECT valid, count(*) AS n,
             |       min(acct) AS first_acct, max(acct) AS last_acct
             |FROM luhn GROUP BY valid ORDER BY valid""".stripMargin)),

    // Σ cents² per event type through the registered Aggregator — the
    // exact integer makes any partial/merge defect a hash mismatch.
    "udf_aggregator_registered" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions._
        s.udf.register("sum_sq", udaf(new SumSq))
        graft.Tables.events(s, d)
          .select(col("event_type"),
                  round(col("value") * 100).cast("bigint").as("c"))
          .createOrReplaceTempView("ev_udaf91")
        s.sql("""SELECT event_type, sum_sq(c) AS ssq, count(*) AS n
                |FROM ev_udaf91 GROUP BY event_type
                |ORDER BY event_type""".stripMargin)
      },
      Some("""SELECT event_type,
             |       CAST(sum(c * c) AS BIGINT) AS ssq,
             |       count(*) AS n
             |FROM (SELECT event_type,
             |             CAST(round(value * 100) AS BIGINT) AS c
             |      FROM events)
             |GROUP BY event_type ORDER BY event_type""".stripMargin))
  )
}
