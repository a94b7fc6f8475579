package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Wave-60 bounds: the ANOVA decomposition is additive and matches a
  * driver-side recompute; the bloom sink's parquet footer really carries
  * a bloom filter for the indexed column and the lookup reconciles with
  * the base table.
  */
class Round11dSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("agg_two_way_anova matches a driver recompute and is additive") {
    val rows = SparkEntry.queries("agg_two_way_anova")(spark, sf).collect()
    assert(rows.map(_.getString(0)).toSeq ==
           Seq("interaction", "nation", "segment"))
    val data = Tables(spark, sf, "customer")
      .select(col("c_nationkey").cast("long"), col("c_mktsegment"),
              round(col("c_acctbal") * 100).cast("bigint")).collect()
      .map(r => ((r.getLong(0), r.getString(1)), r.getLong(2)))
    val cells = data.groupBy(_._1).map { case (k, xs) =>
      k -> (xs.length.toLong, xs.map(_._2).sum)
    }
    val nTot = data.length.toLong
    val sTot = data.map(_._2).sum
    val qTot = data.map(x => x._2 * x._2).sum
    val cm = sTot * sTot / nTot
    val ssCells = cells.values.map { case (n, s) => s * s / n }.sum - cm
    val ssA = cells.toSeq.groupBy(_._1._1)
      .map { case (_, xs) =>
        val n = xs.map(_._2._1).sum; val s = xs.map(_._2._2).sum; s * s / n
      }.sum - cm
    val ssB = cells.toSeq.groupBy(_._1._2)
      .map { case (_, xs) =>
        val n = xs.map(_._2._1).sum; val s = xs.map(_._2._2).sum; s * s / n
      }.sum - cm
    val ssAB = ssCells - ssA - ssB
    val got = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("nation") == ssA)
    assert(got("segment") == ssB)
    assert(got("interaction") == ssAB)
    // F stats positive with plausible dfs
    rows.foreach { r => assert(r.getDouble(3) > 0.0 && r.getLong(2) > 0) }
    // eta² fractions of total sum to <= 1 (error takes the rest)
    assert(rows.map(_.getDouble(4)).sum <= 1.0 + 1e-9)
  }

  test("sink_parquet_bloom_roundtrip writes a real bloom filter") {
    val rows = SparkEntry.queries("sink_parquet_bloom_roundtrip")(spark, sf)
      .collect()
    val want = Tables(spark, sf, "lineitem")
      .filter(col("l_partkey") % 1000 === 7)
      .groupBy("l_partkey")
      .agg(count(lit(1)).as("n"),
           sum(round(col("l_extendedprice") * 100).cast("bigint")).as("c"))
      .orderBy("l_partkey").collect()
    assert(rows.length == want.length && rows.nonEmpty)
    rows.zip(want).foreach { case (g, w) =>
      assert(g.getLong(0) == w.getLong(0) && g.getLong(1) == w.getLong(1) &&
             g.getLong(2) == w.getLong(2))
    }
    // open the newest written file's footer: bloom filter offset must be
    // set for l_partkey in every row group
    val dir = ScratchDirs.latestScratch("graft_bloom-").resolve("li_bloom")
    val part = ScratchDirs.listDir(dir)
      .filter(_.getFileName.toString.endsWith(".parquet")).head
    val conf = new org.apache.hadoop.conf.Configuration()
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(part.toUri), conf))
    try {
      val blocks = reader.getFooter.getBlocks
      assert(!blocks.isEmpty)
      blocks.forEach { b =>
        val col = b.getColumns.asScala
          .find(_.getPath.toDotString == "l_partkey").get
        assert(col.getBloomFilterOffset > 0,
               "l_partkey column chunk carries no bloom filter")
      }
    } finally reader.close()
  }

  private implicit class ListAsScala[A](l: java.util.List[A]) {
    def asScala: Seq[A] = {
      val b = Seq.newBuilder[A]
      l.forEach(a => b += a)
      b.result()
    }
  }
}
