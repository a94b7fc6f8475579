package graft

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.types.StructType

/** The one build-once memo (fixture DataFrames, row counts, shared indexes).
  * `computeIfAbsent` only installs a holder per key; the build runs under
  * the holder's lock, outside the map's. So concurrent callers of a key
  * share ONE build, a build may memo other keys inside itself (nesting
  * `computeIfAbsent` on one map is forbidden by the JDK), and a build that
  * throws stores nothing, so the next caller retries. Keys holding a
  * stopped session are evicted.
  */
object Artifacts {
  /** One finished build: its memo key, wall ms, and the rows and part-file
    * bytes it stored (both 0 for a build that writes no table). */
  final case class Build(key: String, ms: Long, rows: Long, bytes: Long)

  private final class Holder { @volatile var value: Option[Any] = None }
  private val holders = new java.util.concurrent.ConcurrentHashMap[Any, Holder]()
  private val record = new java.util.concurrent.ConcurrentLinkedQueue[Build]()

  def memo[T](key: Any)(build: => T): T = recorded(key)((build, 0L, 0L))

  private def recorded[T](key: Any)(build: => (T, Long, Long)): T = {
    holders.keySet.removeIf {
      case k: Product => k.productIterator.exists {
        case s: SparkSession => s.sparkContext.isStopped; case _ => false }
      case _ => false
    }
    val h = holders.computeIfAbsent(key, _ => new Holder)
    h.value.getOrElse(h.synchronized(h.value.getOrElse {
      val t0 = System.nanoTime()
      val (v, rows, bytes) = build
      h.value = Some(v)
      record.add(Build(String.valueOf(key), (System.nanoTime() - t0) / 1000000, rows, bytes))
      v
    })).asInstanceOf[T]
  }

  /** A build's writer: `w(table, df)` stores `df` as parquet table `table`,
    * counting its rows in the write's own job; `w.temp(df)` hands back
    * `df`, a persisted or checkpointed intermediate, to be released when
    * the build ends. */
  final class Sink private[Artifacts] (root: String) {
    private[Artifacts] val schemas = scala.collection.mutable.Map[String, StructType]()
    private[Artifacts] val temps = scala.collection.mutable.ArrayBuffer[DataFrame]()
    private[Artifacts] var rows = 0L

    def apply(table: String, df: DataFrame): Unit = {
      val obs = Observation()
      df.observe(obs, count(lit(1)).as("rows")).write.parquet(s"$root/$table")
      rows += obs.get("rows").asInstanceOf[Long]
      schemas(table) = df.schema
    }

    def temp(df: DataFrame): DataFrame = { temps += df; df }
  }

  /** The tables `build` writes, stored once per (name, sf dir) into a fresh
    * scratch dir and recorded with their rows and part-file bytes. Returns
    * each table by name, read with the schema it was written with and
    * memoized per session, so a read lists files but starts no job. */
  def table(s: SparkSession, name: String, d: String)(build: Sink => Unit): String => DataFrame = {
    val (root, schemas) = recorded(("stored", name, d)) {
      val root = Tables.scratchDir(s"graft_$name").toString
      val w = new Sink(root)
      try build(w)
      finally w.temps.foreach { df => df.unpersist(); operators.Fixpoint.release(df) }
      val parts = new java.io.File(root).listFiles.flatMap(_.listFiles)
        .filter(_.getName.startsWith("part-"))
      ((root, w.schemas.toMap), w.rows, parts.map(_.length).sum)
    }
    t => memo(("read", s, name, d, t))(s.read.schema(schemas(t)).parquet(s"$root/$t"))
  }

  /** Every finished build so far, oldest first. */
  def builds: Seq[Build] = record.toArray(Array.empty[Build]).toSeq
}
