package graft

import org.apache.spark.sql.SparkSession

/** The one build-once memo (fixture DataFrames, row counts, shared indexes).
  * `computeIfAbsent` only installs a holder per key; the build runs under
  * the holder's lock, outside the map's. So concurrent callers of a key
  * share ONE build, a build may memo other keys inside itself (nesting
  * `computeIfAbsent` on one map is forbidden by the JDK), and a build that
  * throws stores nothing, so the next caller retries. Keys holding a
  * stopped session are evicted.
  */
object Artifacts {
  private final class Holder { @volatile var value: Option[Any] = None }
  private val holders = new java.util.concurrent.ConcurrentHashMap[Any, Holder]()
  private val record = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()

  def memo[T](key: Any)(build: => T): T = {
    holders.keySet.removeIf {
      case k: Product => k.productIterator.exists {
        case s: SparkSession => s.sparkContext.isStopped; case _ => false }
      case _ => false
    }
    val h = holders.computeIfAbsent(key, _ => new Holder)
    h.value.getOrElse(h.synchronized(h.value.getOrElse {
      val t0 = System.nanoTime()
      val v = build
      h.value = Some(v)
      record.add((String.valueOf(key), (System.nanoTime() - t0) / 1000000))
      v
    })).asInstanceOf[T]
  }

  /** A directory built once per (name, sf dir) into a fresh scratch dir. */
  def dir(name: String, d: String)(write: String => Unit): String =
    memo(("dir", name, d)) {
      val root = Tables.scratchDir(s"graft_$name").toString
      write(root)
      root
    }

  /** Every finished build so far, oldest first: (key, wall ms). */
  def builds: Seq[(String, Long)] = record.toArray(Array.empty[(String, Long)]).toSeq
}
