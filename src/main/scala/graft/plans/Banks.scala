package graft.plans

import graft.operators.CorpusStats
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame

import scala.util.control.NonFatal

/** The broadcast-bank lifecycle, one copy for every bank kind (LSH,
  * centroid, IVF, IVF-PQ, simhash, winnow, embed, and the trained
  * k-means centroids behind the IVF family).
  *
  * A scan tier collects a budget-admitted corpus to the driver, builds
  * a bank and broadcasts it. Building is the expensive part, so each
  * kind memoizes its banks in one bounded LRU [[Cache]] keyed by
  * [[key]] over the corpus's [[frameKey]] and the bank's geometry.
  * Evicted and cleared broadcasts are unpersisted eagerly (executor
  * copies dropped; NOT destroy()ed — a still-referenced lazy plan
  * re-fetches an unpersisted broadcast from the driver, while destroy
  * would fail it); the ContextCleaner reclaims the rest once no plan
  * holds it. [[clear]] drops every kind's banks at once.
  */
object Banks {

  /** One bounded LRU of memoized banks. A value is a `Broadcast`, an
    * `Option[Broadcast]` (None = the corpus is scan-tier-ineligible,
    * memoized so its check also runs once) or a plain driver-side
    * value; a broadcast is unpersisted on evict and on clear.
    */
  final class Cache[V] private[Banks] (max: Int) {
    private val map = new java.util.LinkedHashMap[String, V](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, V]): Boolean = {
        val evict = this.size() > max
        if (evict) unpersist(e.getValue)
        evict
      }
    }

    /** The memoized value for `key`, running `build` on a miss. The
      * build runs under a per-key lock with a re-check inside, so two
      * concurrent callers (bench passes, parallel suites) cannot both
      * miss, both collect, and leave the loser's broadcast lingering
      * until plan GC; DIFFERENT keys still build concurrently.
      */
    def apply(key: String)(build: => V): V =
      keyLocks.computeIfAbsent(key, _ => new Object).synchronized {
        map.synchronized(Option(map.get(key))).getOrElse {
          val v = build
          map.synchronized(map.put(key, v))
          v
        }
      }

    def size: Int = map.synchronized(map.size())

    def clear(): Unit = map.synchronized {
      map.values().forEach(v => unpersist(v))
      map.clear()
    }
  }

  // Lock objects are never evicted — the key space is distinct corpora
  // touched by a session, bounded in practice and ~48 bytes each —
  // because evicting one while a builder holds it would let a latecomer
  // mint a second lock and re-open the race.
  private val keyLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private val registry = new java.util.concurrent.ConcurrentHashMap[String, Cache[_]]()

  /** Register the cache of bank kind `kind`, holding at most `max`
    * entries.
    */
  def cache[V](kind: String, max: Int): Cache[V] = {
    val c = new Cache[V](max)
    require(registry.putIfAbsent(kind, c) == null, s"bank kind '$kind' registered twice")
    c
  }

  /** Entries held for `kind`; 0 before the kind's operator is loaded. */
  def size(kind: String): Int = Option(registry.get(kind)).fold(0)(_.size)

  /** Drop every memoized bank of every kind and unpersist its
    * broadcast. The next call over any corpus rebuilds.
    */
  def clear(): Unit = registry.values().forEach(_.clear())

  // NonFatal only: swallowing InterruptedException or a VM error here
  // would eat a thread interrupt during eviction
  private def unpersist(v: Any): Unit = v match {
    case b: Broadcast[_] =>
      try b.unpersist(false)
      catch { case NonFatal(_) => () }
    case Some(b: Broadcast[_]) => unpersist(b)
    case _ => ()
  }

  /** A memo key: `parts` joined by `|`. Keys of broadcast banks lead
    * with the bank kind and the SparkContext's applicationId —
    * broadcast validity is per SparkContext.
    */
  def key(parts: Any*): String = parts.mkString("|")

  /** The corpus identity a bank is keyed on: session identity, the
    * analyzed plan's semantic hash, and the input-file signature of
    * `files` (the [[CorpusStats]] key design — a path overwritten with
    * new data keeps its plan hash but changes its part-file names).
    */
  def frameKey(df: DataFrame, files: DataFrame): String =
    key(System.identityHashCode(df.sparkSession),
      df.queryExecution.analyzed.semanticHash(), CorpusStats.fileSignature(files))

  def frameKey(df: DataFrame): String = frameKey(df, df)

  /** `build` when the ids `idOf` reads off the collected `rows` are
    * unique, else None. A duplicate-id corpus is scan-tier-ineligible:
    * the join tiers merge duplicate-id rows per id, which per-row
    * heaps and position-indexed banks cannot replicate.
    */
  def whenUniqueIds[R, B](rows: Array[R])(idOf: R => Long)(build: => B): Option[B] = {
    val seen = new java.util.HashSet[java.lang.Long](rows.length * 2)
    if (rows.forall(r => seen.add(idOf(r)))) Some(build) else None
  }
}

/** CSR bucket directory: the distinct bucket keys, ascending, and per
  * key the [start, end) range of its members in a member array
  * (`starts` has one entry more than `keys`). A probe is one binary
  * search plus a tight scan of the range.
  */
final case class CsrDirectory(keys: Array[Long], starts: Array[Int])
    extends Serializable {

  def size: Int = keys.length

  /** Ordinal of `key`'s bucket; negative when absent. */
  def ordinal(key: Long): Int = java.util.Arrays.binarySearch(keys, key)

  /** [start, end) of `key`'s bucket, packed (start << 32 | end); 0L
    * when absent.
    */
  def range(key: Long): Long = {
    val p = ordinal(key)
    if (p < 0) 0L else (starts(p).toLong << 32) | (starts(p + 1).toLong & 0xffffffffL)
  }
}

object CsrDirectory {

  /** Group the member positions in `order` — sorted by `keyOf`, ties in
    * any fixed order — into buckets, keeping at most `cap` members per
    * bucket (the first ones in `order`). Returns the directory and the
    * kept positions, bucket after bucket, that its ranges index.
    */
  def build(order: Array[Int], keyOf: Int => Long,
      cap: Int = Int.MaxValue): (CsrDirectory, Array[Int]) = {
    val keys = new scala.collection.mutable.ArrayBuilder.ofLong
    val starts = new scala.collection.mutable.ArrayBuilder.ofInt
    val pos = new Array[Int](order.length)
    var len = 0
    var inBucket = 0
    var last = 0L
    var i = 0
    while (i < order.length) {
      val k = keyOf(order(i))
      if (i == 0 || k != last) { keys += k; starts += len; inBucket = 0; last = k }
      if (inBucket < cap) { pos(len) = order(i); len += 1; inBucket += 1 }
      i += 1
    }
    starts += len
    (CsrDirectory(keys.result(), starts.result()),
      if (len == pos.length) pos else java.util.Arrays.copyOf(pos, len))
  }
}
