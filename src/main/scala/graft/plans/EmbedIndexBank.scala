package graft.plans

/** Broadcast per-table bucket directories for the embedding near-dup
  * SCAN tier ([[graft.operators.Dedup.embeddingNearDupPairs]]),
  * memoized through [[Banks]]. The r14 stage probe attributed ~6.6 s
  * of the sf10 `dd_embed_neardup_hi` median to shuffling + sorting the
  * 35.4 M-row exploded (bucketKey, salt, id) index so bucket groups
  * become contiguous; but candidate pairs are a pure function of bucket
  * CO-MEMBERSHIP, and membership is itself a pure function of the
  * (id, sketch) rows this tier already collects for its id→sketch
  * bank — so the directories are built driver-side from that same
  * collect and the exploded frame, its shuffle, and its sort never
  * exist. Pair enumeration becomes a zero-input-shuffle distributed
  * loop over (table, bucket-lane) units against the broadcast.
  *
  * Members are position-indexed in ascending-id order (so a
  * position-ordered pair is the join tier's min-first orientation for
  * free). Per table the directory stores ONLY buckets with ≥ 2
  * members — singleton buckets emit no pairs, and at fat-bucket
  * geometries (bits=13 → ~24 members/bucket at sf10) pruning them is
  * ~free while at thin geometries it is what keeps the directory
  * under budget.
  *
  * Salt parity: [[graft.operators.Skew.saltOversized]] splits a
  * bucket of size s > maxBucketSize into ⌈s/max⌉ sub-groups keyed by
  * `pmod(xxhash64(id, bucketKey), ⌈s/max⌉)` (Spark seed 42, the
  * count→double→ceil→long chain replicated digit-for-digit in
  * [[graft.operators.Dedup]]'s scan loop). Oversized buckets are rare,
  * so the full packed key is stored only for them (`bigOrd`/`bigKey`,
  * ordinal-aligned) and salts are derived at enumeration time instead
  * of being materialized per member.
  */
case class EmbedIndexBank(
    ids: Array[Long],
    sk: Array[Long],
    words: Int,
    tabStarts: Array[Array[Int]],
    tabPos: Array[Array[Int]],
    tabBigOrd: Array[Array[Int]],
    tabBigKey: Array[Array[Long]]) extends Serializable {

  def nTables: Int = tabStarts.length
  def nMembers: Int = ids.length
  def minId: Long = if (ids.isEmpty) 0L else ids(0)
  def maxId: Long = if (ids.isEmpty) -1L else ids(ids.length - 1)
}

object EmbedIndexBank {

  /** Conservative pre-build size model (bytes), so over-budget corpora
    * are refused BEFORE paying the driver-side build: sketches + ids,
    * plus per table a position int per member (upper bound: no
    * singleton pruning) and a start int per possible ≥2-member bucket
    * (bounded by both n/2 and the 2^bits key space).
    */
  def estimateBytes(n: Long, words: Int, bits: Int, tables: Int): Long = {
    val startsPerTable = math.min(n / 2 + 1, (1L << math.min(bits, 40)) + 1)
    n * (8L + 8L * words) + tables.toLong * (4L * n + 4L * startsPerTable + 96L)
  }

  /** Build from (id, poolBits-bit sketch words) rows, any order.
    * Unique ids are the CALLER's contract (the operator fails fast on
    * duplicates, like its id→sketch bank always has). Requires
    * bits ≤ 30 (the per-table build packs (bucketValue << 32 | pos)
    * into one sortable long); the caller refuses the tier above that.
    * Per-table builds are independent → parallelized on the driver's
    * common pool (the 35 M bit-select/sort elements at sf10 would be
    * ~2 s single-threaded).
    */
  def apply(rows: Array[(Long, Array[Long])], poolBits: Int, bits: Int,
      tables: Int, seed: Long, maxBucketSize: Int): EmbedIndexBank = {
    require(bits <= 30, s"EmbedIndexBank requires bits <= 30, got $bits")
    val sorted = rows.sortBy(_._1)
    val n = sorted.length
    val words = (poolBits + 63) >> 6
    val ids = new Array[Long](n)
    val sk = new Array[Long](n * words)
    var i = 0
    while (i < n) {
      ids(i) = sorted(i)._1
      val w = sorted(i)._2
      require(w.length == words,
        s"pool sketch has ${w.length} words, expected $words for poolBits=$poolBits")
      System.arraycopy(w, 0, sk, i * words, words)
      i += 1
    }
    val tableIdx = HyperplanePool.tableIdxFor(seed, poolBits, bits, tables)
    val tabStarts = new Array[Array[Int]](tables)
    val tabPos = new Array[Array[Int]](tables)
    val tabBigOrd = new Array[Array[Int]](tables)
    val tabBigKey = new Array[Array[Long]](tables)
    java.util.stream.IntStream.range(0, tables).parallel().forEach { t =>
      val idx = tableIdx(t)
      // (bucketValue << 32) | position — sorts to (value asc, pos asc),
      // so within a bucket positions (≡ ids) ascend, the property the
      // min-first pair orientation and salt grouping both rely on
      val keyed = new Array[Long](n)
      var p = 0
      while (p < n) {
        val base = p * words
        var b = 0L
        var k = 0
        while (k < idx.length) {
          val pp = idx(k)
          // identical bit select to HyperplanePool.bucketKeys
          b |= ((sk(base + (pp >> 6)) >>> (pp & 63)) & 1L) << k
          k += 1
        }
        keyed(p) = (b << 32) | p.toLong
        p += 1
      }
      java.util.Arrays.sort(keyed)
      val starts = new scala.collection.mutable.ArrayBuilder.ofInt
      val pos = new scala.collection.mutable.ArrayBuilder.ofInt
      val bigOrd = new scala.collection.mutable.ArrayBuilder.ofInt
      val bigKey = new scala.collection.mutable.ArrayBuilder.ofLong
      var posLen = 0
      var nGroups = 0
      var s = 0
      while (s < n) {
        var e = s + 1
        val v = keyed(s) >>> 32
        while (e < n && (keyed(e) >>> 32) == v) e += 1
        if (e - s >= 2) { // singleton buckets emit no pairs — pruned
          starts += posLen
          var q = s
          while (q < e) { pos += keyed(q).toInt; posLen += 1; q += 1 }
          if (e - s > maxBucketSize) {
            bigOrd += nGroups
            // the full packed key exploded rows carry: (t << bits) | v,
            // the `bk` input of saltOversized's xxhash64(id, bk)
            bigKey += (t.toLong << bits) | v
          }
          nGroups += 1
        }
        s = e
      }
      starts += posLen
      tabStarts(t) = starts.result()
      tabPos(t) = pos.result()
      tabBigOrd(t) = bigOrd.result()
      tabBigKey(t) = bigKey.result()
    }
    EmbedIndexBank(ids, sk, words, tabStarts, tabPos, tabBigOrd, tabBigKey)
  }
}
