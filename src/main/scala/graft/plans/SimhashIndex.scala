package graft.plans

/** Broadcast chunk-blocked simhash index for the simhash scan tier
  * ([[graft.operators.Dedup.simhashNearDupPairs]]): the HmSearch chunk
  * index, memoized through [[Banks]]. Members are position-indexed in
  * id order; per 16/32-bit chunk a [[CsrDirectory]] (sorted distinct
  * chunk values, ranges into a flat position array) makes a probe one
  * binary search + a tight position scan.
  *
  * Bucket TRUNCATION replays [[graft.operators.Skew.truncateHotKeys]]
  * exactly: within a (chunk, value) bucket the join tier keeps the
  * `maxBucketSize` smallest ids (`row_number` ordered by id). Here
  * member positions ascend with id (the id sort below), and the CSR
  * build within a bucket orders by position, so keeping the FIRST
  * `maxBucketSize` positions (the directory's cap) is the same set.
  * Truncated-away members neither index nor probe in the join tier
  * (probe rows derive from the truncated index frame), which the scan
  * tier mirrors via [[inBucket]] on the member's own bucket.
  */
case class SimhashIndexBank(ids: Array[Long], sims: Array[Long],
    sk: Array[Long], chunkBits: Int,
    chunks: Array[CsrDirectory], chunkPos: Array[Array[Int]]) extends Serializable {

  def nChunks: Int = chunks.length

  /** Whether member position `pos` survived truncation inside bucket
    * `range` of chunk `c` — positions within a bucket ascend, so this
    * is one binary search over the bucket slice.
    */
  def inBucket(c: Int, range: Long, pos: Int): Boolean = {
    val s = (range >>> 32).toInt
    val e = range.toInt
    s < e && java.util.Arrays.binarySearch(chunkPos(c), s, e, pos) >= 0
  }
}

object SimhashIndexBank {
  /** Build from (id, sim, 256-bit sketch words) rows, any order.
    * Duplicate-id corpora are the CALLER's fail-closed check — this
    * builder assumes unique ids.
    */
  def apply(rows: Array[(Long, Long, Array[Long])], chunkBits: Int,
      maxBucketSize: Int): SimhashIndexBank = {
    val sorted = rows.sortBy(_._1)
    val n = sorted.length
    val nChunks = 64 / chunkBits
    val mask = (1L << chunkBits) - 1
    val ids = new Array[Long](n)
    val sims = new Array[Long](n)
    val sk = new Array[Long](4 * n)
    var i = 0
    while (i < n) {
      ids(i) = sorted(i)._1
      sims(i) = sorted(i)._2
      val w = sorted(i)._3
      sk(4 * i) = w(0); sk(4 * i + 1) = w(1)
      sk(4 * i + 2) = w(2); sk(4 * i + 3) = w(3)
      i += 1
    }
    val chunks = new Array[CsrDirectory](nChunks)
    val chunkPos = new Array[Array[Int]](nChunks)
    var c = 0
    while (c < nChunks) {
      val shift = c * chunkBits
      // (value, pos) sorted by value then pos → CSR directory; within a
      // bucket ascending pos ≡ ascending id, so truncation keeps the
      // smallest-id members, exactly like truncateHotKeys(ord = id)
      val order = Array.range(0, n).sortBy(p => ((sims(p) >>> shift) & mask, p))
      val (dir, pos) = CsrDirectory.build(order, p => (sims(p) >>> shift) & mask,
        maxBucketSize)
      chunks(c) = dir
      chunkPos(c) = pos
      c += 1
    }
    SimhashIndexBank(ids, sims, sk, chunkBits, chunks, chunkPos)
  }
}
