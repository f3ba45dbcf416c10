package graft.plans

/** Broadcast inverted-file index for the IVF scan tier
  * ([[graft.operators.Similarity.ivfTopK]] /
  * `ivfSeededTopK`): every corpus row's (id, vector, norm) grouped by
  * its assigned list, members contiguous per list so a probe is one
  * binary search + a tight linear scan (the [[CsrDirectory]] `lists`,
  * keyed by list id, ranges into the member arrays). Built from the
  * SAME [[NearestCentroidLists]] assignment the join tier computes, so
  * the member set of each list is identical across tiers.
  *
  * Vectors stay one `Array[Float]` per member (a flat members×dim
  * array was probed r12 and LOST ~40%: the JIT eliminates bounds
  * checks for `cv(j), j < cv.length` loops but not for base-offset
  * indexing). Per-member √norm is precomputed with the
  * [[DotProductFF]] sequential double fold then `math.sqrt`, so
  * scan-tier cosines are bit-identical to the joined
  * `cosineFromParts(dot, qn, cn)` form and the SQL oracle.
  *
  * Duplicate ids are kept as distinct member rows (not last-write-wins)
  * — the join tier scores every corpus ROW, so the bank must too.
  */
case class IvfIndexBank(lists: CsrDirectory,
    ids: Array[Long], vecs: Array[Array[Float]], sqrtNorms: Array[Double])
    extends Serializable

object IvfIndexBank {
  /** Build from (list_id, id, vec) member rows, any order. */
  def apply(rows: Array[(Int, Long, Array[Float])]): IvfIndexBank = {
    val sorted = rows.sortBy(r => (r._1, r._2))
    val n = sorted.length
    val (lists, _) = CsrDirectory.build(Array.range(0, n), i => sorted(i)._1.toLong)
    val sqrtNorms = new Array[Double](n)
    var i = 0
    while (i < n) {
      val v = sorted(i)._3
      var s = 0.0
      var j = 0
      while (j < v.length) { s += v(j).toDouble * v(j).toDouble; j += 1 }
      sqrtNorms(i) = math.sqrt(s)
      i += 1
    }
    IvfIndexBank(lists, sorted.map(_._2), sorted.map(_._3), sqrtNorms)
  }
}
