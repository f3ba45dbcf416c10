package graft.plans

/** Broadcast ENCODED inverted-file index for the IVF-PQ (ADC) scan
  * tier ([[graft.operators.Similarity.ivfPqSeededTopK]] — r19): every
  * corpus row's (id, m PQ codes) grouped by its assigned list, members
  * contiguous per list — the [[IvfIndexBank]] layout with the vectors
  * REPLACED BY CODES, which is the entire point of IVFADC (Jégou et
  * al. 2011): at m=4 the member payload is 8+4 bytes instead of
  * 8+4·dim, so the RAM-resident index reaches ~20× further before the
  * broadcast budget forces the join tier (a 10⁸-vector corpus fits in
  * ~1.2 GB of codes vs 26 GB of float vectors at dim 64).
  *
  * Built from the SAME assignment + [[PqCodes]] encode the join tier
  * ships through its candidate join, so the member set AND the code of
  * every member are identical across tiers (tier-parity spec +
  * the hash-graded oracle pin it).
  *
  * Codes are flat (member-major, m per member), 1-based like the
  * encode kernel emits them.
  */
case class PqIndexBank(lists: CsrDirectory,
    ids: Array[Long], codes: Array[Int], m: Int)
    extends Serializable

object PqIndexBank {
  /** Build from (list_id, id, codes) member rows, any order. */
  def apply(rows: Array[(Int, Long, Array[Int])], m: Int): PqIndexBank = {
    val sorted = rows.sortBy(r => (r._1, r._2))
    val n = sorted.length
    val (lists, _) = CsrDirectory.build(Array.range(0, n), i => sorted(i)._1.toLong)
    val flat = new Array[Int](n * m)
    var i = 0
    while (i < n) {
      System.arraycopy(sorted(i)._3, 0, flat, i * m, m)
      i += 1
    }
    PqIndexBank(lists, sorted.map(_._2), flat, m)
  }
}
