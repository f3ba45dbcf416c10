package graft.plans

/** Broadcast multi-table LSH index for the LSH scan tier
  * ([[graft.operators.Similarity.lshTopK]]): corpus vectors stored once
  * (position-indexed), plus one [[CsrDirectory]] per table — sorted
  * distinct signatures, ranges into a flat position array — so a
  * bucket probe is one binary search + a tight position scan.
  *
  * Signatures come from the SAME [[HyperplaneSig.of]] kernel the join
  * tier's `hyperplaneSignature` expression evaluates, so the bucket
  * membership of every row is identical across tiers by construction.
  * Vectors stay one `Array[Float]` per member and norms are the
  * sequential-double-fold √ (the r12 IVF bank findings — bounds-check
  * elimination and [[DotProductFF]] bit-parity respectively).
  */
case class LshIndexBank(ids: Array[Long], vecs: Array[Array[Float]],
    sqrtNorms: Array[Double],
    tables: Array[CsrDirectory], tablePos: Array[Array[Int]]) extends Serializable

object LshIndexBank {
  /** Build from (id, vec, per-table signatures) rows, any order.
    * Members are position-indexed in (id) order so the layout is
    * deterministic for a given corpus.
    */
  def apply(rows: Array[(Long, Array[Float], Array[Long])]): LshIndexBank = {
    val sorted = rows.sortBy(_._1)
    val n = sorted.length
    val nTables = if (n == 0) 0 else sorted(0)._3.length
    val sqrtNorms = new Array[Double](n)
    var i = 0
    while (i < n) {
      val v = sorted(i)._2
      var s = 0.0
      var j = 0
      while (j < v.length) { s += v(j).toDouble * v(j).toDouble; j += 1 }
      sqrtNorms(i) = math.sqrt(s)
      i += 1
    }
    val tables = new Array[CsrDirectory](nTables)
    val tablePos = new Array[Array[Int]](nTables)
    var t = 0
    while (t < nTables) {
      // (sig, pos) sorted by sig then pos → CSR directory
      val order = Array.range(0, n).sortBy(p => (sorted(p)._3(t), p))
      val (dir, pos) = CsrDirectory.build(order, p => sorted(p)._3(t))
      tables(t) = dir
      tablePos(t) = pos
      t += 1
    }
    LshIndexBank(sorted.map(_._1), sorted.map(_._2), sqrtNorms, tables, tablePos)
  }
}
