package graft.plans

/** Broadcast inverted fingerprint index for the winnow-overlap scan
  * tier ([[graft.operators.Dedup.winnowOverlapPairs]]), memoized
  * through [[Banks]]. Holds the KEPT occurrences (doc-frequency ≤ cap,
  * the same semi-joined frame the join tier self-joins) in both
  * orientations:
  *
  *  - per doc: the ordinals of its kept fingerprints (`docStart` /
  *    `docFpOrd`) — the probe side;
  *  - per fingerprint: the member doc POSITIONS, ascending
  *    (`fpStart` / `fpDocPos`) — the gather side.
  *
  * A doc's pair counting is then: gather every co-member position
  * > own position across its fingerprints, sort, and run-length
  * encode — each shared KEPT fingerprint contributes exactly one
  * instance of the partner, so the run length IS the join tier's
  * `COUNT(*)` per (id_a, id_b). Occurrence MULTIPLICITY is preserved
  * (duplicate (id, fp) occurrence rows each gather), but duplicate
  * doc ids are the CALLER's fail-closed check — merged fingerprint
  * lists cannot reproduce the join tier's per-id-value grouping row
  * shape in general.
  */
case class WinnowPairBank(ids: Array[Long],
    docStart: Array[Int], docFpOrd: Array[Int],
    fpStart: Array[Int], fpDocPos: Array[Int]) extends Serializable {
  def nDocs: Int = ids.length
}

object WinnowPairBank {
  /** Build from kept (doc id, fingerprint) occurrence rows, any order. */
  def apply(rows: Array[(Long, Long)]): WinnowPairBank = {
    // distinct sorted doc ids → positions
    val ids = rows.map(_._1).distinct.sorted
    val posOf = new java.util.HashMap[java.lang.Long, Integer](ids.length * 2)
    var i = 0
    while (i < ids.length) { posOf.put(ids(i), i); i += 1 }
    // distinct sorted fingerprints → ordinals
    val fps = rows.map(_._2).distinct.sorted
    val ordOf = new java.util.HashMap[java.lang.Long, Integer](fps.length * 2)
    i = 0
    while (i < fps.length) { ordOf.put(fps(i), i); i += 1 }
    val n = rows.length
    // occurrence pairs as (docPos, fpOrd)
    val occDoc = new Array[Int](n)
    val occFp = new Array[Int](n)
    i = 0
    while (i < n) {
      occDoc(i) = posOf.get(rows(i)._1)
      occFp(i) = ordOf.get(rows(i)._2)
      i += 1
    }
    // CSR doc → fp ordinals
    val docCount = new Array[Int](ids.length + 1)
    i = 0
    while (i < n) { docCount(occDoc(i) + 1) += 1; i += 1 }
    i = 0
    while (i < ids.length) { docCount(i + 1) += docCount(i); i += 1 }
    val docStart = docCount.clone()
    val docFpOrd = new Array[Int](n)
    val fill1 = docCount.clone()
    i = 0
    while (i < n) {
      docFpOrd(fill1(occDoc(i))) = occFp(i)
      fill1(occDoc(i)) += 1
      i += 1
    }
    // CSR fp → doc positions, ascending within each fingerprint (the
    // gather loop scans the tail strictly greater than the own
    // position)
    val fpCount = new Array[Int](fps.length + 1)
    i = 0
    while (i < n) { fpCount(occFp(i) + 1) += 1; i += 1 }
    i = 0
    while (i < fps.length) { fpCount(i + 1) += fpCount(i); i += 1 }
    val fpStart = fpCount.clone()
    val fpDocPos = new Array[Int](n)
    val fill2 = fpCount.clone()
    i = 0
    while (i < n) {
      fpDocPos(fill2(occFp(i))) = occDoc(i)
      fill2(occFp(i)) += 1
      i += 1
    }
    i = 0
    while (i < fps.length) {
      java.util.Arrays.sort(fpDocPos, fpStart(i), fpStart(i + 1))
      i += 1
    }
    WinnowPairBank(ids, docStart, docFpOrd, fpStart, fpDocPos)
  }
}
