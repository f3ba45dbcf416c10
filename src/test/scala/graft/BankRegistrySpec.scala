package graft

import graft.operators.{Dedup, Similarity}
import graft.plans.Banks
import graft.sources.Tables

/** The bank lifecycle ([[graft.plans.Banks]]): every scan-tier kind
  * memoizes its banks in one registry, one `Banks.clear()` drops all of
  * them, and each kind's LRU holds at most its cap.
  */
class BankRegistrySpec extends SparkSuite {

  private val kinds = Seq("lsh", "centroid", "ivf", "pq", "simhash", "winnow",
    "embed", "trained-centroids")

  /** One scan-tier call per bank kind over the sf0.001 corpora; every
    * bank is collected and broadcast when the frame is constructed.
    */
  private def buildOneOfEach(): Unit = {
    val emb = Tables.embeddings(spark, sf001)
    val docs = Tables.documents(spark, sf001)
    Similarity.lshTopK(emb, "vec_id", "embedding", k = 5)
    // trained centroids + their centroid bank + the IVF index bank
    Similarity.ivfTopK(emb, "vec_id", "embedding", k = 5, nLists = 8, nProbe = 3)
    Similarity.ivfPqSeededTopK(emb, "vec_id", "embedding", k = 5, rerankC = 32)
    Dedup.simhashNearDupPairs(docs, "text", "doc_id", threshold = 0.5)
    Dedup.winnowOverlapPairs(docs, "text", "doc_id", minShared = 10)
    Dedup.embeddingNearDupPairs(emb, "embedding", "vec_id",
      threshold = QueriesExt.NearDupCosine)
  }

  test("Banks.clear() empties every bank kind and the next call rebuilds") {
    Banks.clear()
    buildOneOfEach()
    kinds.foreach(k => assert(Banks.size(k) >= 1, s"no $k bank was built"))
    Banks.clear()
    kinds.foreach(k => assert(Banks.size(k) == 0, s"$k entries survived Banks.clear()"))
    buildOneOfEach()
    kinds.foreach(k => assert(Banks.size(k) >= 1, s"$k bank was not rebuilt after clear"))
  }

  test("a bank cache holds exactly its cap: cap + 1 LSH banks leave 4") {
    Banks.clear()
    val emb = Tables.embeddings(spark, sf001)
    // nTables is part of the LSH memo key: five geometries, five banks
    (1 to 5).foreach { t =>
      Similarity.lshTopK(emb, "vec_id", "embedding", k = 5, nBits = 8, nTables = t)
    }
    assert(Banks.size("lsh") == 4)
    Banks.clear()
  }
}
