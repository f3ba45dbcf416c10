package graft.perfbench

import graft.operators.{Dedup, Similarity}
import graft.sources.Tables
import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.util.Random

case class Doc(doc_id: Long, text: String)
case class Vec(vec_id: Long, vec: Array[Float])
case class Pair(id_a: Long, id_b: Long)

/** A document corpus with planted exact copies and near copies (a few
  * words replaced), and a clustered embedding corpus.
  */
final class Corpus(seed: Long, docs: Int, exactShare: Double, nearShare: Double) {
  private val rng = new Random(seed)
  private val vocab = Array.fill(3000)(
    Seq.fill(3 + rng.nextInt(7))(('a' + rng.nextInt(26)).toChar).mkString)
  private def words(n: Int) = Array.fill(n)(vocab(rng.nextInt(vocab.length)))

  val exactCopies: Int = (docs * exactShare).toInt
  val nearCopies: Int = (docs * nearShare).toInt
  val originals: Int = docs - exactCopies - nearCopies
  /** (original, near copy) id pairs the near-dup stage must find. */
  val plantedNear = mutable.ArrayBuffer.empty[(Long, Long)]

  val rows: Seq[Doc] = {
    val base = Array.fill(originals)(words(60 + rng.nextInt(40)))
    // each original is copied at most once, so planted pairs are unambiguous
    val picks = rng.shuffle((0 until originals).toVector).take(exactCopies + nearCopies)
    val exact = picks.take(exactCopies).zipWithIndex.map { case (o, i) =>
      Doc(originals + 1L + i, base(o).mkString(" "))
    }
    val near = picks.drop(exactCopies).zipWithIndex.map { case (o, i) =>
      val w = base(o).clone()
      (0 until 3).foreach { _ =>
        val at = rng.nextInt(w.length)
        var r = vocab(rng.nextInt(vocab.length))
        while (r == w(at)) r = vocab(rng.nextInt(vocab.length))
        w(at) = r
      }
      val id = originals + exactCopies + 1L + i
      plantedNear += ((o + 1L, id))
      Doc(id, w.mkString(" "))
    }
    base.indices.map(i => Doc(i + 1L, base(i).mkString(" "))) ++ exact ++ near
  }

  def write(spark: SparkSession, dir: Path): Unit = {
    import spark.implicits._
    rows.toDF().write.parquet(s"$dir/documents.parquet")
  }
}

object Corpus {
  /** Gaussian clusters around `clusters` random centres. */
  def vectors(seed: Long, n: Int, dim: Int, clusters: Int): Seq[Vec] = {
    val rng = new Random(seed)
    val centres = Array.fill(clusters)(Array.fill(dim)(rng.nextGaussian()))
    (1 to n).map { i =>
      val c = centres(rng.nextInt(clusters))
      Vec(i.toLong, Array.tabulate(dim)(d => (c(d) + 0.35 * rng.nextGaussian()).toFloat))
    }
  }
}

/** dedup_corpus: the LLM-data operator family. Online: closed-loop ANN
  * top-k requests (IVF and LSH, alternating) for small query-id sets.
  * Batch job: exact dedup, MinHash near-dup pairs and connected
  * components over a fresh corpus with planted duplicates.
  */
final class DedupCorpus(seed: Long) extends Workload {
  val Docs = 1500
  val ExactShare = 0.10
  val NearShare = 0.10
  val Vectors = 3000
  val Dim = 32
  val Clusters = 40
  val K = 10
  val QueriesPerRequest = 4
  // two closed-loop clients: one alone needs an 18 s window for 100 samples
  val Clients = 2
  val WarmupRequests = 1
  val RecallQueries = 32
  val NearRecallFloor = 0.9
  val AnnRecallFloor = 0.8

  private var embDir: Path = _
  private var windows = 0
  private val recalls = mutable.Map.empty[String, Double]
  private val byKind = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]

  private def embeddings(ctx: Ctx): DataFrame =
    ctx.measure("sources.tables_apply")(Tables.apply(ctx.spark, embDir.toString, "embeddings"))

  /** One ANN request; checks the answer's shape. */
  private def request(ctx: Ctx, i: Int, rng: Random): Unit = {
    val ids = Seq.fill(QueriesPerRequest)(1L + rng.nextInt(Vectors)).distinct
    val filter = Some((c: org.apache.spark.sql.Column) => c.isin(ids: _*))
    val kind = if (i % 2 == 0) "ivf" else "lsh"
    val t0 = Clock.now()
    val rows = ctx.tracer.span(s"similarity.${kind}_topk") {
      val emb = embeddings(ctx)
      (if (kind == "ivf") Similarity.ivfTopK(emb, "vec_id", "vec", K, queryFilter = filter)
        else Similarity.lshTopK(emb, "vec_id", "vec", K, queryFilter = filter))
        .select("query_id", "neighbor_id").collect()
    }
    if (ctx.traced) byKind.synchronized(
      byKind.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += Clock.ms(t0, Clock.now()))
    val perQuery = rows.groupBy(_.getLong(0))
    val bad = perQuery.keySet -- ids ++ perQuery.collect {
      case (q, rs) if rs.length > K || rs.exists(_.getLong(1) == q) => q }
    if (bad.nonEmpty || perQuery.size != ids.size)
      throw new WrongAnswer(s"$kind top-$K for $ids: malformed answer for ${bad.mkString(",")}" +
        s" (${perQuery.size} of ${ids.size} queries answered)")
  }

  def setup(ctx: Ctx): Map[String, Double] = {
    val spark = ctx.spark
    import spark.implicits._
    val t0 = Clock.now()
    embDir = ctx.scratch("embeddings")
    Corpus.vectors(Seeds.sub(seed, "vectors", 0), Vectors, Dim, Clusters).toDF()
      .write.parquet(s"$embDir/embeddings.parquet")
    val t1 = Clock.now()
    // bootstrap: the first request of each kind trains/builds its index bank
    val rng = new Random(Seeds.sub(seed, "warmup", 0))
    request(ctx, 0, rng)
    request(ctx, 1, rng)
    val t2 = Clock.now()
    (0 until WarmupRequests).foreach(i => request(ctx, i, rng))
    val t3 = Clock.now()
    Map("generate_s" -> Clock.s(t0, t1), "bootstrap_s" -> Clock.s(t1, t2), "warmup_s" -> Clock.s(t2, t3))
  }

  def teardown(ctx: Ctx): Unit = ()

  def online(ctx: Ctx, seconds: Double, minSamples: Int): Online = {
    val w = windows
    windows += 1
    val lat = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val done = new java.util.concurrent.atomic.AtomicLong
    val t0 = Clock.now()
    val last = new java.util.concurrent.atomic.AtomicLong(t0)
    val deadline = t0 + (seconds * 1e9).toLong
    val clients = (0 until Clients).map { c =>
      new Thread(() => {
        val rng = new Random(Seeds.sub(seed, s"requests-$w", c))
        var i = c
        while (Clock.now() < deadline || lat.size < minSamples) {
          val s = Clock.now()
          val ok = ctx.ledger.attempt("dedup_corpus.ann_request")(request(ctx, i, rng)).isDefined
          val e = Clock.now()
          lat.add(if (ok) Clock.ms(s, e) else math.max(Clock.ms(s, e), seconds * 1000))
          if (ok) done.incrementAndGet()
          last.accumulateAndGet(e, (a, b) => math.max(a, b))
          i += 1
        }
      }, s"ann-client-$c")
    }
    clients.foreach(_.start())
    clients.foreach(_.join())
    if (w == 0) checkAnnRecall(ctx)
    import scala.jdk.CollectionConverters._
    Online(lat.asScala.toSeq, done.get, Clock.s(t0, last.get))
  }

  /** recall@k of both ANN tiers against brute force on a query sample. */
  private def checkAnnRecall(ctx: Ctx): Unit = {
    val rng = new Random(Seeds.sub(seed, "recall", 0))
    val ids = Seq.fill(RecallQueries)(1L + rng.nextInt(Vectors)).distinct
    val filter = Some((c: org.apache.spark.sql.Column) => c.isin(ids: _*))
    val emb = Tables.apply(ctx.spark, embDir.toString, "embeddings")
    val exact = Similarity.bruteForceTopK(emb.filter(col("vec_id").isin(ids: _*)), emb, "vec_id", "vec", K)
      .localCheckpoint()
    Seq("ivf" -> Similarity.ivfTopK(emb, "vec_id", "vec", K, queryFilter = filter),
      "lsh" -> Similarity.lshTopK(emb, "vec_id", "vec", K, queryFilter = filter)).foreach { case (k, approx) =>
      val r = Similarity.recallAtK(approx, exact)
      recalls(k) = r
      ctx.ledger.gate(s"dedup_corpus.${k}_recall_at_$K", r >= AnnRecallFloor,
        f"recall@$K $r%.4f over ${ids.size} queries (floor $AnnRecallFloor)")
    }
  }

  def jobRep(ctx: Ctx, rep: Int): Double = {
    val spark = ctx.spark
    import spark.implicits._
    val corpus = new Corpus(Seeds.sub(seed, "corpus", rep), Docs, ExactShare, NearShare)
    val dir = ctx.scratch(s"job$rep-docs")
    corpus.write(spark, dir)
    val t0 = Clock.now()
    val docs = ctx.measure("sources.tables_apply")(Tables.apply(spark, dir.toString, "documents"))
    val survivors = Dedup.exactDedup(docs, "text", "doc_id")
    val kept = ctx.measure("dedup.exact")(survivors.select("doc_id").as[Long].collect())
    val pairs = ctx.measure("dedup.minhash_pairs")(
      Dedup.minhashNearDupPairs(survivors, "text", "doc_id").select("id_a", "id_b").as[Pair].collect())
    val (labels, components) = ctx.measure("dedup.components") {
      val l = Dedup.connectedComponents(pairs.toSeq.toDF(), "id_a", "id_b")
      (l, l.as[(Long, Long)].collect())
    }
    val t = Clock.s(t0, Clock.now())
    Dedup.release(labels)
    Dedup.releaseIntermediates(spark)

    val found = pairs.map(p => (p.id_a, p.id_b)).toSet
    val nearRecall = corpus.plantedNear.count(found.contains).toDouble / corpus.plantedNear.size
    val label = components.toMap
    val joined = corpus.plantedNear.count { case (a, b) => label.get(a).exists(label.get(b).contains) }
    ctx.ledger.gate(s"dedup_corpus.exact_survivors (job $rep)", kept.length == Docs - corpus.exactCopies,
      s"${kept.length} survivors, planted ${Docs - corpus.exactCopies}")
    ctx.ledger.gate(s"dedup_corpus.near_recall (job $rep)", nearRecall >= NearRecallFloor,
      f"found $nearRecall%.4f of ${corpus.plantedNear.size} planted near pairs (floor $NearRecallFloor)")
    ctx.ledger.gate(s"dedup_corpus.components (job $rep)", joined == found.count(corpus.plantedNear.toSet),
      s"$joined planted pairs share a component, ${found.size} pairs found")
    t
  }

  def finish(ctx: Ctx): Unit = ()

  val unreached = Seq("gen.", "setup.stream_start_s", "streaming.", "envelope.", "cdcmerge.", "upsert.",
    "snapshot.", "sources.scan_", "validation.",
    "self_ms.gen", "self_ms.streaming", "self_ms.envelope", "self_ms.upsert", "self_ms.snapshot",
    "self_ms.validation")

  def layerMetrics(ctx: Ctx): Map[String, Double] = {
    val cand = ctx.spanMedian("dedup.minhash_pairs", "jaccard_candidates")
    val verified = ctx.spanMedian("dedup.minhash_pairs", "jaccard_verified")
    Map(
      "sources.tables_apply_ms" -> Stats.medianOr0(ctx.tracer.durations("sources.tables_apply")),
      "dedup.exact_ms" -> Stats.medianOr0(ctx.tracer.durations("dedup.exact")),
      "dedup.minhash_pairs_ms" -> Stats.medianOr0(ctx.tracer.durations("dedup.minhash_pairs")),
      "dedup.components_ms" -> Stats.medianOr0(ctx.tracer.durations("dedup.components")),
      "dedup.candidate_pairs" -> cand,
      "dedup.verified_pairs" -> verified,
      "dedup.verify_yield" -> (if (cand > 0) verified / cand else 0.0),
      "similarity.ivf_topk_ms_p50" -> Stats.medianOr0(byKind.getOrElse("ivf", Nil).toSeq),
      "similarity.lsh_topk_ms_p50" -> Stats.medianOr0(byKind.getOrElse("lsh", Nil).toSeq),
      "similarity.recall_at_k" -> math.min(recalls.getOrElse("ivf", 0.0), recalls.getOrElse("lsh", 0.0)))
  }
}
