package graft.perfbench

import scala.collection.mutable

import graft.functions.{Dedup, Similarity, TextAnalysis}
import graft.storage.{PartStore, PartStoreConfig}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The training-data library: near-duplicate filtering, char-LM quality
  * scoring and an IVF-PQ index, fed batch by batch.
  *
  * Documents arrive in seeded batches with a fixed near-duplicate share,
  * each with a clustered 64-d embedding. Set-up trains the IVF centroids
  * and PQ codebooks once and seeds the char-LM counts. Each batch: LSH
  * candidates against the stored bucket state, drop the later document of
  * every candidate pair, score the rest against the stored char-LM counts,
  * append their counts, and write their index rows by IVF bucket. After
  * each batch one query operation runs a fixed query set through the
  * partition-pruned stored IVF-PQ search. */
final class CurationIndex(spark: SparkSession, tr: Tracer, seed: Long, tiny: Boolean)
    extends Workload {
  import CurationIndex._
  import spark.implicits._

  val itemLabel = "documents"

  private val batchSize = if (tiny) 40 else 100
  private val poolBatches = if (tiny) 6 else 24
  private val seedDocs = if (tiny) 100 else 400
  private val trainVectors = if (tiny) 512 else 1024
  private val nQueries = if (tiny) 8 else 32
  private val dupShare = 0.15
  private val warmupBatches = 1

  private case class Doc(id: Long, family: Long, text: String, vec: Seq[Float])

  private var dir = ""
  private var vocab: IndexedSeq[String] = IndexedSeq.empty
  private var cdf: Array[Double] = Array.empty
  private var centers: IndexedSeq[Array[Float]] = IndexedSeq.empty
  private var pool: IndexedSeq[IndexedSeq[Doc]] = IndexedSeq.empty
  private var seedCorpus: IndexedSeq[Doc] = IndexedSeq.empty
  private var queries: DataFrame = _
  private var cents: Seq[(Int, Seq[Float])] = Nil
  private var cbs: Seq[Seq[(Int, Seq[Float])]] = Nil
  private var lsh: PartStore = _
  private var lm: PartStore = _
  private var idx: PartStore = _
  private var nextBatch = 0
  private val pairs = mutable.ArrayBuffer.empty[(Long, Long)]
  private val keptIds = mutable.ArrayBuffer.empty[Long]
  private var ingestedBytes = 0L
  private var poolFingerprint = ""

  private def word(r: java.util.SplittableRandom): String = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    vocab(math.min(if (i >= 0) i else -i - 1, vocab.length - 1))
  }

  private def vector(r: java.util.SplittableRandom, center: Array[Float], noise: Double): Seq[Float] =
    center.toSeq.map(c => (c + noise * r.nextGaussian()).toFloat)

  private def freshDoc(r: java.util.SplittableRandom, id: Long): Doc = {
    val n = 40 + r.nextInt(41)
    Doc(id, id, Seq.fill(n)(word(r)).mkString(" "),
      vector(r, centers(r.nextInt(centers.length)), 0.35))
  }

  /** Generate vocabulary, cluster centers, the seed corpus and the pool of
    * batches; all from the seed. */
  private def generate(): Unit = {
    val r = Workload.rng(seed, 10)
    val letters = "abcdefghijklmnopqrstuvwxyz"
    vocab = Iterator.continually(Seq.fill(3 + r.nextInt(7))(letters(r.nextInt(26))).mkString)
      .distinct.take(3000).toIndexedSeq
    val weights = vocab.indices.map(i => 1.0 / (i + 1))
    cdf = weights.scanLeft(0.0)(_ + _).tail.map(_ / weights.sum).toArray
    centers = IndexedSeq.fill(Cells)(Array.fill(Dim)(r.nextGaussian().toFloat))
    val rs = Workload.rng(seed, 12)
    seedCorpus = (1 to seedDocs).map(i => freshDoc(rs, i.toLong))
    val docs = mutable.ArrayBuffer.empty[Doc]
    pool = (0 until poolBatches).map { b =>
      val rb = Workload.rng(seed, 11, b)
      (0 until batchSize).map { j =>
        val id = 1000000L + b.toLong * batchSize + j
        val d =
          if (docs.nonEmpty && rb.nextDouble() < dupShare) {
            val src = docs(rb.nextInt(docs.length))
            val words = src.text.split(" ")
            (0 until 2).foreach(_ => words(rb.nextInt(words.length)) = word(rb))
            Doc(id, src.family, words.mkString(" "), src.vec.map(x => (x + 0.02 * rb.nextGaussian()).toFloat))
          } else freshDoc(rb, id)
        docs += d
        d
      }
    }
    poolFingerprint = Workload.sha(pool.iterator.flatten.map(d =>
      s"${d.id}|${d.text}|${d.vec.mkString(",")}".getBytes("UTF-8")))
  }

  private def frame(docs: Seq[Doc]): DataFrame =
    docs.map(d => (d.id, d.text, d.vec)).toDF("doc_id", "text", "embedding")

  def setup(d: String): Unit = {
    dir = d
    generate()
    val rt = Workload.rng(seed, 13)
    val train = (0 until trainVectors).map(i =>
      (i.toLong, vector(rt, centers(rt.nextInt(centers.length)), 0.35))).toDF("doc_id", "embedding")
    val rq = Workload.rng(seed, 14)
    queries = (0 until nQueries).map(i =>
      (QueryId0 + i, vector(rq, centers(rq.nextInt(centers.length)), 0.35))).toDF("doc_id", "embedding")
    cents = Similarity.ivfCentroidsRefined(train, "doc_id", "embedding", Cells, sampleN = trainVectors)
    cbs = Similarity.pqCodebooksRefined(train, "doc_id", "embedding", m = PqM, k = PqK, dim = Dim,
      sampleN = trainVectors)
    lsh = new PartStore(spark, PartStoreConfig(s"$dir/store/lsh", 1L << 55,
      keyCols = Seq("band", "key", "entity_id")))
    lm = new PartStore(spark, PartStoreConfig(s"$dir/store/lm", 86400, keyCols = Seq("tri")))
    idx = new PartStore(spark, PartStoreConfig(s"$dir/store/idx", 1))
    TextAnalysis.charLmCountsAppend(lm, "lm", frame(seedCorpus), "doc_id", "text", modified = 0L)
    pairs.clear()
    keptIds.clear()
    ingestedBytes = 0L
    nextBatch = 0
  }

  def warmUp(): Unit = {
    (0 until warmupBatches).foreach { b => runBatch(b); search() }
    nextBatch = warmupBatches
  }

  private def runBatch(b: Int): Long = {
    val docs = pool(b)
    val batch = frame(docs)
    val found = tr.span("functions.dedup")(Dedup.lshIncremental(lsh, "lsh", batch.select("doc_id", "text"),
      "doc_id", "text", Bands, RowsPerBand).collect().map(r => (r.getLong(0), r.getLong(1))))
    pairs ++= found
    val ids = docs.map(_.id).toSet
    val dups = found.map(_._2).filter(ids).toSet
    val keep = docs.filterNot(d => dups(d.id))
    keptIds ++= keep.map(_.id)
    ingestedBytes += docs.map(d => d.text.length + 4L * d.vec.length).sum
    val kept = frame(keep)
    tr.span("functions.charlm_score")(
      TextAnalysis.charLmScoreStored(lm, "lm", kept, "doc_id", "text").collect())
    tr.span("functions.charlm_append")(
      TextAnalysis.charLmCountsAppend(lm, "lm", kept, "doc_id", "text", modified = b + 1L))
    tr.span("functions.index_append")(Similarity.writeIndexBatchByBucket(idx, "emb",
      kept.select("doc_id", "embedding"), "doc_id", "embedding", cents, cbs, modified = b + 1L))
    docs.length.toLong
  }

  private def search(): Array[(Long, Long)] = {
    val corpus = tr.span("storage.read_plan")(idx.readPart("emb").get)
      .select(col("entity_id").as("doc_id"), col("embedding"))
    tr.span("functions.search")(Similarity.ivfPqTopKStoredPruned(queries, idx, "emb", corpus,
      "doc_id", "embedding", cents, cbs, k = TopK, nProbe = NProbe, shortlist = Shortlist)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))))
  }

  def next(): Option[Seq[Op]] =
    if (nextBatch >= poolBatches) None
    else {
      val b = nextBatch
      nextBatch += 1
      Some(Seq(Op("op.batch", primary = true, () => runBatch(b)),
        Op("op.query.ann", primary = false, () => { search(); 0L })))
    }

  def inputSummary: String =
    s"documents=${poolBatches * batchSize} batches=$poolBatches batch_size=$batchSize " +
      s"dup_share=$dupShare seed_docs=$seedDocs dim=$Dim cells=$Cells queries=$nQueries"
  def fingerprint: String = poolFingerprint
  def storeDir: String = s"$dir/store"
  def inputBytes: Long = ingestedBytes

  private lazy val recall: Double = {
    val corpus = idx.readPart("emb").get.select(col("entity_id").as("doc_id"), col("embedding"))
    val exact = Similarity.bruteForceTopK(queries, corpus, "doc_id", "embedding", TopK)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = search().toSet
    (approx intersect exact).size.toDouble / math.max(exact.size, 1)
  }
  def answerQuality: Double = recall

  override def layerExtras: Map[String, Double] = {
    val family = pool.iterator.flatten.map(d => d.id -> d.family).toMap
    val useful = pairs.count { case (a, b) => family.get(a).exists(family.get(b).contains) }
    Map("functions.dedup_pairs_per_candidate" -> useful.toDouble / math.max(pairs.size, 1))
  }

  /** Stored state against one fresh build over every batch ingested. */
  def checks(): Seq[Check] = {
    val all = frame(pool.take(nextBatch).flatten)
    val fullPairs = Dedup.lshCandidates(Dedup.lshBuckets(Dedup.minhashSignature(
        Dedup.shingles(TextAnalysis.tokens(all, "doc_id", "text"), "doc_id", 3),
        "doc_id", Bands * RowsPerBand), "doc_id", Bands, RowsPerBand), "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val incremental = pairs.toSet
    val fresh = new PartStore(spark, PartStoreConfig(s"$dir/check/lm", 86400, keyCols = Seq("tri")))
    val keptSet = keptIds.toSet
    TextAnalysis.charLmCountsAppend(fresh, "lm",
      frame(seedCorpus ++ pool.take(nextBatch).flatten.filter(d => keptSet(d.id))),
      "doc_id", "text", modified = 0L)
    def counts(ps: PartStore) = ps.readPart("lm").get.select(col("tri"), col("c3").cast("long"))
    val r = recall
    Seq(
      Check("curation.dedup_pairs", fullPairs == incremental,
        s"fresh ${fullPairs.size} pairs, incremental ${incremental.size}"),
      Workload.check("curation.charlm_counts", Workload.digest(counts(fresh)), Workload.digest(counts(lm))),
      Check("curation.recall_at_10", r > 0, f"recall@$TopK $r%.4f over $nQueries queries"))
  }
}

object CurationIndex {
  val Dim = 64
  val Cells = 16
  val PqM = 8
  val PqK = 256
  val Bands = 8
  val RowsPerBand = 4
  val TopK = 10
  val NProbe = 2
  val Shortlist = 50
  val QueryId0 = 2000000000L
}
