package lcsbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.Text
import graft.operators.{Bloom, Dedup, Ivf, IvfPq, Postings, Pq}
import Gen.Srv._

/** Serving from persisted indexes, fed by a curated ingest.
  *
  * Setup builds, from a generated corpus of embedded documents, an
  * IVF-PQ index over the embeddings, a term-bucketed positional postings
  * index over the texts, the float store the ANN rescoring reads, and
  * the two dedup indexes (content hashes with their bloom filter, and
  * MinHash signatures).
  *
  * A read op is one hybrid top-10 query: ANN retrieval, then lexical
  * retrieval, for the same request. Every read runs both, so every read
  * timing covers one op type, and read latency is the sum of the two.
  *
  * A write op ingests one batch of documents with planted junk, exact
  * and near duplicates through the curation stack: the score gates, exact
  * dedup against the hash index behind its bloom filter, MinHash near
  * dedup against the signature index, then appends the survivors to both
  * dedup indexes, the IVF-PQ index, the postings index and the float
  * store. Appends go through the centroids and codebooks pinned at setup
  * (the drift case: lists grow unevenly and nothing retrains).
  *
  * The gates and exact dedup are exact algorithms and are checked
  * exactly; so is the set of documents that reaches the store. MinHash
  * near dedup is approximate, like the ANN probe: its decisions are
  * scored in `recall` against the planted pairs, not counted as
  * failures, and the live set follows the engine's decisions.
  *
  * Op cycle: [[ReadsPerWrite]] reads, then one write. */
final class Serve(spark: SparkSession, trace: Trace, seed: Long) extends Workload {
  import Serve._

  private val src = new Source(seed)
  private var dir = ""
  private var centroids: Seq[Seq[Double]] = Nil
  private var codebooks: Seq[Seq[Seq[Double]]] = Nil
  /** The float store the ANN rescoring joins and the dedup indexes,
    * re-opened after each ingest as a serving process would. */
  private var vectors: DataFrame = _
  private var hashIndex: DataFrame = _
  private var sigIndex: DataFrame = _
  private var bloom: Array[Byte] = Array.empty
  /** Items live in the serving indexes, in id order. */
  private val live = mutable.ArrayBuffer.empty[Item]
  private var position = 0 // within the cycle
  private var queries = 0
  private var batches = 0
  private var recallSum = 0.0
  private var recallN = 0
  private var nearPlanted = 0L
  private var nearFound = 0L
  private var cleanScored = 0L
  private var cleanFlagged = 0L
  private var writesScored = 0

  /** A setup costs about 4 s. */
  def setupReps: Int = 3
  def warmupOps: Int = ReadsPerWrite + 1
  def traceOps: Int = 2 * (ReadsPerWrite + 1)
  def readTail: Option[Double] = None
  /** Three cycles: 21 reads and 3 writes. */
  def minReads: Int = 3 * ReadsPerWrite
  def primaryKind: String = Op.Read

  private def itemsPath = s"$dir/items"
  private def vectorsPath = s"$dir/vectors"
  private def ivfPath = s"$dir/ivfpq"
  private def postingsPath = s"$dir/postings"
  private def hashPath = s"$dir/hash_index"
  private def sigPath = s"$dir/signature_index"

  private def frame(items: Seq[Item], partitions: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      items.map(i => Row(i.id, i.vec.toSeq, i.text)), partitions), ItemSchema)

  def setup(d: String): Unit = {
    dir = d
    live.clear(); live ++= src.corpus
    position = 0; queries = 0; batches = 0
    frame(src.corpus.toSeq, 4).write.parquet(itemsPath)
    val items = spark.read.parquet(itemsPath)
    items.select(col("vec_id"), col("embedding")).write.parquet(vectorsPath)
    centroids = Ivf.trainCentroids(items, Lists, iters = 3, trainFraction = 0.25)
    codebooks = Pq.trainCodebooks(items, dim = Dim, m = 8, k = 16, iters = 2,
      trainFraction = 0.5)
    IvfPq.writeIndex(items, ivfPath, centroids, codebooks)
    Postings.writeIndex(Postings.build(items, "vec_id", "text"), postingsPath, Buckets)
    appendDedupIndexes(items)
    reopen()
  }

  private def appendDedupIndexes(docs: DataFrame): Unit = {
    docs.select(Text.contentHash(col("text")).as("content_hash"),
      col("vec_id").as("keep_id")).write.mode("append").parquet(hashPath)
    Dedup.minhashSignatures(docs, "vec_id", "text", Shingle, SigLen)
      .select(col("id"), col("sig")).write.mode("append").parquet(sigPath)
  }

  private def reopen(): Unit = {
    vectors = spark.read.parquet(vectorsPath)
    hashIndex = spark.read.parquet(hashPath)
    sigIndex = spark.read.parquet(sigPath)
    bloom = Bloom.build(hashIndex, col("content_hash"), BloomItems)
  }

  def atCycleStart: Boolean = position == 0

  def next(): Op = {
    val op = if (position < ReadsPerWrite) readOp() else writeOp()
    position = (position + 1) % (ReadsPerWrite + 1)
    op
  }

  private def readOp(): Op = {
    val q = src.query(queries, live)
    queries += 1
    val scored = recallN < RecallQueries
    val snapshot = live.toIndexedSeq
    Op(Op.Read, 1L, () => {
      // the request is a driver-side value, as in a serving process
      val qdf = spark.createDataFrame(
        java.util.Collections.singletonList(Row(q.id, q.vec.toSeq)), QuerySchema)
      val ann = trace.span("ann.probe") {
        IvfPq.probeIndex(spark, ivfPath, vectors, centroids,
          codebooks, qdf, k = K, nprobe = Nprobe, nCand = Candidates)
          .select(col("neighbor_id"), col("cos")).collect()
          .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      }
      val lexical = trace.span("postings.probe") {
        Postings.phraseOccurrencesFromIndex(spark, postingsPath, q.phrase, Buckets)
          .orderBy(col("n_occ").desc, col("doc_id")).limit(K)
          .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
      }
      () => {
        val exact = snapshot.map(i => i.id -> cosine(q.vec, i.vec))
          .sortBy { case (id, c) => (-c, id) }.take(K).map(_._1)
        if (scored) {
          recallSum += Check.recall(exact, ann.map(_._1)); recallN += 1
        }
        Check.all(
          Serve.checkAnn(ann, snapshot.iterator.map(i => i.id -> i.vec).toMap, q.vec),
          Check.sameRanking(s"phrase ${q.phrase.mkString(" ")}",
            Serve.phraseTopK(snapshot, q.phrase), lexical))
      }
    })
  }

  private def writeOp(): Op = {
    val b = src.batch(batches)
    batches += 1
    val batchId = batches.toLong
    val exactSurvivors = b.items.filterNot(i => b.junk(i.id) || b.exact(i.id))
    val indexed = live.iterator.map(_.id).toSet
    Op(Op.Write, b.items.length.toLong, () => {
      val docs = frame(b.items.toSeq, 1)
      val gated = trace.span("functions.score") {
        val g = docs.withColumn("toks", Text.tokens(col("text")))
          .filter(size(col("toks")) >= MinTokens &&
            Text.alphaTokenFraction(col("toks")) >= MinAlpha &&
            Text.qualityScore(col("text"), col("toks")) >= MinQuality)
          .drop("toks").cache()
        g.count()
        g
      }
      val novel = trace.span("dedup.exact") {
        val n = Dedup.exactAgainstIndexBloom(gated, "vec_id", "text", hashIndex, bloom)._1
          .cache()
        n.count()
        n
      }
      val pairs = trace.span("dedup.near") {
        Dedup.minhashNearDupsAgainstIndex(novel, "vec_id", "text", sigIndex,
          n = Shingle, k = SigLen).select(col("id"), col("corpus_id")).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toSet
      }
      val flagged = pairs.map(_._1).toSet
      val kept = novel.filter(!col("vec_id").isin(flagged.toSeq.map(Long.box): _*))
      trace.span("dedup.index_append")(appendDedupIndexes(kept))
      val annApplied = trace.span("ann.append") {
        IvfPq.appendIndexBatch(kept, ivfPath, batchId, centroids, codebooks)
      }
      val postApplied = trace.span("postings.append") {
        Postings.appendIndexBatch(Postings.build(kept, "vec_id", "text"), postingsPath,
          batchId, Buckets)
      }
      trace.span("sinks.vectors_append") {
        kept.select(col("vec_id"), col("embedding")).write.mode("append").parquet(vectorsPath)
      }
      gated.unpersist(false); novel.unpersist(false)
      trace.span("dedup.index_append")(reopen())
      val keptItems = exactSurvivors.filterNot(i => flagged(i.id))
      live ++= keptItems
      () => {
        val stored = vectors.filter(col("vec_id") >= b.items.head.id &&
          col("vec_id") <= b.items.last.id).select(col("vec_id")).collect().map(_.getLong(0))
        if (trace.tracing) {
          trace.count("ann.list_skew", listSkew())
          trace.count("dedup.index_bytes",
            (Fs.bytes(spark, hashPath) + Fs.bytes(spark, sigPath)).toDouble)
        }
        if (writesScored < RecallWrites) {
          writesScored += 1
          nearPlanted += b.near.size
          nearFound += b.near.count(p => pairs.contains(p))
          val clean = exactSurvivors.filterNot(i => b.near.contains(i.id))
          cleanScored += clean.length
          cleanFlagged += clean.count(i => flagged(i.id))
        }
        val exactIds = exactSurvivors.iterator.map(_.id).toSet
        Check.all(
          if (annApplied && postApplied) None
          else Some(s"batch $batchId was a replay (ann $annApplied, postings $postApplied)"),
          pairs.collectFirst { case (id, c) if !exactIds(id) || !indexed(c) =>
            s"batch $batchId near pair ($id, $c) is not (exact survivor, indexed doc)" },
          Check.sameIds(s"batch $batchId stored survivors", keptItems.map(_.id).toSeq,
            stored.toSeq))
      }
    })
  }

  /** Largest inverted list over the mean list, in bytes on disk. */
  private def listSkew(): Double = {
    val p = new org.apache.hadoop.fs.Path(ivfPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sizes = fs.listStatus(p)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("cluster="))
      .map(s => fs.getContentSummary(s.getPath).getLength.toDouble)
    if (sizes.isEmpty) 0.0 else sizes.max / (sizes.sum / sizes.length)
  }

  def spaceAmp(): Double = {
    val raw = live.iterator.map(i => i.vec.length * 4L + 8L + i.text.length).sum
    Seq(vectorsPath, ivfPath, postingsPath, hashPath, sigPath)
      .map(Fs.bytes(spark, _)).sum.toDouble / raw
  }

  /** The product of three shares, each over a fixed prefix of the op
    * sequence so every run scores the same ops: ANN recall@10 against
    * exact cosine over the first [[RecallQueries]] queries; over the
    * first [[RecallWrites]] ingests, the planted near copies flagged as
    * near duplicates of their source, and the clean documents not
    * flagged. A product, not a mean, so a relative loss in any one
    * share shows in full. */
  def recall: Double = {
    val (ann, found, kept) = recallParts
    ann * found * kept
  }

  private def recallParts: (Double, Double, Double) = (
    if (recallN == 0) 1.0 else recallSum / recallN,
    if (nearPlanted == 0) 1.0 else nearFound.toDouble / nearPlanted,
    if (cleanScored == 0) 1.0 else 1.0 - cleanFlagged.toDouble / cleanScored)

  override def close(): Unit = {
    val (ann, found, kept) = recallParts
    println(f"diag recall ann_at10=$ann%.4f near_found=$found%.4f ($nearFound/$nearPlanted) " +
      f"clean_unflagged=$kept%.4f (${cleanScored - cleanFlagged}/$cleanScored)")
  }
}

object Serve {
  val Lists = 16
  val Buckets = 16
  val K = 10
  val Nprobe = 4
  val Candidates = 100
  val ReadsPerWrite = 7
  val RecallQueries = 28
  val RecallWrites = 4
  val MinTokens = 40
  val MinAlpha = 0.9
  val MinQuality = 0.7
  val Shingle = 3
  val SigLen = 64
  val BloomItems = 200000L

  val ItemSchema: StructType = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("text", StringType)))
  val QuerySchema: StructType = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))

  /** An ANN answer is valid when it has k distinct live ids, each with
    * the cosine the engine reports equal to its true cosine to the query.
    * Recall against the exact top-k is scored apart. */
  def checkAnn(got: Seq[(Long, Double)], vecs: Map[Long, Array[Float]],
      q: Array[Float]): Option[String] =
    if (got.length != K || got.map(_._1).distinct.length != K)
      Some(s"ann: expected $K distinct neighbors, got ${got.map(_._1).mkString(",")}")
    else got.collectFirst {
      case (id, _) if !vecs.contains(id) => s"ann: neighbor $id is not a live item"
      case (id, c) if math.abs(cosine(q, vecs(id)) - c) > 1e-4 =>
        s"ann: neighbor $id reported cosine $c, true cosine ${cosine(q, vecs(id))}"
    }

  /** Top-k documents by occurrences of the two-word phrase, ties by id. */
  def phraseTopK(items: Seq[Item], phrase: Seq[String]): Seq[Long] =
    items.iterator.map { i =>
      val t = i.text.split(" ")
      i.id -> t.indices.count(j => t.slice(j, j + phrase.length).sameElements(phrase))
    }.filter(_._2 > 0).toSeq.sortBy { case (id, n) => (-n, id) }.take(K).map(_._1)
}
