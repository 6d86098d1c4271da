package perfbench

import graft.operators.{Bm25Index, IndexManifest, IvfIndex, LshBandIndex}
import graft.streaming.{AnnMaintenance, IngestPipeline}
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Runs `body` as the named call into a layer; the traced run tags and
  * spans it, the untraced run only runs it. */
trait Tag {
  def apply[T](name: String, request: Long)(body: => T): T
}

object Tag {
  val Off: Tag = new Tag { def apply[T](name: String, request: Long)(body: => T): T = body }
}

/** The lakehouse's persisted text and vector indexes, as the batch
  * workload uses them: LSH, BM25 and IVF indexes seeded from a corpus,
  * the writer's micro-batches through the ingest and ANN maintenance
  * pipelines, the three probe kinds an analyst issues, and the checks of
  * what the writer left behind. */
object Indexes {

  val SeedDocs = 300L
  val BatchNovel = 20L
  val BatchNearDups = 5L
  val SeedVecs = 300L
  val BatchVecs = 50L
  /** IVF cells of the seed index. */
  val Cells = 8

  /** Span and tag names of the three probe kinds. */
  val Kinds: Seq[String] = Seq("operators.Bm25Index.probe", "operators.LshBandIndex.probe",
    "operators.IvfIndex.query")
  val IngestTag = "streaming.IngestPipeline.ingestBatch"
  val AnnTag = "streaming.AnnMaintenance.applyBatch"

  /** Index documents: 30..120 words from a 400-word vocabulary, so BM25
    * terms have a spread of document frequencies. */
  val Vocab: Seq[String] = (0 until 400).map(i => s"w$i")

  private def docs(spark: SparkSession, seed: Long, from: Long, n: Long): DataFrame =
    spark.range(from, from + n).select(col("id").as("doc_id"),
      DataGen.text(seed, col("id"), Vocab, 30, 120).as("text"))

  /** Batch `b`: novel documents with fresh ids, plus near-duplicates of
    * already indexed seed documents (their text plus one word, a word
    * 3-shingle Jaccard above 0.95), which admission must reject. */
  def docBatch(spark: SparkSession, seed: Long, b: Long): DataFrame = {
    val from = SeedDocs + b * (BatchNovel + BatchNearDups)
    val novel = docs(spark, seed, from, BatchNovel)
    val dups = spark.range(BatchNearDups).select(
      (lit(from + BatchNovel) + col("id")).as("doc_id"),
      concat(DataGen.text(seed, pmod(xxhash64(lit(seed), lit(b), col("id")), lit(SeedDocs)),
        Vocab, 30, 120), lit(" w7")).as("text"))
    novel.unionByName(dups)
  }

  def vecBatch(spark: SparkSession, seed: Long, b: Long): DataFrame =
    DataGen.embeddings(spark, BatchVecs, seed, SeedVecs + b * BatchVecs)

  final case class Dirs(lsh: String, bm25: String, ivf: String, vecs: String)

  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else scala.util.Using.resource(Files.walk(p)) { st =>
      st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    }

  /** Generate the inputs under `root`: the seed vectors as an embeddings
    * table, and the seed corpus, returned cached. Not timed. */
  def prepare(spark: SparkSession, seed: Long, root: Path): (Dirs, DataFrame) = {
    val d = Dirs(root.resolve("lsh").toString, root.resolve("bm25").toString,
      root.resolve("ivf").toString, root.resolve("seedvecs").toString)
    DataGen.embeddings(spark, SeedVecs, seed, 0L).coalesce(1)
      .write.mode("overwrite").parquet(s"${d.vecs}/embeddings.parquet")
    val corpus = docs(spark, seed, 0L, SeedDocs).cache()
    corpus.count()
    (d, corpus)
  }

  /** Build the three indexes over the seed corpus and vectors. */
  def build(spark: SparkSession, d: Dirs, corpus: DataFrame): Unit = {
    LshBandIndex.build(spark, corpus, d.lsh)
    Bm25Index.build(spark, corpus, d.bm25)
    IvfIndex.build(spark, d.vecs, d.ivf, k = Cells)
  }

  /** Probe inputs drawn from the seed: BM25 term triples, LSH
    * near-copies of seed documents, IVF query vectors equal to seed
    * vectors. */
  final class Probes(spark: SparkSession, seed: Long, d: Dirs) {
    import spark.implicits._
    private val lsh = docs(spark, seed, 0L, SeedDocs).filter(col("doc_id") < 20)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    private val ivf = DataGen.embeddings(spark, 20, seed, 0L).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))

    /** Run probe `i` of `kind`; false when an LSH or IVF probe misses
      * the seed item it was drawn from. */
    def run(kind: Int, i: Int, tag: Tag): Boolean = kind match {
      case 0 =>
        val rnd = new scala.util.Random(seed * 31L + i)
        val q = (0 until 3).map(_ => (i.toLong, Vocab(rnd.nextInt(Vocab.size)))).toDF("qid", "term")
        tag(Kinds(0), i)(Bm25Index.probe(spark, q, d.bm25).collect())
        true
      case 1 =>
        val (id, text) = lsh(i % lsh.length)
        tag(Kinds(1), i)(LshBandIndex.probe(spark, Seq((id + 1000000L, text)).toDF("doc_id", "text"), d.lsh)
          .collect()).exists(_.getAs[Long]("index_id") == id)
      case _ =>
        val (id, v) = ivf(i % ivf.length)
        tag(Kinds(2), i)(IvfIndex.query(spark, d.ivf, v, 10).collect())
          .headOption.exists(_.getAs[Long]("vec_id") == id)
    }
  }

  /** The writer: seeded micro-batches through ingest (LSH and BM25
    * admission) and ANN maintenance, and what each left. Batches are
    * written one at a time. */
  final class Writer(spark: SparkSession, seed: Long, d: Dirs) {
    val admitted = mutable.ArrayBuffer.empty[Long]
    val ingestS = mutable.ArrayBuffer.empty[Double]
    val annS = mutable.ArrayBuffer.empty[Double]
    val inputBytes = mutable.ArrayBuffer.empty[Long]
    var rebalances = 0L
    val errors = mutable.ArrayBuffer.empty[String]

    def batches: Int = ingestS.size

    def write(b: Long, tag: Tag): Unit = {
      val batch = docBatch(spark, seed, b).cache()
      val vecs = vecBatch(spark, seed, b).cache()
      try {
        inputBytes += batch.select(sum(length(col("text")))).first().getLong(0)
        vecs.count()
        val s0 = System.nanoTime()
        admitted += tag(IngestTag, b)(IngestPipeline.ingestBatch(spark, batch, d.lsh, d.bm25, Some(b)))
        val s1 = System.nanoTime()
        rebalances += tag(AnnTag, b)(AnnMaintenance.applyBatch(spark, vecs, d.ivf, b))
        ingestS += (s1 - s0) / 1e9
        annS += (System.nanoTime() - s1) / 1e9
      } catch { case e: Exception => errors += s"batch $b: ${e.getMessage}" }
      finally { batch.unpersist(); vecs.unpersist() }
    }

    /** Failures in what the batches left, with a note for each kind:
      * a failed batch, a batch that did not admit exactly its novel
      * documents, and a total that is not every admitted document (or
      * appended vector) exactly once. */
    def check(notes: mutable.Buffer[String]): Long = {
      val badBatches = admitted.count(_ != BatchNovel)
      val expectDocs = SeedDocs + admitted.sum
      val bm25Docs = IndexManifest.read(spark, d.bm25, "postings").select("doc_id").distinct().count()
      val lshDocs = IndexManifest.read(spark, d.lsh, "sets").select("doc_id").distinct().count()
      val vecIds = spark.read.parquet(s"${d.ivf}/vectors").select("vec_id")
      val (nVec, nVecDistinct) = (vecIds.count(), vecIds.distinct().count())
      val expectVecs = SeedVecs + BatchVecs * annS.size
      val totalsBad = Seq(bm25Docs != expectDocs, lshDocs != expectDocs,
        nVec != expectVecs, nVecDistinct != nVec).count(identity)
      notes ++= errors
      if (badBatches > 0) notes += s"admitted per batch ${admitted.mkString(",")}, expected $BatchNovel each"
      if (totalsBad > 0) notes += s"totals bm25=$bm25Docs lsh=$lshDocs expected $expectDocs; vectors $nVec ($nVecDistinct distinct) expected $expectVecs"
      errors.size + badBatches + totalsBad
    }

    /** Index state after the run, for the traced run's layer metrics. */
    def layerMetrics(ingest: SparkCounters#Agg, tracedBatches: Seq[Int]): Seq[Metric] = {
      val snaps = IndexManifest.load(spark, d.bm25).toSeq ++ IndexManifest.load(spark, d.lsh)
      val docsHeld = SeedDocs + admitted.sum
      val diskBytes = bytesUnder(Path.of(d.lsh)) + bytesUnder(Path.of(d.bm25))
      Seq(
        Metric("streaming.IngestPipeline.admit_ratio",
          admitted.sum.toDouble / ((BatchNovel + BatchNearDups) * admitted.size), "ratio"),
        Metric("streaming.AnnMaintenance.rebalances", rebalances.toDouble, "count"),
        Metric("operators.IndexManifest.live_segments",
          snaps.map(_.tables.values.map(_.size).sum).sum.toDouble, "count"),
        Metric("operators.IndexManifest.versions", snaps.map(_.version).sum.toDouble, "count"),
        Metric("index.bytes_per_doc", diskBytes.toDouble / docsHeld, "bytes"),
        Metric("index.write_amp",
          ingest.outputBytes.toDouble / tracedBatches.map(inputBytes(_)).sum, "ratio"))
    }
  }
}
