package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** The benchmark's corpus: the engine's fixture tables at scale 0.01,
  * committed under `perfbench/data/` (`documents (doc_id, text, lang,
  * source, n_chars)`: 500 documents; `embeddings (vec_id, embedding,
  * label)`: one unit-norm 64-dimensional vector per document, `vec_id ==
  * doc_id`), served from there. The seed appends [[marker]], a token no
  * other document has, to the last document, so set-up can time the
  * first read that finds freshly ingested data.
  *
  * Queries draw from [[vocabulary]], the corpus words without stop words
  * ranked by frequency, Zipf-skewed over that rank.
  */
final case class Corpus(
    dataDir: String,
    docs: IndexedSeq[Corpus.Doc],
    vectors: IndexedSeq[Array[Float]],
    marker: String) {
  def size: Int = docs.size

  val vocabulary: IndexedSeq[String] = {
    val stop = TextFunctions.stopWordsFor("en").toSet
    docs.flatMap(_.text.split(" ")).filter(w => w.nonEmpty && w != marker && !stop(w))
      .groupBy(identity).toSeq.map { case (w, ws) => (w, ws.size) }
      .sortBy { case (w, n) => (-n, w) }.map(_._1).toIndexedSeq
  }
  val wordZipf = new Corpus.Zipf(vocabulary.size, 1.0)

  private def byFrequency(xs: Seq[String]): IndexedSeq[String] =
    xs.groupBy(identity).toSeq.sortBy { case (x, n) => (-n.size, x) }.map(_._1).toIndexedSeq

  /** The two most frequent languages: the ones filtered requests name
    * and set-up registers restriction stats for. */
  val filterLangs: IndexedSeq[String] = byFrequency(docs.map(_.lang)).take(2)
  val sources: IndexedSeq[String] = byFrequency(docs.map(_.source))

  /** The input documents table, with the marker on the last document. */
  def documents(spark: SparkSession): DataFrame = {
    val text = when(col("doc_id") === docs.last.id, concat(col("text"), lit(s" $marker")))
      .otherwise(col("text"))
    spark.read.parquet(s"$dataDir/documents.parquet")
      .withColumn("text", text).withColumn("n_chars", length(col("text")).cast("long"))
  }

  def embeddings(spark: SparkSession): DataFrame =
    spark.read.parquet(s"$dataDir/embeddings.parquet")

  /** The input bytes on disk: the denominator of index size per input byte. */
  def inputBytes: Long =
    Disk.bytes(s"$dataDir/documents.parquet") + Disk.bytes(s"$dataDir/embeddings.parquet")
}

object Corpus {
  final case class Doc(id: Long, text: String, lang: String, source: String)

  /** Inverse-CDF sampler over ranks 0..n-1 with weight 1/(rank+1)^s. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    def sample(rnd: scala.util.Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** Load the fixture under `dataDir` and mark its last document for `seed`. */
  def load(spark: SparkSession, dataDir: String, seed: Long): Corpus = {
    val marker = s"zzmark${math.abs(seed)}"
    val rows = spark.read.parquet(s"$dataDir/documents.parquet").orderBy("doc_id").collect()
    val last = rows.last.getAs[Long]("doc_id")
    val docs = rows.toIndexedSeq.map { r =>
      val id = r.getAs[Long]("doc_id")
      val text = r.getAs[String]("text")
      Doc(id, if (id == last) s"$text $marker" else text,
        r.getAs[String]("lang"), r.getAs[String]("source"))
    }
    val vecs = spark.read.parquet(s"$dataDir/embeddings.parquet").orderBy("vec_id")
      .collect().toIndexedSeq
    require(vecs.map(_.getAs[Long]("vec_id")) == docs.map(_.id),
      s"the fixture under $dataDir lacks an embedding per document")
    Corpus(dataDir, docs, vecs.map(_.getSeq[Float](1).toArray), marker)
  }

  /** The served document store: input documents plus the facet labels,
    * a `created` timestamp derived from `doc_id`, and a title. */
  def withServingColumns(docs: DataFrame): DataFrame =
    docs.withColumn("labels", array(concat(lit("/s/p/"), col("lang")),
        concat(lit("/u/s/"), col("source"))))
      .withColumn("created",
        timestamp_seconds(lit(1704067200L) + col("doc_id") * 3600L))
      .withColumn("title", substring_index(col("text"), " ", 4))
}

/** On-disk sizes, for index bytes per input byte. */
object Disk {
  def bytes(path: String): Long = {
    val f = new java.io.File(path)
    if (!f.exists) 0L
    else if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(g => bytes(g.getPath)).sum).getOrElse(0L)
  }
}
