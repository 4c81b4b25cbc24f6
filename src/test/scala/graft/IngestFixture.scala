package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ListenerBusBridge

import graft.api.Engine
import graft.sources.Ingest
import graft.streaming.IncrementalIndex
import graft.streaming.IncrementalIndex.{LogMergeSettings, SegmentVectorSpec}

/** Every index-build path run over one fixed input, and a digest of
  * what it wrote — the row-identity evidence that the order in which
  * the ingest paths start their table writes never changes a table.
  *
  * Input: the first [[NDocs]] documents of the committed fixture under
  * `perfbench/data/` (the benchmark's corpus: documents with language
  * and source, one 64-dimensional embedding each). [[build]] runs:
  *  - a batch [[Engine]] root: `ingestDocuments` (with language
  *    profiles), `ingestVectors` (two vectorsets, one normalized dot
  *    set on 32-dimensional truncations) and `ingestRelations` (with
  *    resource provenance);
  *  - a streamed root: one segment of every document with vectors and
  *    relations, one of upserts and tombstones, then one
  *    `StreamEngine.compact()` pass folding the two.
  *
  * [[digests]] lists, for every table directory under the batch root's
  * `text/`, `vectors/` and `graph/` and under each segment, the schema,
  * the row count and an order-independent `sum(xxhash64(all columns))`;
  * plain files are listed by name and content. [[build]] also counts
  * the Spark jobs each step starts. The expected lines (digests, then
  * job counts) are committed as the test resource [[Resource]]; they
  * were recorded from the serial build that preceded concurrent table
  * writes. Regenerate them with
  * `sbt "Test/runMain graft.IngestFixture <out.tsv>"` only in a change
  * that means to alter a table or a job count.
  */
object IngestFixture {
  val NDocs = 200
  val Resource = "/graft/ingest_digests.tsv"
  private val dataDir = "perfbench/data"

  private def documents(spark: SparkSession): DataFrame =
    spark.read.parquet(s"$dataDir/documents.parquet")
      .where(col("doc_id") < NDocs)
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        array(concat(lit("/s/p/"), col("lang"))).as("labels"))

  private def embeddings(spark: SparkSession): DataFrame =
    spark.read.parquet(s"$dataDir/embeddings.parquet")
      .where(col("vec_id") < NDocs)
      .select(col("vec_id").as("doc_id"), col("embedding"))

  /** Run every ingest path under `root` (see the object doc); returns
    * one `jobs\t<step>\t<count>` line per step. */
  def build(spark: SparkSession, root: String): Seq[String] = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    val counts = scala.collection.mutable.ArrayBuffer.empty[String]
    def step(name: String)(body: => Unit): Unit = {
      ListenerBusBridge.drain(sc)
      jobs.set(0)
      body
      ListenerBusBridge.drain(sc)
      counts += s"jobs\t$name\t${jobs.get}"
    }
    sc.addSparkListener(listener)
    try steps(spark, root, step)
    finally sc.removeSparkListener(listener)
    counts.toSeq
  }

  private def steps(spark: SparkSession, root: String,
      step: String => (=> Unit) => Unit): Unit = {
    val docs = documents(spark)
    val emb = embeddings(spark)
    val e = new Engine(spark, s"$root/batch")
    step("ingest_documents")(e.ingestDocuments(docs, langCol = Some("lang")))
    step("ingest_vectors")(e.ingestVectors(
      emb.withColumn("vectorset", lit("full"))
        .unionByName(emb.withColumn("embedding", slice(col("embedding"), 1, 32))
          .withColumn("vectorset", lit("half"))),
      configs = Map("half" ->
        Ingest.VectorSetConfig(similarity = "dot", normalizeVectors = true))))
    step("ingest_relations")(e.ingestRelations(
      docs.select(concat(lit("doc-"), col("doc_id")).as("src"),
          lit("IN_LANG").as("rel"), col("lang").as("dst"), col("doc_id").as("rid"))
        .unionByName(docs.select(concat(lit("doc-"), col("doc_id")).as("src"),
          lit("FROM_SOURCE").as("rel"), col("source").as("dst"), col("doc_id").as("rid"))),
      "src", "rel", "dst", resourceCol = Some("rid")))

    def model(sub: String, k: String, v: String): Seq[(Int, Seq[Float])] =
      spark.read.parquet(s"$root/batch/vectors/$sub").where(col("vectorset") === "full")
        .select(k, v).collect().map(r => (r.getInt(0), r.getSeq[Float](1))).sortBy(_._1).toSeq
    val spec = SegmentVectorSpec("embedding", model("centroids", "cid", "cvec"),
      model("codebook", "cid", "cw"), m = 16)
    val ops = docs.join(emb, "doc_id")
      .withColumn("rels", array(
        struct(lit("IN_LANG").as("rel"), col("lang").as("dst")),
        struct(lit("FROM_SOURCE").as("rel"), col("source").as("dst"))))
    def segment(n: Int, batch: DataFrame): Unit = step(s"write_segment_$n")(
      IncrementalIndex.writeSegment(batch, f"$root/stream/seg_$n%09d", "doc_id",
        "text", "seq", vectors = Some(spec), relationsCol = Some("rels")))
    segment(0, ops.withColumn("seq", lit(0L)).withColumn("deleted", lit(false)))
    segment(1, ops.where(col("doc_id") < 50)
      .withColumn("seq", lit(1L))
      .withColumn("text", concat(col("text"), lit(" segmentone")))
      .withColumn("deleted", col("doc_id") >= 40))
    val se = Engine.forStream(spark, s"$root/stream", docs, docId = "doc_id")
    step("compact") {
      val folded = se.compact(LogMergeSettings(minSegments = 2))
      require(folded.nonEmpty, "the compaction pass folded nothing")
    }
  }

  /** One line per table directory or plain file under the roots
    * [[build]] writes, sorted (see the object doc). */
  def digests(spark: SparkSession, root: String): Seq[String] = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val segments = fs.listStatus(new Path(s"$root/stream")).map(_.getPath.getName)
      .filter(_.startsWith("seg_")).sorted.map(s => s"stream/$s")
    (Seq("batch/text", "batch/vectors", "batch/graph") ++ segments).flatMap { rel =>
      fs.listStatus(new Path(s"$root/$rel")).toSeq.map { st =>
        val name = s"$rel/${st.getPath.getName}"
        if (st.isDirectory) {
          val t = spark.read.parquet(st.getPath.toString)
          val r = t.agg(count(lit(1)),
              sum(xxhash64(t.columns.map(c => col(s"`$c`")).toSeq: _*)
                .cast("decimal(38,0)")))
            .head()
          s"$name\t${t.schema.toDDL}\t${r.getLong(0)}\t${r.getDecimal(1)}"
        } else
          s"$name\tfile\t${Ingest.readText(spark, st.getPath.toString).replace("\n", "\\n")}"
      }
    }.sorted
  }

  /** The committed expected digests. */
  def expected: Seq[String] = {
    val in = getClass.getResourceAsStream(Resource)
    require(in != null, s"missing test resource $Resource")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().filter(_.nonEmpty).toList
    finally in.close()
  }

  /** Writes the digests and job counts of a fresh build to `args(0)`. */
  def main(args: Array[String]): Unit = {
    val spark = SparkSpec.session
    val root = java.nio.file.Files.createTempDirectory("graft-digests-").toString
    val jobs = build(spark, root)
    val out = new java.io.PrintWriter(args(0), "UTF-8")
    try (digests(spark, root) ++ jobs).foreach(out.println) finally out.close()
    spark.stop()
  }
}
