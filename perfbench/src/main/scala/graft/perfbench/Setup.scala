package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.api.{Engine, Find, StreamEngine}
import graft.operators.FilterExpr
import graft.streaming.IncrementalIndex

/** Builds the serving roots from the input tables, timing each step. */
object Setup {

  /** One batch set-up: ingest, registration and warm-up, each timed. */
  final case class Batch(
      engine: Engine,
      ingestDocumentsS: Double,
      ingestVectorsS: Double,
      ingestRelationsS: Double,
      registerS: Double,
      warmupS: Double,
      freshnessMs: Double,
      ingestDocs: Long,
      textBytes: Long,
      vectorBytes: Long,
      graphBytes: Long,
      rootBytes: Long) {
    def ingestS: Double = ingestDocumentsS + ingestVectorsS + ingestRelationsS
  }

  private def timed[A](body: => A): (A, Double) = {
    val t = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t) / 1e9)
  }

  /** Ingest documents, vectors and relations into a fresh batch root,
    * register the catalog facet counts and the restriction stats of the
    * filtered languages, then warm up with `warm`. `tag` runs a set-up step under a
    * job group when the run is traced. `check` records the freshness
    * read's outcome. */
  def batch(spark: SparkSession, root: String, corpus: Corpus,
      warm: Seq[Request], tag: Tagger, check: Checks): Batch = {
    val docs = Corpus.withServingColumns(corpus.documents(spark))
    val e = new Engine(spark, root)
    val t0 = System.nanoTime()
    val (_, docsS) = timed(tag("ingest_documents")(e.ingestDocuments(docs, langCol = Some("lang"))))
    // time-to-searchable: the first read that finds the marker document
    val fresh = tag("freshness_read")(Request.exec(Request.findKeyword(corpus.marker).build(e)))
    val freshMs = (System.nanoTime() - t0) / 1e6
    check("batch marker read", fresh.rows.head.map(_.getLong(0)) == Seq(corpus.size - 1L),
      s"marker ${corpus.marker} returned ${fresh.rows.head.map(_.getLong(0))}")
    val (_, vecS) = timed(tag("ingest_vectors")(e.ingestVectors(
      corpus.embeddings(spark).select(col("vec_id").as("doc_id"),
        col("embedding"), lit("default").as("vectorset")))))
    val docsIn = corpus.documents(spark)
    val edges = docsIn.select(concat(lit("doc-"), col("doc_id")).as("src"),
        lit("IN_LANG").as("rel"), col("lang").as("dst"), col("doc_id").as("rid"))
      .unionByName(docsIn.select(concat(lit("doc-"), col("doc_id")).as("src"),
        lit("FROM_SOURCE").as("rel"), col("source").as("dst"), col("doc_id").as("rid")))
    val (_, relS) = timed(tag("ingest_relations")(
      e.ingestRelations(edges, "src", "rel", "dst", resourceCol = Some("rid"))))
    val (_, regS) = timed(tag("register") {
      e.cacheCatalogFacetCounts()
      corpus.filterLangs.foreach(l => e.cacheRestrictionStats(
        Find.RestrictionKey(filter = Some(FilterExpr.Facet(s"/s/p/$l")))))
    })
    val (_, warmS) = timed(tag("warmup")(warm.foreach { r =>
      Request.exec(r.build(e)); graft.Caches.releaseAll()
    }))
    Batch(e, docsS, vecS, relS, regS, warmS, freshMs, corpus.size.toLong,
      textBytes = Disk.bytes(s"$root/text") + Disk.bytes(s"$root/docs"),
      vectorBytes = Disk.bytes(s"$root/vectors") + Disk.bytes(s"$root/raw_vectors"),
      graphBytes = Disk.bytes(s"$root/graph"),
      rootBytes = Disk.bytes(root))
  }

  /** The update batch shape `IncrementalIndex.writeSegment` takes. */
  final case class Op(docId: Long, seq: Long, text: String, deleted: Boolean,
      lang: String, source: String)

  def writeSegment(spark: SparkSession, root: String, segNo: Int, ops: Seq[Op]): Unit = {
    import spark.implicits._
    val batch = ops.toDF("doc_id", "seq", "text", "deleted", "lang", "source")
      .withColumn("rels", array(
        struct(lit("IN_LANG").as("rel"), col("lang").as("dst")),
        struct(lit("FROM_SOURCE").as("rel"), col("source").as("dst"))))
    IncrementalIndex.writeSegment(batch, f"$root/seg_$segNo%09d", "doc_id", "text", "seq",
      relationsCol = Some("rels"))
  }

  /** Segment 0 of a fresh LSM root holds every document; the
    * StreamEngine serves it with the input documents as its doc store. */
  def stream(spark: SparkSession, root: String, corpus: Corpus,
      warm: Seq[Request], tag: Tagger): (StreamEngine, Double) = {
    val (e, s) = timed {
      tag("segment_0")(writeSegment(spark, root, 0,
        corpus.docs.map(d => Op(d.id, 0L, d.text, deleted = false, d.lang, d.source))))
      val e = Engine.forStream(spark, root,
        Corpus.withServingColumns(corpus.documents(spark)),
        docId = "doc_id", textCol = "text")
      tag("warmup")(warm.foreach { r =>
        Request.exec(r.build(e)); graft.Caches.releaseAll()
      })
      e
    }
    (e, s)
  }
}
