package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.{Engine, GraphSearch, QueryParser}
import graft.functions.Bm25
import graft.operators.{Facets, RankFusion, VectorSearch}
import graft.sources.IndexStore

/** The traced run's layer probes: after a sampled request, re-run each
  * layer's public function on the request's own inputs, each as a span
  * beside the request (`attrs.request` names it). The spans' wall time
  * and jobs are the per-layer numbers. */
object Probes {
  private def top(df: DataFrame): Seq[Row] =
    df.orderBy(col("score").desc, col("doc_id").asc).limit(Request.TopK).collect().toSeq

  def run(spark: SparkSession, t: Tracer, e: Engine, root: String, r: Request,
      requestSpan: String): Unit = {
    val attrs = Map("request" -> requestSpan, "kind" -> r.kind)
    def probe[A](layer: String)(body: => A): A = t.span(s"probe.$layer", attrs)(body)
    val terms = QueryParser.parse(r.terms).terms
    val kw = if (terms.isEmpty) None else Some(probe("bm25") {
      val ix = e.index
      top(Bm25.scoreFromPostings(ix.postings, ix.docLengths, "doc_id", terms,
        cachedStats = ix.docStats(), atRestDfCol = Some("df")))
    })
    val sem = r.vector.map { qv =>
      probe("ann") {
        val vix = e.vectorIndex("default")
        val window = math.max(Request.TopK, RankFusion.MaxWindow)
        VectorSearch.ivfPqSearchAtRest(vix.codes, vix.raw, "doc_id", "code", "embedding",
          vix.centroids, vix.codebook, vix.m, qv, k = window,
          nprobe = math.max(1, vix.centroids.size / 2), rerank = 2 * window,
          similarity = vix.similarity).collect().toSeq
      }
    }
    for (k <- kw; s <- sem) probe("fusion") {
      import spark.implicits._
      def frame(rows: Seq[Row]) =
        rows.map(x => (x.getLong(0), x.getDouble(1))).toDF("doc_id", "score")
      RankFusion.rrf(Seq(("keyword", frame(k), 1.0), ("semantic", frame(s), 1.0)),
        "doc_id", "score").collect()
    }
    r.facetPrefix.foreach { p =>
      probe("facets")(Facets.catalogFacetsAtRest(
        IndexStore.readParquetMemo(spark, s"$root/catalog_facet_counts"),
        Seq((p, None))).collect())
    }
    r.path.foreach { q =>
      probe("graph")(GraphSearch.search(e.edgeTable(r.lang.nonEmpty), q, Request.TopK,
        allowedResources = r.lang.map(l => e.allowedResources(Request.langFilter(l))))
        .collect())
    }
  }
}
