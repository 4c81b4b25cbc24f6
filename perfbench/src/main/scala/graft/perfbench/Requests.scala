package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row}

import graft.api.{Engine, Find, Search}
import graft.api.GraphSearch.{NodeMatch, PathQuery}
import graft.operators.{Facets, FilterExpr}

/** One request as a caller would issue it: `build` is the Engine call
  * that returns the lazy response frames, `exec` collects them. `key`
  * identifies the request's inputs (equal keys = identical requests);
  * the remaining fields are those inputs, for the traced run's layer
  * probes. */
final case class Request(kind: String, key: String, build: Engine => Seq[DataFrame],
    terms: String = "",
    vector: Option[Seq[Float]] = None,
    lang: Option[String] = None,
    path: Option[PathQuery] = None,
    facetPrefix: Option[String] = None)

object Request {
  val TopK = 20

  /** The collected response: rows of every frame, in frame order. */
  final case class Response(rows: Seq[Seq[Row]]) {
    def resultRows: Long = rows.map(_.size.toLong).sum
    def digest: String = {
      val md = java.security.MessageDigest.getInstance("SHA-1")
      rows.foreach { f =>
        f.foreach(r => md.update((r.toString + "\n").getBytes("UTF-8")))
        md.update("|".getBytes("UTF-8"))
      }
      md.digest().take(8).map(b => f"$b%02x").mkString
    }
  }

  def exec(frames: Seq[DataFrame]): Response =
    Response(frames.map(_.collect().toSeq))

  private def lists(r: Search.SearchResponse): Seq[DataFrame] =
    Seq(r.documents, r.paragraphs, r.facets, r.sentences).flatten

  def langFilter(lang: String): FilterExpr = FilterExpr.Facet(s"/s/p/$lang")

  def findKeyword(q: String): Request =
    Request("find_keyword", s"fk|$q",
      e => Seq(e.find(Find.FindRequest(query = q, topK = TopK))), terms = q)

  def findHybrid(q: String, vi: Int, v: Seq[Float]): Request =
    Request("find_hybrid", s"fh|$q|$vi",
      e => Seq(e.find(Find.FindRequest(query = q, queryVector = Some(v), topK = TopK))),
      terms = q, vector = Some(v))

  def findHybridFiltered(q: String, vi: Int, v: Seq[Float], lang: String): Request =
    Request("find_hybrid_filtered", s"fhf|$q|$vi|$lang",
      e => Seq(e.find(Find.FindRequest(query = q, queryVector = Some(v),
        filter = Some(langFilter(lang)), topK = TopK))),
      terms = q, vector = Some(v), lang = Some(lang))

  def findParagraphs(q: String): Request =
    Request("find_paragraphs", s"fp|$q",
      e => Seq(e.findParagraphs(Find.FindRequest(query = q, paragraphBm25 = true,
        topK = TopK))), terms = q)

  def search(q: String): Request =
    Request("search", s"s|$q",
      e => lists(e.search(Search.SearchRequest(query = q, faceted = Seq("/s/p"),
        topK = TopK))), terms = q)

  def suggest(prefix: String): Request =
    Request("suggest", s"sg|$prefix", e => Seq(e.suggest(prefix, topK = 10)))

  def catalog(prefix: String, lang: String): Request =
    Request("catalog", s"c|$prefix|$lang",
      e => lists(e.catalog("title",
        titleQuery = Some((Facets.CatalogMatch.StartsWith, prefix)),
        filter = Some(langFilter(lang)), topK = TopK,
        sort = Some(("created", false)))))

  def catalogFacets(prefix: String): Request =
    Request("catalog_facets", s"cf|$prefix",
      e => Seq(e.catalogFacets(Seq((prefix, None)))), facetPrefix = Some(prefix))

  def graph(q: PathQuery, key: String): Request =
    Request("graph", s"g|$key", e => Seq(e.graph(q, topK = TopK)), path = Some(q))

  def graphFiltered(source: String, lang: String): Request =
    Request("graph_filtered", s"gf|$source|$lang",
      e => Seq(e.graph(sourcePath(source), topK = TopK,
        filter = Some(langFilter(lang)))),
      lang = Some(lang), path = Some(sourcePath(source)))

  def sourcePath(source: String): PathQuery =
    PathQuery.Path(rel = Some("FROM_SOURCE"), dst = NodeMatch.Exact(source))

  def streamFind(q: String): Request =
    Request("stream_find", s"sf|$q",
      e => Seq(e.find(Find.FindRequest(query = q, topK = TopK))))

  /** The freshness read for a segment's marker token: a find whose
    * page is wide enough to hold every upsert of the segment. It is the
    * first read after a landing, so it pays the serving rebind; its own
    * kind keeps it out of the steady reads' latency. */
  def markerFind(marker: String, width: Int): Request =
    Request("stream_marker", s"sm|$marker",
      e => Seq(e.find(Find.FindRequest(query = marker, topK = width))))

  def streamSuggest(prefix: String): Request =
    Request("stream_suggest", s"ss|$prefix", e => Seq(e.suggest(prefix, topK = 10)))
}

/** A seeded request stream. Kinds follow the weighted mix by smooth
  * weighted round-robin, so every prefix of the stream (a short run sees
  * only a few dozen requests) holds each kind in proportion. Query terms
  * are Zipf-skewed from the corpus vocabulary; query vectors are rows of
  * the corpus embeddings; filters name one of [[Corpus.filterLangs]]. */
final class RequestGen(corpus: Corpus, mix: Seq[(String, Double)], seed: Long) {
  private val rnd = new scala.util.Random(seed)
  private val credit = Array.fill(mix.size)(0.0)
  private val total = mix.map(_._2).sum

  private def word(): String = corpus.vocabulary(corpus.wordZipf.sample(rnd))
  private def terms(): String = Seq.fill(1 + rnd.nextInt(3))(word()).distinct.mkString(" ")
  private def prefix(): String = { val w = word(); w.take(2 + rnd.nextInt(2)) }
  private def lang(): String = corpus.filterLangs(rnd.nextInt(corpus.filterLangs.size))
  private def source(): String = corpus.sources(rnd.nextInt(corpus.sources.size))

  def next(): Request = {
    mix.indices.foreach(i => credit(i) += mix(i)._2)
    val i = credit.indices.maxBy(credit(_))
    credit(i) -= total
    request(mix(i)._1)
  }

  def request(kind: String): Request = kind match {
    case "find_keyword" => Request.findKeyword(terms())
    case "find_hybrid" =>
      val vi = rnd.nextInt(corpus.size)
      Request.findHybrid(terms(), vi, corpus.vectors(vi).toSeq)
    case "find_hybrid_filtered" =>
      val vi = rnd.nextInt(corpus.size)
      Request.findHybridFiltered(terms(), vi, corpus.vectors(vi).toSeq, lang())
    case "find_paragraphs" => Request.findParagraphs(terms())
    case "search" => Request.search(terms())
    case "suggest" => Request.suggest(prefix())
    case "catalog" => Request.catalog(prefix(), lang())
    case "catalog_facets" => Request.catalogFacets(if (rnd.nextBoolean()) "/s/p" else "/u/s")
    case "graph" =>
      if (rnd.nextBoolean()) {
        val s = source(); Request.graph(Request.sourcePath(s), s"src|$s")
      } else {
        val d = s"doc-${rnd.nextInt(corpus.size)}"
        Request.graph(PathQuery.Path(src = NodeMatch.Exact(d)), s"doc|$d")
      }
    case "graph_filtered" => Request.graphFiltered(source(), lang())
    case "stream_find" => Request.streamFind(terms())
    case "stream_suggest" => Request.streamSuggest(prefix())
  }
}
