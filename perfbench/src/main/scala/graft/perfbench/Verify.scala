package graft.perfbench

import org.apache.spark.sql.SparkSession

import graft.api.{Engine, QueryParser}
import graft.functions.Bm25

/** Output checks run after the timed region, so they cost no measured
  * time. Every mismatch is recorded as a failed operation. */
object Verify {

  /** How many find_keyword responses the retrieval check re-derives. */
  val KeywordChecks = 4

  def apply(spark: SparkSession, workload: String, e: Engine,
      corpus: Corpus, samples: Seq[Main.Sample], seed: Long, checks: Checks): Unit =
    workload match {
      case "retrieval" => keyword(spark, corpus, samples, seed, checks)
      case "browse" => serialReplay(e, samples, checks)
      case _ => ()
    }

  /** A seeded sample of find_keyword responses must equal Bm25.search
    * over the raw input documents, on ids and 4-dp scores, in order. */
  def keyword(spark: SparkSession, corpus: Corpus,
      samples: Seq[Main.Sample], seed: Long, checks: Checks): Unit = {
    val docs = corpus.documents(spark)
    val fk = samples.filter(s => s.kind == "find_keyword" && s.ok)
      .groupBy(_.key).values.map(_.head).toSeq.sortBy(_.key)
    val picked = new scala.util.Random(seed).shuffle(fk).take(KeywordChecks)
    picked.foreach { s =>
      val q = s.key.stripPrefix("fk|")
      val want = Bm25.search(docs, "doc_id", "text", QueryParser.parse(q).terms,
        Request.TopK).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val got = s.first.map(r => (r.getLong(0), r.getDouble(1)))
      checks(s"find_keyword '$q' equals Bm25.search over the raw documents",
        got == want, s"got ${got.take(5)}… want ${want.take(5)}…")
    }
  }

  /** Every browse response taken under concurrent clients must equal a
    * serial replay of the same request on the same engine. */
  def serialReplay(e: Engine, samples: Seq[Main.Sample],
      checks: Checks): Unit =
    samples.filter(_.ok).groupBy(_.key).toSeq.sortBy(_._1).foreach { case (key, ss) =>
      val r = ss.head.req
      val serial = try Request.exec(r.build(e)).digest
        finally graft.Caches.releaseAll()
      ss.foreach(s => checks(s"${s.kind} '$key' sent ${ss.size} times concurrently",
        s.digest == serial, s"client ${s.client} digest ${s.digest} != serial $serial"))
    }
}
