package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.api.StreamEngine
import graft.streaming.IncrementalIndex

/** The stream_ingest loop, on one thread. Segments land
  * `readsBetween` steady reads apart. A segment holds seeded upserts
  * (each a fixture document's text plus the segment's marker token)
  * and tombstones, and is followed by the freshness read for its
  * marker. Every `compactEvery`-th landing is followed by one compaction
  * pass (its merge policy folds once `compactEvery` segments have
  * landed). `read` issues and records a read request. */
final class StreamLoop(spark: SparkSession, a: Main.Args, corpus: Corpus,
    e: StreamEngine, root: String, tracer: Option[Tracer], checks: Checks,
    read: (Request, Boolean, Map[String, Any]) => Main.Sample) {

  private val rnd = new scala.util.Random(a.seed * 31L + 17L)
  private val gen = new RequestGen(corpus, Main.Mixes("stream_ingest"),
    a.seed * 1000003L + 1L)
  private val live = ArrayBuffer.from(corpus.docs.map(_.id))
  private val deleted = scala.collection.mutable.Set[Long]()
  private var seg = 0

  val writeMs = ArrayBuffer[Double]()
  val writeDocs = ArrayBuffer[Long]()
  val bytesPerDoc = ArrayBuffer[Double]()
  val freshnessMs = ArrayBuffer[Double]()
  val compactMs = ArrayBuffer[Double]()
  val liveSegments = ArrayBuffer[Int]()
  var writeFailures = 0

  private def spanned[A](traced: Boolean, name: String, attrs: Map[String, Any])(body: => A): A =
    tracer.filter(_ => traced).map(_.span(name, attrs)(body)).getOrElse(body)

  /** An upsert's text: a seeded fixture document's (not the marked last
    * one's), so segments keep the corpus' length and vocabulary. */
  private def text(): String = corpus.docs(rnd.nextInt(corpus.size - 1)).text

  private def reads(traced: Boolean): Unit =
    (1 to a.readsBetween).foreach(_ => read(gen.next(), traced, Map.empty))

  /** Run one window: reads, then landings with reads after each, until
    * `seconds` have passed and a compaction pass has run; so every window
    * holds compaction and the reads against the compacted root. Returns
    * the wall time in ms. */
  def run(seconds: Double, traced: Boolean): Double = {
    val start = Clock.ms()
    val deadline = start + seconds * 1000
    reads(traced)
    var compacted = false
    while (!compacted || Clock.ms() < deadline) {
      compacted = land(traced)
      reads(traced)
    }
    Clock.ms() - start
  }

  /** Land the next segment; returns whether a compaction pass followed. */
  private def land(traced: Boolean): Boolean = {
    seg += 1
    val marker = s"mk${seg}s${math.abs(a.seed)}"
    val picked = rnd.shuffle(live.indices.toList).take(a.segmentUpserts + a.segmentTombstones)
      .map(live(_))
    val (ups, tombs) = picked.splitAt(a.segmentUpserts)
    val docOf = corpus.docs
    val ops = ups.map { id =>
      val d = docOf(id.toInt)
      Setup.Op(id, seg.toLong, s"${text()} $marker", deleted = false, d.lang, d.source)
    } ++ tombs.map { id =>
      val d = docOf(id.toInt)
      Setup.Op(id, seg.toLong, "", deleted = true, d.lang, d.source)
    }
    val t0 = Clock.ms()
    val ok = try {
      spanned(traced, "write_segment", Map("segment" -> seg, "docs" -> ops.size))(
        Setup.writeSegment(spark, root, seg, ops))
      true
    } catch { case scala.util.control.NonFatal(_) => writeFailures += 1; false }
    writeMs += Clock.ms() - t0
    writeDocs += ops.size.toLong
    live --= tombs
    deleted ++= tombs
    if (ok) {
      bytesPerDoc += Disk.bytes(f"$root/seg_$seg%09d").toDouble / ops.size
      val s = read(Request.markerFind(marker, a.segmentUpserts + 10), traced,
        Map("first_read" -> true, "segment" -> seg))
      freshnessMs += s.startMs + s.ms - t0
      val got = s.first.map(_.getLong(0)).toSet
      checks(s"segment $seg marker read returns exactly its upserts", s.ok && got == ups.toSet,
        s"got ${got.toSeq.sorted.take(8)}… want ${ups.sorted.take(8)}…")
      checks(s"segment $seg marker read returns no tombstoned id",
        s.ok && got.intersect(deleted).isEmpty, s"tombstoned ids served: ${got.intersect(deleted)}")
      liveSegments += IncrementalIndex.liveSegments(spark, root).size
    }
    val compact = seg % a.compactEvery == 0
    if (compact) {
      val c0 = Clock.ms()
      spanned(traced, "compact", Map("segment" -> seg))(
        e.compact(IncrementalIndex.LogMergeSettings(minSegments = a.compactEvery)))
      compactMs += Clock.ms() - c0
    }
    compact
  }

  def record: Map[String, Any] = Map(
    "write_segment_ms" -> writeMs.toSeq, "write_docs" -> writeDocs.toSeq,
    "bytes_written_per_doc" -> bytesPerDoc.toSeq, "freshness_ms" -> freshnessMs.toSeq,
    "compact_ms" -> compactMs.toSeq, "live_segments" -> liveSegments.toSeq,
    "write_failures" -> writeFailures, "segments" -> seg)
}
