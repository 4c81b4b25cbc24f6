package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CompletionException, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ListenerBusBridge
import org.apache.spark.storage.StorageLevel

import graft.sources.{Ingest, IndexStore}
import graft.streaming.IncrementalIndex

/** The ingest paths build independent index tables as concurrent
  * Spark jobs ([[Ingest.inParallel]]). Pinned here: the tables and the
  * job counts equal the serial build's ([[IngestFixture]]), every job
  * carries the caller's job group, branch caches drain on the caller's
  * arena, and a failing branch surfaces as itself only after its
  * siblings have finished — for compaction, before any commit.
  */
class ConcurrentIngestSpec extends SparkSpec {
  import spark.implicits._

  private def sc = spark.sparkContext

  private def poolThreadsAlive: Seq[Thread] =
    Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(t => t.getName == "graft-ingest" && t.isAlive)

  /** Run `body` under job group "g", returning each job's group. */
  private def groupsOfJobs(body: => Unit): Seq[String] = {
    val groups = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        groups.add(Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("<none>"))
        ()
      }
    }
    sc.setJobGroup("g", "concurrent ingest", interruptOnCancel = false)
    sc.addSparkListener(listener)
    try body
    finally {
      ListenerBusBridge.drain(sc)
      sc.removeSparkListener(listener)
      sc.clearJobGroup()
    }
    groups.asScala.toSeq
  }

  private lazy val built: (String, Seq[String], Seq[String]) = {
    val root = IndexStore.deleteOnExit(
      Files.createTempDirectory("graft-concurrent-ingest-").toString)
    var jobs = Seq.empty[String]
    val groups = groupsOfJobs { jobs = IngestFixture.build(spark, root) }
    (root, jobs, groups)
  }

  test("row identity: every table of every ingest path equals the serial build's") {
    val (root, _, _) = built
    val want = IngestFixture.expected.filterNot(_.startsWith("jobs\t"))
    val got = IngestFixture.digests(spark, root)
    assert(got.map(_.split("\t").head) == want.map(_.split("\t").head),
      "the set of table directories and files changed")
    val diff = got.zip(want).filter { case (g, w) => g != w }
    assert(diff.isEmpty, diff.map { case (g, w) => s"\n got  $g\n want $w" }.mkString)
  }

  test("job counts: every ingest path starts exactly the serial build's jobs") {
    val (_, jobs, _) = built
    assert(jobs == IngestFixture.expected.filter(_.startsWith("jobs\t")))
  }

  test("context: every job of every ingest path carries the caller's job group") {
    val (_, jobs, groups) = built
    assert(groups.size >= jobs.map(_.split("\t")(2).toInt).sum)
    assert(groups.forall(_ == "g"), groups.filterNot(_ == "g").distinct)
    assert(poolThreadsAlive.isEmpty)
  }

  test("inParallel: a Caches registration made in a branch drains on the caller's releaseAll") {
    val df = spark.range(50).toDF("x").where(col("x") % 7 === 0)
    Ingest.inParallel(spark)(() => { Caches.cache(df).count(); () }, () => ())
    assert(df.storageLevel != StorageLevel.NONE)
    Caches.releaseAll()
    assert(df.storageLevel == StorageLevel.NONE,
      "the branch's registration must land in the caller's arena")
  }

  test("inParallel: a failing branch throws itself, after every sibling finished, no thread left") {
    val boom = new IllegalStateException("boom")
    val finished = new AtomicInteger
    val thrown = intercept[IllegalStateException] {
      Ingest.inParallel(spark)(
        () => { Thread.sleep(300); spark.range(10).count(); finished.incrementAndGet(); () },
        () => throw boom,
        () => { spark.range(20).count(); finished.incrementAndGet(); () })
    }
    assert(thrown eq boom)
    assert(finished.get == 2, "the call returned before its siblings finished")
    assert(poolThreadsAlive.isEmpty)
  }

  test("buildIndex: a failing table write surfaces unwrapped once every sibling write has finished") {
    val out = IndexStore.deleteOnExit(Files.createTempDirectory("graft-failing-build-").toString)
    // only the language-profile table reads `lang`, so only its branch fails
    val badLang = udf((t: String) =>
      if (t != null) throw new IllegalStateException("bad language") else "x")
    // read back from parquet: over a local relation the optimizer
    // would evaluate the projection, and so fail every branch
    val src = s"$out-src"
    Seq((1L, "alpha beta gamma delta"), (2L, "beta gamma epsilon zeta"))
      .toDF("doc_id", "text").write.parquet(src)
    IndexStore.deleteOnExit(src)
    val docs = spark.read.parquet(src).withColumn("lang", badLang(col("text")))
    val started = new AtomicInteger
    val ended = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { started.incrementAndGet(); () }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = { ended.incrementAndGet(); () }
    }
    sc.addSparkListener(listener)
    val thrown =
      try intercept[Exception](Ingest.buildIndex(docs, "doc_id", "text", out,
        withVectors = false, langCol = Some("lang")))
      finally { ListenerBusBridge.drain(sc); sc.removeSparkListener(listener) }
    assert(!thrown.isInstanceOf[CompletionException], thrown)
    assert(Iterator.iterate[Throwable](thrown)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("bad language")), thrown)
    assert(started.get == ended.get, "a Spark job was still running after the throw")
    assert(poolThreadsAlive.isEmpty)
    val complete = Seq("paragraphs", "par_postings", "par_doclengths", "par_termfreq",
      "par_deletes", "fields", "field_paragraphs", "fieldpar_postings",
      "fieldpar_doclengths", "postings", "termfreq", "deletes", "doclengths",
      "positions", "bigrams", "bigramfreq", "shingles", "signatures", "sigbands")
      .filterNot(t => Files.exists(Paths.get(out, t, "_SUCCESS")))
    assert(complete.isEmpty, s"sibling tables not written: $complete")
    assert(!Files.exists(Paths.get(out, "bm25_stats")) &&
      !Files.exists(Paths.get(out, "text_meta.json")),
      "the steps after the concurrent writes must not run once a branch failed")
  }

  test("compaction: a failed table write commits nothing, and a retry of the pass folds") {
    val root = IndexStore.deleteOnExit(
      Files.createTempDirectory("graft-failing-compact-").toString)
    def seg(n: Int, rows: Seq[(Long, Long, String, Boolean)]): Unit =
      IncrementalIndex.writeSegment(rows.toDF("rid", "seq", "text", "deleted"),
        f"$root/seg_$n%09d", "rid", "text", "seq")
    seg(0, Seq((1L, 0L, "red green blue", false), (2L, 0L, "green blue", false),
      (3L, 0L, "blue violet", false)))
    seg(1, Seq((2L, 1L, "green yellow", false), (3L, 1L, "", true)))
    val before = IncrementalIndex.liveSegments(spark, root)
    // one table of one input unreadable: only the positions fold fails
    val positions = Paths.get(root, "seg_000000001", "positions")
    val aside = Paths.get(root, "positions.aside")
    Files.move(positions, aside)
    Files.write(positions, "not parquet".getBytes("UTF-8"))
    val settings = IncrementalIndex.LogMergeSettings(minSegments = 2)
    val thrown = intercept[Exception](
      IncrementalIndex.compactSegmentsTiered(spark, root, settings = settings))
    assert(!thrown.isInstanceOf[CompletionException], thrown)
    assert(poolThreadsAlive.isEmpty)
    assert(IncrementalIndex.liveSegments(spark, root) == before, "a failed pass renamed")
    val manifests = Files.walk(Paths.get(root)).iterator().asScala
      .filter(_.getFileName.toString == "subsumed.txt").toList
    assert(manifests.isEmpty, s"a failed pass wrote $manifests")
    Files.delete(positions)
    Files.move(aside, positions)
    assert(IncrementalIndex.compactSegmentsTiered(spark, root, settings = settings) ==
      Seq(Seq("seg_000000000", "seg_000000001")))
    assert(IncrementalIndex.liveSegments(spark, root).map(Paths.get(_).getFileName.toString) ==
      Seq("seg_000000001c"))
    assert(IncrementalIndex.segmentPositions(spark, root).select("rid").distinct()
      .as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }
}
