package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Incremental indexing — the Structured Streaming re-expression of the
  * reference's ingest log.
  *
  * Reference semantics (`nidx/src/indexer.rs:121-298`,
  * `ingest/consumer/consumer.py`): an at-least-once ordered op log per
  * shard (`Seq`); later messages for the same resource supersede earlier
  * ones; deletions are tombstones applied at read/merge time. Spark
  * form: `readStream → foreachBatch(merge)` where the merge keeps the
  * max-seq row per key and drops tombstones — idempotent under replay,
  * which is exactly what at-least-once delivery needs. On a real
  * deployment the merge target is a Delta table (`MERGE INTO` with
  * copy-on-write); here the same logic runs against plain parquet so the
  * pipeline is testable with zero extra dependencies.
  */
object IncrementalIndex {

  /** Latest-wins merge: one row per key with the highest `seqCol`,
    * tombstones (`deleted = true`) removed. Deterministic tiebreak on
    * seq only — the log guarantees unique seq per key. Composite keys
    * support the conversation-split case: keyed by (field, split),
    * appending a split adds a row, re-sending one replaces it
    * (`ingest/orm/brain_v2.py:266-307` append_splits).
    */
  def mergeLatest(updates: DataFrame, keyCols: Seq[String], seqCol: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(seqCol).desc)
    updates.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
      .where(!col("deleted"))
  }

  def mergeLatest(updates: DataFrame, keyCol: String, seqCol: String): DataFrame =
    mergeLatest(updates, Seq(keyCol), seqCol)

  /** Start the incremental index maintenance query: the merge target is
    * a BUCKETED table (partition column `__bucket = pmod(xxhash64(key),
    * numBuckets)`), and each micro-batch rewrites ONLY the buckets its
    * keys hash into — read the touched buckets (parquet partition
    * pruning), merge with the batch, dynamic-partition-overwrite the
    * touched directories. Cost per micro-batch is proportional to
    * |batch| × (table/numBuckets), never to the whole table — the plain-
    * parquet analog of a Delta `MERGE INTO`'s matched-file rewrite
    * (which replaces this body on deployments with Delta available).
    */
  def start(
      updates: DataFrame,
      tablePath: String,
      checkpointPath: String,
      keyCol: String = "rid",
      seqCol: String = "seq",
      numBuckets: Int = 32): StreamingQuery =
    updates.writeStream
      .option("checkpointLocation", checkpointPath)
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        mergeBatchBucketed(batch, tablePath, keyCol, seqCol, numBuckets)
      }
      .start()

  /** One micro-batch of the bucketed merge (the [[start]] foreachBatch
    * body, exposed for tests): read ONLY the buckets the batch touches,
    * keep the newest row per key — TOMBSTONES INCLUDED, the same
    * delete semantics as the segment path's manifests: an at-least-once
    * replay of an op OLDER than a delete must find the tombstone row
    * and lose, not resurrect the doc — and overwrite ONLY those bucket
    * directories. Serving reads go through [[bucketedTable]], which
    * filters the tombstones out.
    */
  def mergeBatchBucketed(batch: DataFrame, tablePath: String,
      keyCol: String, seqCol: String, numBuckets: Int): Unit = {
    val spark = batch.sparkSession
    val b = batch.withColumn("__bucket",
      pmod(xxhash64(col(keyCol)), lit(numBuckets.toLong)))
    val touched = b.select("__bucket").distinct()
      .collect().map(_.getLong(0)) // driver-scale: ≤ numBuckets values
    // explicit existence check, NOT a catch-all: a transient read error
    // mapped to "table absent" would overwrite the touched buckets with
    // batch-only rows (losing merged rows AND the replay-protection
    // tombstones); any real failure must propagate so the batch retries
    val tPath = new org.apache.hadoop.fs.Path(tablePath)
    val tableExists = tPath
      .getFileSystem(spark.sparkContext.hadoopConfiguration).exists(tPath)
    val existing =
      if (tableExists) Some(spark.read.parquet(tablePath)) else None
    val all = existing match {
      case Some(e) => // touched-bucket predicate = partition pruning
        e.where(col("__bucket").isInCollection(touched))
          .unionByName(b.select(e.columns.map(col).toSeq: _*))
      case None => b
    }
    // tombstone rows persist for replay protection, but only their
    // (key, seq, deleted, bucket) matter — null the payload columns so
    // a long-running churny stream doesn't accumulate dead full-width
    // rows (the reference keeps tombstones as manifest entries, not
    // document copies)
    val keep = Set(keyCol, seqCol, "deleted", "__bucket")
    val latest = latestDocRows(all, keyCol, seqCol)
    val merged = latest.select(latest.columns.toSeq.map { c =>
      if (keep(c)) col(c)
      else when(col("deleted"), lit(null)).otherwise(col(c)).as(c)
    }: _*).cache()
    try {
      merged.count() // materialize before overwriting the input path
      // per-write option — scoped to this writer, so no race with other
      // writers on the same session expecting static overwrite
      merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__bucket").parquet(tablePath)
    } finally merged.unpersist()
    ()
  }

  /** Serve the bucketed merge table: the at-rest rows are newest-per-key
    * with tombstones kept ([[mergeBatchBucketed]]); reads filter them
    * here — the same serve-time delete application as [[segmentTables]]
    * does via its manifests.
    */
  def bucketedTable(spark: SparkSession, tablePath: String): DataFrame =
    spark.read.parquet(tablePath).where(!col("deleted"))

  /** LSM-style incremental INDEX maintenance — the reference indexer's
    * actual model (`nidx/src/indexer.rs:254-298`: each op batch becomes
    * a NEW SEGMENT; searchers merge segments applying deletions; a
    * scheduler compacts). Each micro-batch writes one immutable segment
    * directory: a doc manifest (id, seq, deleted) plus postings and
    * doc-lengths FOR THE BATCH'S LIVE DOCS ONLY — ingest cost is
    * proportional to the batch, nothing existing is rewritten.
    * [[segmentTables]] serves the union with latest-wins per doc;
    * [[compactSegments]] is the merge scheduler.
    */
  /** Pre-trained ANN model a segment writer reuses for its vector
    * codes: the reference trains per-KB quantization once and every new
    * segment encodes against it (`nidx_vector/src/indexer.rs` reuses
    * the config's quantization); the streaming path mirrors that with
    * the batch-trained IVF centroids + PQ codebook
    * ([[graft.sources.Ingest.buildVectorIndex]]'s model tables).
    */
  final case class SegmentVectorSpec(
      vecCol: String,
      centroids: Seq[(Int, Seq[Float])],
      codebook: Seq[(Int, Seq[Float])],
      m: Int)

  /** Auto-compaction cadence for [[startIndexSegments]] — the streamed
    * analog of the reference's scheduler loop (`nidx/src/scheduler.rs:
    * 167-189` runs `schedule_merges` every 15 s against the ack
    * floor): every `everyBatches` committed micro-batches the stream
    * runs one tiered pass ([[compactSegmentsTiered]]) under
    * `settings`, so a long-running root folds its small-segment tail
    * automatically instead of accumulating segments until an operator
    * remembers to compact. Cadence is in BATCHES, not seconds, because
    * a micro-batch is this pipeline's unit of new data — an idle
    * stream writes nothing and so (correctly) never compacts.
    *
    * `maxLiveSegments` is the STATE-WATCHING trigger the cadence alone
    * lacks (the reference's scheduler reacts to the segment listing it
    * reads each tick, not to a counter): when the live-segment count
    * passes the bound right after a batch lands, a tiered pass runs
    * immediately even mid-cadence — a burst of tiny batches can't
    * stack segments toward the measured 64-segment serving penalty
    * while the cadence counter idles. The count check is one driver FS
    * listing per batch; the pass folds what the policy allows, so a
    * root of few LARGE segments may legitimately stay above the bound
    * (the bound triggers work, it does not guarantee a ceiling). */
  final case class AutoCompact(
      everyBatches: Int = 8,
      settings: LogMergeSettings = LogMergeSettings(),
      maxLiveSegments: Option[Int] = None) {
    require(everyBatches >= 1, "everyBatches must be >= 1")
    require(maxLiveSegments.forall(_ >= 2),
      "maxLiveSegments must be >= 2 — a bound of 1 would trigger a " +
        "(no-op) pass after every batch")
  }

  def startIndexSegments(
      updates: DataFrame,
      indexRoot: String,
      checkpointPath: String,
      idCol: String = "rid",
      textCol: String = "text",
      seqCol: String = "seq",
      vectors: Option[SegmentVectorSpec] = None,
      vectorSets: Map[String, SegmentVectorSpec] = Map.empty,
      shingleSize: Int = 3,
      numHashes: Int = 8,
      relationsCol: Option[String] = None,
      messagesCol: Option[String] = None,
      autoCompact: Option[AutoCompact] = None): StreamingQuery = {
    // misconfiguration fails at stream START, not after every batch has
    // already written its text-index tables
    require(vectors.isEmpty || !vectorSets.contains("default"),
      "pass the default vectorset through EITHER `vectors` OR " +
        "vectorSets(\"default\"), not both — the specs would conflict")
    updates.writeStream
      .option("checkpointLocation", checkpointPath)
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        // Batch-id naming is what makes at-least-once batch REPLAYS
        // idempotent: a retried batch overwrites its own segment, and a
        // batch replayed AFTER compaction folded it rewrites a segment
        // that stays masked by the covering subsumed.txt and is deleted
        // at the next compaction start — harmless by construction (the
        // carry-forward keeps the mask alive across further
        // compactions). OPERATIONAL CONSTRAINT this naming implies: an
        // index root is bound to ONE checkpoint lineage — a fresh
        // checkpoint against an old root restarts batch ids at 0, so
        // its segments reuse already-subsumed names and are masked and
        // deleted exactly like replays. A new stream needs a new root.
        writeSegment(batch, f"$indexRoot/seg_$bid%09d", idCol, textCol, seqCol,
          vectors, vectorSets, shingleSize, numHashes, relationsCol,
          messagesCol)
        // the scheduler analog runs INSIDE foreachBatch, after the
        // segment lands: batch `bid` has no commit file yet, so the
        // live committedBatchId reading (≤ bid-1) keeps this batch's
        // subsumed-manifest entry replayable — a crash between this
        // fold and the batch commit replays bid into a segment the
        // carried mask still covers
        autoCompact.foreach { ac =>
          val cadenceDue = (bid + 1) % ac.everyBatches == 0
          // segment-pressure trigger: fires between cadence ticks when
          // the listing (which includes the segment just written)
          // passes the bound — checked only when cadence didn't
          // already decide, so the common path stays one write + one
          // modulo per batch
          val pressureDue = !cadenceDue && ac.maxLiveSegments.exists(
            _ < liveSegments(batch.sparkSession, indexRoot).size)
          if (cadenceDue || pressureDue)
            compactSegmentsTiered(batch.sparkSession, indexRoot, idCol,
              seqCol, ac.settings,
              committedBatchId(batch.sparkSession, checkpointPath))
        }
      }
      .start()
  }

  /** Write one immutable index segment from an update batch:
    * latest-wins WITHIN the batch, tombstones recorded in the manifest,
    * postings/doclengths/paragraphs built only for the batch's live
    * docs (each row carries its doc's seq so cross-segment latest-wins
    * is a semi-join) — the same index surface [[graft.sources.Ingest.buildIndex]]
    * materializes in batch, so the streamed corpus serves the same
    * query APIs. With a [[SegmentVectorSpec]], the segment also emits
    * the ANN serving pair: `codes` (id, seq, code, centroid_id —
    * partitioned by centroid so probes prune inside every segment) and
    * `vectors` (the raw rows the bounded exact rerank reads) — ingest
    * cost stays proportional to the batch, nothing existing rewrites.
    */
  def writeSegment(batch: DataFrame, segDir: String,
      idCol: String, textCol: String, seqCol: String,
      vectors: Option[SegmentVectorSpec] = None,
      vectorSets: Map[String, SegmentVectorSpec] = Map.empty,
      shingleSize: Int = 3,
      numHashes: Int = 8,
      relationsCol: Option[String] = None,
      messagesCol: Option[String] = None): Unit = {
    // reject conflicting specs BEFORE any table is written — a failing
    // batch must not pay the full text-index write on every retry
    require(vectors.isEmpty || !vectorSets.contains("default"),
      "pass the default vectorset through EITHER `vectors` OR " +
        "vectorSets(\"default\"), not both — the specs would conflict")
    val w = Window.partitionBy(col(idCol)).orderBy(col(seqCol).desc)
    val latest = batch.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn").cache()
    try {
      latest.select(col(idCol), col(seqCol), col("deleted"))
        .write.mode("overwrite").parquet(s"$segDir/docs")
      val live = latest.where(!col("deleted"))
      val seqOf = live.select(col(idCol), col(seqCol))
      // the docs write above filled `latest`'s cache; every sibling
      // table below reads only `live` off it, so they build as
      // concurrent jobs (Ingest.inParallel)
      graft.sources.Ingest.inParallel(batch.sparkSession)(
        // `df` is dropped: a PER-SEGMENT document frequency is not the
        // served population's (latest-wins across segments), and the
        // scorer's at-rest fast path keys on the column's presence —
        // streamed roots must keep the live aggregation
        () => graft.sources.Ingest.termPostings(live, idCol, textCol).drop("df")
          .join(seqOf, idCol)
          .write.mode("overwrite").parquet(s"$segDir/postings"),
        () => graft.functions.Bm25.docLengths(live, idCol, textCol)
          .join(seqOf, idCol)
          .write.mode("overwrite").parquet(s"$segDir/doclengths"),
        // positional postings — quoted-phrase queries over the streamed
        // corpus serve these exactly like the batch index's table
        () => graft.operators.PhraseSearch.positions(live, idCol, textCol)
          .join(seqOf, idCol)
          .write.mode("overwrite").parquet(s"$segDir/positions"),
        () => {
          val pars = graft.sources.Ingest.splitParagraphs(live, idCol, textCol)
            .join(seqOf, idCol).cache()
          try {
            // the paragraphs write fills `pars`' cache before the pair
            // below reads it concurrently
            pars.write.mode("overwrite").parquet(s"$segDir/paragraphs")
            // paragraph-level BM25 pair: rows re-keyed to their doc's
            // (id, seq) via the paragraph table so cross-segment
            // latest-wins stays the same winner semi-join;
            // repeated_in_field rides along like in the batch pair so the
            // streamed surface serves the same default search mode
            val parKeys = pars.select(col("paragraph_id"), col(idCol), col(seqCol),
              col("repeated_in_field"))
            graft.sources.Ingest.inParallel(batch.sparkSession)(
              () => graft.sources.Ingest.termPostings(pars, "paragraph_id", "p_text")
                .drop("df") // per-segment df ≠ served population, as above
                .join(parKeys, "paragraph_id")
                .write.mode("overwrite").parquet(s"$segDir/par_postings"),
              () => graft.functions.Bm25.docLengths(pars, "paragraph_id", "p_text")
                .join(parKeys, "paragraph_id")
                .write.mode("overwrite").parquet(s"$segDir/par_doclengths"))
          } finally pars.unpersist()
        },
        // MinHash signatures — near-dup requests over the streamed corpus
        // serve these like the batch table (a pure per-document function,
        // so per-segment rows union with the winner semi-join). The
        // parameters default to buildIndex's; a deployment diverging
        // there must diverge HERE too (the width self-describes and is
        // validated at serve time, the shingle size does not).
        () => graft.operators.Dedup.minHashSignatures(
            live.select(col(idCol), explode(graft.functions.TextFunctions.shingles(
              graft.functions.TextFunctions.tokens(col(textCol)), shingleSize)).as("shingle")),
            idCol, numHashes = numHashes)
          .join(seqOf, idCol)
          .write.mode("overwrite").parquet(s"$segDir/signatures"),
        // relation triplets — the message-carried relations of each live
        // doc (`noderesources.proto:201-209` IndexRelations ride the
        // broker message; the resource node is the source), exploded to
        // (id, seq, rel, dst) rows so cross-segment latest-wins is the
        // same winner semi-join as every sibling table. A doc update
        // REPLACES its relations: the old segment's rows lose the winner
        // join, exactly like its postings
        () => relationsCol.foreach { rc =>
          live.select(col(idCol), col(seqCol), explode(col(rc)).as("__r"))
            .select(col(idCol), col(seqCol),
              col("__r.rel").as("rel"), col("__r.dst").as("dst"))
            .write.mode("overwrite").parquet(s"$segDir/edges")
        },
        // MESSAGE-GRAIN conversation rows — the /augment and /ask
        // Conversational selectors read whole messages (the reference
        // reads maindb, `augmentor/fields.py:300-310`; chunked paragraph
        // tables cannot reconstruct them), so conversation-bearing
        // streams carry the messages alongside the index. Each message
        // is a struct (field_id, split, mtype, mtext); a doc update
        // REPLACES its conversation (the rows lose the winner semi-join
        // like its postings), a tombstone removes it
        () => messagesCol.foreach { mc =>
          live.select(col(idCol), col(seqCol), explode(col(mc)).as("__m"))
            .select(col(idCol), col(seqCol),
              col("__m.field_id").as("field_id"),
              col("__m.split").as("split"),
              col("__m.mtype").as("mtype"),
              col("__m.mtext").as("mtext"))
            .write.mode("overwrite").parquet(s"$segDir/messages")
        },
        () => {
          // one codes/raw pair per named vectorset (the Option form is the
          // single default set), vectorset-tagged and partitioned
          // (vectorset, centroid_id) like the batch per-set layout — a
          // named-set query prunes its vectorset directory inside every
          // segment
          val sets = vectorSets ++ vectors.map("default" -> _)
          // an all-tombstone batch has no vectors to encode — and a
          // PARTITIONED write of an empty frame produces a directory with
          // no schema-carrying files, which poisons every later read of
          // the root. Skip the pair entirely: the serving union filters on
          // per-segment `hasSub("codes")`, so an absent dir is the one
          // empty representation every reader already handles.
          if (sets.nonEmpty && !live.isEmpty) {
            import graft.operators.VectorSearch
            import batch.sparkSession.implicits._
            def forSet(vs: String, spec: SegmentVectorSpec) = {
              val vecs = live.select(col(idCol), col(seqCol),
                col(spec.vecCol).as("embedding"))
              val centDf = spec.centroids.toDF("cid", "cvec")
              val codes = VectorSearch
                .pqCodesBinary(vecs, idCol, "embedding", spec.codebook, spec.m)
                .join(VectorSearch.ivfAssign(vecs, idCol, "embedding",
                  centDf, "cid", "cvec").select(col(idCol), col("centroid_id")), idCol)
                .join(seqOf, idCol)
                .withColumn("vectorset", lit(vs))
              (vecs.withColumn("vectorset", lit(vs)), codes)
            }
            val pairs = sets.toSeq.sortBy(_._1).map { case (vs, spec) => forSet(vs, spec) }
            graft.sources.Ingest.inParallel(batch.sparkSession)(
              () => pairs.map(_._1).reduce(_ unionByName _)
                .write.mode("overwrite").partitionBy("vectorset")
                .parquet(s"$segDir/vectors"),
              () => pairs.map(_._2).reduce(_ unionByName _)
                .write.mode("overwrite").partitionBy("vectorset", "centroid_id")
                .parquet(s"$segDir/codes"))
          }
        })
    } finally latest.unpersist()
    ()
  }

  /** All on-disk `seg_*` dirs plus the set of segment names some
    * segment's `subsumed.txt` declares folded — the manifest-lite that
    * makes compaction crash-safe: a reader never double-counts a folded
    * segment that has not been deleted yet.
    */
  private def listSegments(spark: SparkSession,
      indexRoot: String): (Seq[org.apache.hadoop.fs.Path], Set[String]) = {
    val root = new org.apache.hadoop.fs.Path(indexRoot)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return (Seq.empty, Set.empty)
    val all = fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("seg_"))
      .map(_.getPath)
    val subsumed = all.flatMap(p => readSubsumed(fs, p)).toSet
    (all, subsumed)
  }

  private def readSubsumed(fs: org.apache.hadoop.fs.FileSystem,
      segDir: org.apache.hadoop.fs.Path): Seq[String] = {
    val m = new org.apache.hadoop.fs.Path(segDir, "subsumed.txt")
    if (!fs.exists(m)) Seq.empty
    else {
      val in = fs.open(m)
      try scala.io.Source.fromInputStream(in).getLines().toList
      finally in.close()
    }
  }

  /** Live segment directories: `seg_*` dirs minus the subsumed set. */
  private def segmentDirs(spark: SparkSession, indexRoot: String): Seq[String] = {
    val (all, subsumed) = listSegments(spark, indexRoot)
    all.filterNot(p => subsumed(p.getName)).map(_.toString).sorted
  }

  /** The live (unsubsumed) segment listing — the serving WATERMARK a
    * streamed-root server keys its memoized handles on
    * ([[graft.api.Engine.forStream]]): the listing changes exactly when
    * the stream lands a new batch segment or compaction folds the set,
    * so comparing it per request (one driver-side FS listing, no Spark
    * job) rebinds handles precisely when the corpus state moved — the
    * streamed analog of the batch facade's re-ingest invalidation. */
  def liveSegments(spark: SparkSession, indexRoot: String): Seq[String] =
    segmentDirs(spark, indexRoot)

  /** Whether EVERY live segment carries the optional sub-table `sub`
    * (e.g. "edges", "codes") — the bind-or-None probe a streamed
    * serving root runs once per watermark, mirroring [[segmentTables]]'
    * all-or-nothing contract for optional tables. */
  def segmentsCarry(spark: SparkSession, indexRoot: String,
      sub: String): Boolean =
    segmentsCarryAt(spark, segmentDirs(spark, indexRoot), sub)

  /** [[segmentsCarry]] over an explicit dir set (see
    * [[segmentTablesAt]] for why snapshot servers pass dirs). */
  def segmentsCarryAt(spark: SparkSession, dirs: Seq[String],
      sub: String): Boolean =
    dirs.nonEmpty && dirs.forall(d => hasSub(spark, d, sub))

  /** Whether ANY of the dirs carries the optional table `sub` — the
    * binding predicate for tables served via the carrying-subset
    * degrade ([[segmentEdgesAt]]/[[segmentMessagesAt]]): a mixed root
    * (stream upgraded mid-life) serves the carrying segments instead
    * of hiding the table until compaction heals it. */
  def segmentsCarryAnyAt(spark: SparkSession, dirs: Seq[String],
      sub: String): Boolean =
    dirs.exists(d => hasSub(spark, d, sub))

  /** Newest (id, seq) row per doc across segment manifests, TOMBSTONES
    * INCLUDED — compaction must keep them so a replayed older op
    * (at-least-once delivery) cannot resurrect a deleted doc.
    */
  private def latestDocRows(docs: DataFrame, idCol: String, seqCol: String): DataFrame = {
    val w = Window.partitionBy(col(idCol)).orderBy(col(seqCol).desc)
    docs.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn")
  }

  /** Serve the segmented index as [[graft.sources.IndexStore.IndexTables]]
    * with latest-wins-per-doc applied across segments — a doc's winning
    * (id, seq) pair selects exactly its newest segment's rows, and
    * tombstoned docs vanish (their winner row is dropped by
    * [[mergeLatest]]). The winner set is doc-manifest-sized (never
    * posting-sized), so the semi-join is cheap at any corpus size.
    * The result binds directly into [[graft.api.Find.Corpus]] — the
    * streamed corpus serves the same query surface as batch ingest.
    */
  def segmentTables(spark: SparkSession, indexRoot: String,
      idCol: String = "rid",
      seqCol: String = "seq"): graft.sources.IndexStore.IndexTables =
    segmentTablesAt(spark, segmentDirs(spark, indexRoot), idCol, seqCol)

  /** [[segmentTables]] over an EXPLICIT segment-dir set — the
    * one-watermark serving path: a server that already resolved
    * [[liveSegments]] passes that listing to every `…At` accessor so
    * ALL tables of one snapshot bind the SAME segment set (each
    * root-taking accessor re-lists internally, and a fold landing
    * between two listings would hand one request tables from two
    * different watermarks). */
  def segmentTablesAt(spark: SparkSession, dirs: Seq[String],
      idCol: String = "rid",
      seqCol: String = "seq"): graft.sources.IndexStore.IndexTables = {
    require(dirs.nonEmpty, "no segment dirs given")
    serveFrom(spark, dirs, idCol, seqCol)
  }

  /** One multi-path read of `sub` across all `dirs` — NOT a per-dir
    * read + union: a `spark.read.parquet` per segment pays an eager
    * footer/listing round-trip and stacks a union leg per segment, and
    * at 64 live segments that was ~0.5 s of pure plan construction PER
    * SUB-TABLE per request (measured in StreamingSpec's segment-count
    * test; 34 s for one suggest). A single relation over all paths
    * lists in one parallel job and plans one scan. All segments of a
    * root share the writeSegment layout by construction — mixed-layout
    * roots are unsupported (the require messages say: recompact).
    * PARTITIONED sub-tables (codes/vectors) cannot take this path:
    * each segment is its own partition-discovery root, and a
    * multi-path read rejects the conflicting structures — they keep
    * the per-dir union, which also preserves per-segment partition
    * pruning ([[vectorTablesFrom]]).
    */
  private def readSegSub(spark: SparkSession, dirs: Seq[String],
      sub: String): DataFrame =
    // mergeSchema: a mixed root (segments written before a column
    // existed — dl, repeated_in_field) must surface the UNION schema
    // with nulls for old rows, deterministically. The default
    // single-file schema pick would silently drop the new column (or
    // keep it) depending on listing order — the flag columns would
    // vanish for every segment, new ones included. The schema-merge
    // job reads footers once per request in parallel; the
    // per-segment-count latency contract is re-measured in
    // StreamingSpec with this on.
    spark.read.option("mergeSchema", "true")
      .parquet(dirs.map(d => s"$d/$sub"): _*)

  /** Newest (id, seq) winner per doc across the given segments. */
  private def winnersOf(spark: SparkSession, dirs: Seq[String],
      idCol: String, seqCol: String): DataFrame =
    mergeLatest(readSegSub(spark, dirs, "docs"), idCol, seqCol)
      .select(col(idCol), col(seqCol))

  private def serveFrom(spark: SparkSession, dirs: Seq[String],
      idCol: String, seqCol: String,
      winners0: Option[DataFrame] = None): graft.sources.IndexStore.IndexTables = {
    val winners = winners0.getOrElse(winnersOf(spark, dirs, idCol, seqCol))
    def serve(sub: String) =
      readSegSub(spark, dirs, sub)
        .join(winners, Seq(idCol, seqCol), "left_semi")
    // optional tables bind only when EVERY live segment carries them —
    // a mixed root (segments from before the table existed) serves
    // None rather than silently missing part of the corpus
    def opt(sub: String) =
      if (dirs.forall(d => hasSub(spark, d, sub))) Some(serve(sub)) else None
    graft.sources.IndexStore.IndexTables(
      postings = serve("postings"),
      docLengths = serve("doclengths"),
      paragraphs = serve("paragraphs"),
      parPostings = opt("par_postings"),
      parDocLengths = opt("par_doclengths"))
  }

  /** Positional postings served across segments with latest-wins — the
    * quoted-phrase table ([[graft.operators.PhraseSearch.phraseOccurrencesFromPositions]])
    * for a STREAMED corpus. Every live segment must carry positions
    * (segments written by the current [[writeSegment]] do).
    */
  def segmentPositions(spark: SparkSession, indexRoot: String,
      idCol: String = "rid", seqCol: String = "seq"): DataFrame = {
    val dirs = segmentDirs(spark, indexRoot)
    require(dirs.nonEmpty, s"no segments under $indexRoot")
    require(dirs.forall(d => hasSub(spark, d, "positions")),
      s"some segments under $indexRoot lack positional postings — " +
        "written by an older layout; recompact from source")
    positionsFrom(spark, dirs, idCol, seqCol)
  }

  private def positionsFrom(spark: SparkSession, dirs: Seq[String],
      idCol: String, seqCol: String,
      winners0: Option[DataFrame] = None): DataFrame =
    servedSub(spark, dirs, "positions", idCol, seqCol, winners0)

  private def servedSub(spark: SparkSession, dirs: Seq[String], sub: String,
      idCol: String, seqCol: String,
      winners0: Option[DataFrame] = None): DataFrame =
    readSegSub(spark, dirs, sub)
      .join(winners0.getOrElse(winnersOf(spark, dirs, idCol, seqCol)),
        Seq(idCol, seqCol), "left_semi")

  /** MinHash signature table served across segments with latest-wins —
    * the near-dup serving table
    * ([[graft.operators.Dedup.minHashLshFromSignatures]]) for a
    * STREAMED corpus; the seq column rides along (callers select the
    * id + h columns they need).
    */
  def segmentSignatures(spark: SparkSession, indexRoot: String,
      idCol: String = "rid", seqCol: String = "seq"): DataFrame = {
    val dirs = segmentDirs(spark, indexRoot)
    require(dirs.nonEmpty, s"no segments under $indexRoot")
    require(dirs.forall(d => hasSub(spark, d, "signatures")),
      s"some segments under $indexRoot lack signatures — written by an " +
        "older layout; recompact from source")
    servedSub(spark, dirs, "signatures", idCol, seqCol)
  }

  /** Relation triplets served across segments with latest-wins — the
    * graph serving table for a STREAMED corpus: rows (id, seq, rel,
    * dst) bind into [[graft.api.GraphSearch.EdgeTable]] with the doc
    * id as the source node, so the same PathQuery trees run over
    * streamed and batch corpora. Serves the CARRYING subset of a
    * mixed root (see [[servedOptionalSub]]); at least one live segment
    * must carry edges (written when the stream passes `relationsCol`).
    */
  def segmentEdges(spark: SparkSession, indexRoot: String,
      idCol: String = "rid", seqCol: String = "seq"): DataFrame =
    segmentEdgesAt(spark, segmentDirs(spark, indexRoot), idCol, seqCol)

  /** [[segmentEdges]] over an explicit dir set (see
    * [[segmentTablesAt]] for why snapshot servers pass dirs). */
  def segmentEdgesAt(spark: SparkSession, dirs: Seq[String],
      idCol: String = "rid", seqCol: String = "seq"): DataFrame =
    servedOptionalSub(spark, dirs, "edges", idCol, seqCol,
      "no live segment carries relation edges — stream with " +
        "relationsCol so segments write them")

  /** Message-grain conversation rows served across segments with
    * latest-wins — the /augment and /ask Conversational serving table
    * for a STREAMED corpus: rows (id, seq, field_id, split, mtype,
    * mtext) bind into [[graft.api.Augment.ConversationStore]].
    * Serves the CARRYING subset of a mixed root (see
    * [[servedOptionalSub]]); at least one live segment must carry
    * messages (written when the stream passes `messagesCol`).
    */
  def segmentMessagesAt(spark: SparkSession, dirs: Seq[String],
      idCol: String = "rid", seqCol: String = "seq"): DataFrame =
    servedOptionalSub(spark, dirs, "messages", idCol, seqCol,
      "no live segment carries conversation messages — stream with " +
        "messagesCol so segments write them")

  /** Serve an OPTIONAL per-segment table from the CARRYING subset of a
    * MIXED root (round 15 — the serve-time counterpart of the fold
    * heal): a root whose older segments predate the table (a stream
    * upgraded to pass relationsCol/messagesCol mid-life) reads the
    * segments that have it, with the winner semi-join computed over
    * ALL live segments' manifests — so a doc whose LATEST row lives in
    * a non-carrying segment serves no rows from this table (degrade,
    * never stale: its older carried rows lose the winner join), and
    * compaction's carrying-subset fold heals the root toward
    * all-carrying over time. At least one segment must carry the
    * table — an all-missing root keeps the explicit error.
    *
    * DELIBERATE policy contrast with [[serveFrom]]'s paragraph pair
    * (which binds par_postings only when EVERY segment carries it):
    * the paragraph pair has a whole-corpus FALLBACK — the doc-level
    * tables cover every document, so partially serving the pair would
    * be strictly worse than falling back. Edges and messages have no
    * alternative source: the choice is the carrying subset or hiding
    * the feature entirely, and a mid-life-upgraded stream should serve
    * the relations/conversations it HAS (r14 hid them until the first
    * compaction pass). Readers needing the all-or-nothing signal check
    * [[segmentsCarryAt]].
    */
  private def servedOptionalSub(spark: SparkSession, dirs: Seq[String],
      sub: String, idCol: String, seqCol: String,
      missingMsg: String): DataFrame = {
    require(dirs.nonEmpty, "no segment dirs given")
    val carrying = dirs.filter(d => hasSub(spark, d, sub))
    require(carrying.nonEmpty, missingMsg)
    servedSub(spark, carrying, sub, idCol, seqCol,
      winners0 =
        if (carrying.size == dirs.size) None // same listing, one read
        else Some(winnersOf(spark, dirs, idCol, seqCol)))
  }

  /** The `(term, freq)` suggest dictionary of a streamed corpus —
    * rolled up AT QUERY TIME from the winner-filtered segment postings
    * (a per-segment materialized rollup would double-count superseded
    * rows; the winner semi-join must run first). The rollup input is
    * posting-sized over live docs — the same cost class as one BM25
    * request.
    *
    * Parity with the batch dictionary: when the live segments carry the
    * PARAGRAPH posting pair, the rollup uses it with the repeated-
    * paragraph exclusion — exactly how ingest builds `par_termfreq`
    * (the reference's suggest query unconditionally requires
    * repeated_in_field = 0, `search_query.rs:150-167`), so a streamed
    * corpus suggests the same frequencies as the batch index of the
    * same documents. A mixed root whose older segments predate the
    * paragraph pair falls back to the doc-level rollup (the pre-pair
    * behavior, consistent with [[segmentTables]] binding None there).
    */
  def segmentTermFreq(spark: SparkSession, indexRoot: String,
      idCol: String = "rid", seqCol: String = "seq"): DataFrame =
    segmentTermFreqAt(spark, segmentDirs(spark, indexRoot), idCol, seqCol)

  /** [[segmentTermFreq]] over an explicit dir set (see
    * [[segmentTablesAt]] for why snapshot servers pass dirs). */
  def segmentTermFreqAt(spark: SparkSession, dirs: Seq[String],
      idCol: String = "rid", seqCol: String = "seq"): DataFrame = {
    val t = segmentTablesAt(spark, dirs, idCol, seqCol)
    val src = t.parPostings match {
      case Some(pp) => graft.api.Find.excludeRepeated(pp, withDuplicates = false)
      case None => t.postings
    }
    src.groupBy("term").agg(sum("tf").cast("long").as("freq"))
  }

  private def hasSub(spark: SparkSession, dir: String, sub: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$sub")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Serve the segmented ANN index: (codes, raw vectors) unions across
    * segments with latest-wins per doc — the pair
    * [[graft.operators.VectorSearch.ivfPqSearchAtRest]] consumes, so a
    * STREAMED corpus answers the same semantic queries as a batch-built
    * index (the reference's per-segment vector search with deletions
    * applied at read, `nidx_vector/src/searcher.rs` across open
    * segments). Segments written without vectors contribute nothing;
    * the winner semi-join is doc-manifest-sized, and each segment's
    * codes stay centroid-partitioned so probes prune inside every
    * segment.
    */
  def segmentVectorTables(spark: SparkSession, indexRoot: String,
      idCol: String = "rid",
      seqCol: String = "seq",
      vectorset: String = "default"): (DataFrame, DataFrame) =
    segmentVectorTablesAt(spark, segmentDirs(spark, indexRoot), idCol,
      seqCol, vectorset)

  /** [[segmentVectorTables]] over an explicit dir set (see
    * [[segmentTablesAt]] for why snapshot servers pass dirs). */
  def segmentVectorTablesAt(spark: SparkSession, dirs: Seq[String],
      idCol: String = "rid",
      seqCol: String = "seq",
      vectorset: String = "default"): (DataFrame, DataFrame) = {
    require(dirs.nonEmpty, "no segment dirs given")
    // a set name no segment ever wrote is a CONFIG error, detected from
    // the vectorset= partition directories (no Spark job); an existing
    // set whose docs are all tombstoned legitimately serves empty
    require(dirs.exists(d =>
        hasSub(spark, d, s"codes/vectorset=$vectorset")),
      s"vectorset '$vectorset' was never written by any of the given " +
        "segments — check the SegmentVectorSpec set names")
    val (codes, raw) = vectorTablesFrom(spark, dirs, idCol, seqCol)
    // vectorset selection = partition pruning inside every segment
    (codes.where(col("vectorset") === vectorset),
      raw.where(col("vectorset") === vectorset))
  }

  private def vectorTablesFrom(spark: SparkSession, dirs: Seq[String],
      idCol: String, seqCol: String,
      winners0: Option[DataFrame] = None): (DataFrame, DataFrame) = {
    val withVec = dirs.filter(d => hasSub(spark, d, "codes"))
    require(withVec.nonEmpty, s"no vector segments among $dirs")
    val winners = winners0.getOrElse(winnersOf(spark, dirs, idCol, seqCol))
    def serve(sub: String) = {
      // per-dir read + union, NOT the multi-path fast path: these
      // tables are partition-discovered per segment (vectorset /
      // centroid_id dirs), so each segment root must be opened as its
      // own table for the partition columns to bind — and the probe's
      // partition pruning then applies inside every segment
      val u = withVec.map(d => spark.read.parquet(s"$d/$sub")).reduce(_ unionByName _)
      // loud layout-version check: segments written before the
      // vectorset-tagged layout lack the column and must be recompacted
      // from source, not fail with an opaque unresolved-column error
      require(u.columns.contains("vectorset"),
        s"segment $sub tables lack the vectorset column — written by a " +
          "pre-vectorset layout; rebuild or re-stream these segments")
      u.join(winners, Seq(idCol, seqCol), "left_semi")
    }
    (serve("codes"), serve("vectors"))
  }

  /** Segment compaction (the `nidx/src/scheduler.rs` merge): fold the
    * CURRENTLY LISTED segments into one and delete them. Correctness
    * properties, each asserted in StreamingSpec:
    *  - the folded manifest keeps newest-row TOMBSTONES, so replayed
    *    older ops cannot resurrect deleted docs after compaction;
    *  - the directory listing happens ONCE — a segment the live stream
    *    writes mid-compaction is neither folded nor deleted;
    *  - crash safety: the compacted segment carries a `subsumed.txt`
    *    naming its inputs PLUS everything the inputs' own manifests
    *    subsumed (the tombstone-chain carry-forward: even if a stale
    *    folded input outlives the only manifest that masked it, the
    *    newest manifest still masks it), and renames into place BEFORE
    *    the inputs are deleted — a reader between rename and delete
    *    skips the subsumed dirs ([[segmentDirs]]), and a crash at any
    *    point leaves a readable index: the next compaction first
    *    deletes any on-disk dirs already marked subsumed (the retry of
    *    a crashed run's input deletes).
    *
    * The carried-forward set is PRUNED (it would otherwise grow by
    * every segment ever folded, and [[listSegments]] re-reads it per
    * request): an entry is dropped once its dir is absent on disk AND
    * it can never be recreated — compacted (`…c`) names only exist via
    * the one rename that made them, and a batch segment can only be
    * recreated by an at-least-once REPLAY, impossible for batch ids at
    * or below `committedBatchId` (the stream checkpoint's commit
    * watermark: Structured Streaming replays only uncommitted batches).
    * Pass [[committedBatchId]]'s reading of the stream checkpoint;
    * `None` keeps every batch-segment entry (safe default — only
    * `…c` tombstones age out).
    */
  /** Highest batch id the stream checkpoint has COMMITTED — the replay
    * watermark [[compactSegments]] prunes against: Structured Streaming
    * records one file per committed batch under `commits/`, and only
    * batches WITHOUT a commit file can be redelivered after a crash.
    */
  def committedBatchId(spark: SparkSession,
      checkpointPath: String): Option[Long] = {
    val commits = new org.apache.hadoop.fs.Path(s"$checkpointPath/commits")
    val fs = commits.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(commits)) None
    else fs.listStatus(commits).toSeq
      .map(_.getPath.getName)
      .filter(n => n.nonEmpty && n.forall(_.isDigit))
      .map(_.toLong)
      .maxOption
  }

  def compactSegments(spark: SparkSession, indexRoot: String,
      idCol: String = "rid", seqCol: String = "seq",
      committedBatchId: Option[Long] = None,
      graceMaxAgeMs: Long = 0L): Unit = {
    val fs = new org.apache.hadoop.fs.Path(indexRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (allDirs, subsumedSet) = listSegments(spark, indexRoot)
    retrySubsumedDeletes(fs, allDirs, subsumedSet, graceMaxAgeMs)
    val dirs = allDirs.filterNot(p => subsumedSet(p.getName))
      .map(_.toString).sorted
    if (dirs.size <= 1) return
    foldDirs(spark, indexRoot, fs, dirs, idCol, seqCol, committedBatchId)
  }

  /** Marker a fold commit stamps into each input dir: retries delete a
    * masked input only once the marker is older than the grace TTL. */
  private val SubsumedAtMarker = "_subsumed_at"

  /** Grace-aware retry of folded-input deletes (the second half of the
    * fold's GRACE-DEFERRED deletion, see [[foldDirs]]): a masked dir on
    * disk deletes only when its `_subsumed_at` stamp is at least
    * `graceMaxAgeMs` old — so a watermark-pinned request keeps its
    * files for AT LEAST that long after the fold, however frequently
    * compaction passes run (the r13 bound was one compaction INTERVAL,
    * losable by a request outliving two passes on a hot stream). A
    * masked dir without a stamp (a crash between the commit rename and
    * the stamping, or a pre-upgrade root) is stamped now and deleted on
    * a later pass — deferral errs toward keeping files. The default
    * TTL 0 keeps the one-pass behavior: the stamp is in the past by the
    * next pass, so inputs delete exactly like before.
    *
    * ONE clock: the stamp written INTO the marker is the driver's
    * `currentTimeMillis`, and the age check compares against the same
    * driver clock — the filesystem's modification time (which an
    * object store or NFS may skew against the driver) is only the
    * fallback for pre-upgrade empty markers, where the skew allowance
    * is at worst the FS-vs-driver offset once, not per pass.
    */
  private def retrySubsumedDeletes(fs: org.apache.hadoop.fs.FileSystem,
      allDirs: Seq[org.apache.hadoop.fs.Path], subsumedSet: Set[String],
      graceMaxAgeMs: Long): Unit =
    allDirs.filter(p => subsumedSet(p.getName)).foreach { p =>
      val marker = new org.apache.hadoop.fs.Path(p, SubsumedAtMarker)
      if (!fs.exists(marker)) {
        val out = fs.create(marker)
        out.write(System.currentTimeMillis().toString
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        out.close()
      } else {
        val stampedAt = {
          val in = fs.open(marker)
          val body =
            try new String(in.readAllBytes(),
              java.nio.charset.StandardCharsets.UTF_8).trim
            finally in.close()
          // Try guards a corrupted body (e.g. two interleaved stamps
          // on a non-atomic store pass the all-digit check but
          // overflow Long) — fall to the mtime instead of aborting
          // the whole retry pass
          if (body.nonEmpty && body.forall(_.isDigit))
            scala.util.Try(body.toLong)
              .getOrElse(fs.getFileStatus(marker).getModificationTime)
          else fs.getFileStatus(marker).getModificationTime
        }
        if (System.currentTimeMillis() - stampedAt >= graceMaxAgeMs)
          fs.delete(p, true)
      }
    }

  /** Fold ONE group of live segment dirs into a compacted segment —
    * the commit discipline of [[compactSegments]] (staging dir, healed
    * columns, carried-forward pruned subsumed manifest, rename then
    * GRACE-DEFERRED input deletion at the next pass) applied to an
    * arbitrary subset: latest-wins WITHIN the
    * group is safe for any subset because a newer (id, seq) in a
    * segment outside it still wins the serve-time semi-join — the same
    * argument the reference makes for merging only seqs at or below
    * the indexing watermark (`scheduler/merge_task.rs:36-49`). */
  /** @param globalDocs when set (the tiered path), the (id, seq,
    *   deleted) union of ALL live segment manifests: serve-table
    *   winners come from the global latest-wins instead of the
    *   group's, and manifest rows DEAD under the global state — masked
    *   by a newer winner anywhere, or tombstones with no surviving row
    *   to mask — are physically dropped. Dropping a non-winner never
    *   changes the serve-time winner join, and a purged tombstone's
    *   replayable older rows stay masked by the carried subsumed
    *   manifest, so the prune is safe under at-least-once replay. */
  private def foldDirs(spark: SparkSession, indexRoot: String,
      fs: org.apache.hadoop.fs.FileSystem, dirs: Seq[String],
      idCol: String, seqCol: String,
      committedBatchId: Option[Long],
      globalDocs: Option[DataFrame] = None): Unit = {
    val out = s"$indexRoot/compacting"
    // a crashed run's leftover staging dir must be wiped WHOLESALE: the
    // conditionally-written tables below (positions/signatures/codes/…)
    // would otherwise survive from the previous attempt and be renamed
    // into the committed segment as stale data
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    // the cross-segment docs union + winner set feed every table family
    // below — compute each once, not once per family
    val docsUnion = readSegSub(spark, dirs, "docs")
    val winners = mergeLatest(globalDocs.getOrElse(docsUnion), idCol, seqCol)
      .select(col(idCol), col(seqCol)).cache()
    try {
    val tables = serveFrom(spark, dirs, idCol, seqCol, Some(winners))
    // a MIXED root (pre-dl + post-dl segments) reads NULL dl for the
    // old segments' posting rows (the multi-path read fills missing
    // columns with null); written through as-is those nulls would make
    // BM25's null-dl guard permanent — the guard's "recompact" remedy
    // works only because compaction HEALS here, filling dl from the
    // companion doclengths table (which every layout has carried).
    // coalesce is a no-op on healthy roots; the join is one compaction
    // -time shuffle against the (1-row-per-winner) lengths table.
    def healDl(post: DataFrame, dls: DataFrame, joinCols: Seq[String]): DataFrame =
      if (!post.columns.contains("dl")) post
      else post.join(
          dls.select(joinCols.map(col) :+ col("dl").as("__dl"): _*),
          joinCols, "left")
        .withColumn("dl", coalesce(col("dl"), col("__dl")))
        .drop("__dl")
    // the same upgrade-heal contract as dl: a MIXED root (pre-/post-
    // repeated_in_field segments) reads NULL flags for old-segment
    // rows; written through unhealed they would keep dropping from
    // default paragraph search forever. Old rows were never marked, so
    // false is their faithful value.
    def healRepeated(df: DataFrame): DataFrame =
      if (!df.columns.contains("repeated_in_field")) df
      else df.withColumn("repeated_in_field",
        coalesce(col("repeated_in_field"), lit(false)))
    val latest = globalDocs match {
      case None => latestDocRows(docsUnion, idCol, seqCol)
      case Some(g) =>
        // keep a group row only while the GLOBAL state needs it: it is
        // the global latest for its id, and if a tombstone, some other
        // row for the id still exists somewhere to be masked
        val nid = g.groupBy(col(idCol)).agg(count(lit(1)).as("__nid"))
        val keep = latestDocRows(g, idCol, seqCol)
          .join(nid, Seq(idCol))
          .where(!(col("deleted") && col("__nid") === 1))
          .select(col(idCol), col(seqCol))
        latestDocRows(docsUnion, idCol, seqCol)
          .join(keep, Seq(idCol, seqCol), "left_semi")
    }
    // optional tables fold from the SUBSET of inputs that carry them —
    // never the forall gate: on a mixed root (segments from before the
    // table existed) the forall would silently OMIT the table from the
    // compacted output, destroying the newer segments' rows when the
    // folded inputs delete (round-14 review). Folding the subset keeps
    // exactly the winning rows that exist (a doc whose winner predates
    // the table never had rows), and compaction thereby HEALS the root
    // toward the all-carrying serving contract instead of erasing it.
    def foldOptional(sub: String): Unit = {
      val withSub = dirs.filter(d => hasSub(spark, d, sub))
      if (withSub.nonEmpty)
        servedSub(spark, withSub, sub, idCol, seqCol, Some(winners))
          .write.mode("overwrite").parquet(s"$out/$sub")
    }
    // the table writes run as concurrent jobs (Ingest.inParallel); the
    // commit below (subsumed manifest, then rename) starts only after
    // every one has finished, so a failed write leaves no manifest and
    // no rename, and the retry pass wipes the staging dir
    graft.sources.Ingest.inParallel(spark)(
      () => latest.write.mode("overwrite").parquet(s"$out/docs"),
      () => {
        // the first write through `winners` fills its cache before its
        // other readers start (concurrent first reads would each run
        // the cache's fill job)
        healDl(tables.postings, tables.docLengths, Seq(idCol))
          .write.mode("overwrite").parquet(s"$out/postings")
        graft.sources.Ingest.inParallel(spark)(
          () => tables.docLengths.write.mode("overwrite").parquet(s"$out/doclengths"),
          () => healRepeated(tables.paragraphs)
            .write.mode("overwrite").parquet(s"$out/paragraphs"),
          () => tables.parPostings.foreach { p =>
            val healed = tables.parDocLengths
              .map(d => healDl(p, d, Seq("paragraph_id"))).getOrElse(p)
            healRepeated(healed).write.mode("overwrite").parquet(s"$out/par_postings")
          },
          () => tables.parDocLengths.foreach(d => healRepeated(d).write.mode("overwrite")
            .parquet(s"$out/par_doclengths")),
          () => foldOptional("positions"),
          () => foldOptional("signatures"),
          () => foldOptional("edges"),
          () => foldOptional("messages"),
          // vector segments fold the same way: winning codes/raw rows
          // move to the compacted segment (codes keep the centroid
          // partitioning). Folds the ONCE-listed dirs, not a fresh
          // listing — a segment the live stream writes mid-compaction
          // must not fold without deletion
          () => if (dirs.exists(d => hasSub(spark, d, "codes"))) {
            val (codes, raw) = vectorTablesFrom(spark, dirs, idCol, seqCol,
              Some(winners))
            // same empty-partitioned-write hazard as writeSegment: a fold
            // whose vector rows are ALL dead (e.g. a pressure fold of a
            // fully-masked segment) must emit NO codes dir, not a broken one
            val codesC = codes.cache()
            try {
              if (!codesC.isEmpty) {
                codesC.write.mode("overwrite").partitionBy("vectorset", "centroid_id")
                  .parquet(s"$out/codes")
                raw.write.mode("overwrite").partitionBy("vectorset")
                  .parquet(s"$out/vectors")
              }
            } finally codesC.unpersist()
          })
      })
    val names = dirs.map(d => new org.apache.hadoop.fs.Path(d).getName)
    // carry forward the inputs' subsumed entries, PRUNED: keep an entry
    // while its dir is on disk (pending delete retry) or while a batch
    // replay could recreate it (batch id above the commit watermark);
    // drop everything else so the manifest stays bounded by the live
    // replay window instead of growing with every segment ever folded
    def batchIdOf(n: String): Option[Long] = {
      val digits = n.stripPrefix("seg_")
      if (n.startsWith("seg_") && digits.nonEmpty && digits.forall(_.isDigit))
        Some(digits.toLong)
      else None // a compacted (…c) name — only the commit rename creates it
    }
    val carried = dirs.flatMap(d => readSubsumed(fs,
      new org.apache.hadoop.fs.Path(d)))
    val kept = carried.filter { n =>
      fs.exists(new org.apache.hadoop.fs.Path(s"$indexRoot/$n")) ||
        batchIdOf(n).exists(bid => committedBatchId.forall(bid > _))
    }
    val folded = (kept ++ names).distinct.sorted
    val manifest = fs.create(new org.apache.hadoop.fs.Path(s"$out/subsumed.txt"))
    try manifest.write(folded.mkString("\n").getBytes("UTF-8"))
    finally manifest.close()
    // commit point: the compacted segment's name sorts after its inputs.
    // rename returning false (dest exists, missing parent, object-store
    // quirks) must abort BEFORE the input deletes — proceeding would
    // delete every live segment while the compacted copy is stranded
    val dst = s"$indexRoot/${names.last}c"
    require(fs.rename(new org.apache.hadoop.fs.Path(out),
        new org.apache.hadoop.fs.Path(dst)),
      s"compaction commit rename failed: $out -> $dst")
    // GRACE-DEFERRED input deletion: the inputs stay on disk, masked by
    // the manifest just committed (the live listing drops them at once,
    // so no new request binds them) — a LATER compaction pass's
    // pending-delete retry removes them. Deleting here would pull the
    // files out from under requests still scanning the PRE-fold
    // watermark (the serving snapshot pin guarantees a consistent
    // segment set per request, not that the set outlives a concurrent
    // fold). Each input is stamped `_subsumed_at` NOW; the retry
    // ([[retrySubsumedDeletes]]) deletes only stamps older than the
    // grace TTL, so the file-retention window is max(one pass,
    // graceMaxAgeMs) — a deployment sets the TTL to its slowest
    // analytic request's bound and no request frequency of compaction
    // can shorten it (the reference holds merged-away segments until
    // open searchers release them, same idea with a time-shaped bound).
    names.foreach { n =>
      val marker = new org.apache.hadoop.fs.Path(
        s"$indexRoot/$n/$SubsumedAtMarker")
      fs.create(marker).close()
    }
    } finally winners.unpersist()
    ()
  }

  /** tantivy-style log-merge policy knobs — the reference's
    * LogMergeSettings with its defaults (`nidx/src/settings.rs:228-255`):
    * segments bucket by log2(records); a bucket folds when it holds at
    * least `minSegments` (or contains a deletion-forced member);
    * segments above `topBucketMaxRecords` never merge except forced;
    * segments below `bottomBucketThreshold` share one bottom bucket. */
  final case class LogMergeSettings(
      minSegments: Int = 4,
      topBucketMaxRecords: Long = 10000000L,
      bottomBucketThreshold: Long = 10000L,
      bucketSizeLog: Double = 1.0,
      // the scheduler's deletion-pressure trigger (`settings.rs:220`
      // max_deletions counts the deletions a merge would APPLY to the
      // segment): a segment carrying more than this many DEAD rows —
      // rows masked by a newer global winner, or tombstones with
      // nothing left to mask — FORCES its bucket to fold (an oversize
      // segment folds ALONE, the `log_merge.rs:66-71` pressure path),
      // so dead rows get physically dropped
      maxDeletions: Long = 500L,
      // minimum age (ms) a FOLDED INPUT stays on disk after its fold
      // commit before a retry may delete it — the serving contract for
      // watermark-pinned requests that outlive compaction passes
      // (0 = delete at the next pass, the pre-r14 behavior; set to the
      // slowest expected request duration in deployment)
      graceMaxAgeMs: Long = 0L)

  /** Plan merge groups under the log-merge policy — the pure planning
    * step of the reference's scheduler (`scheduler/log_merge.rs`
    * plan_merges re-expressed): segments ordered by records DESC walk
    * into dynamically-cut log2 buckets (each bucket spans
    * `bucketSizeLog` doublings below the largest seen); a bucket with
    * ≥ minSegments members — or any forced member — emits merge
    * groups, splitting once a group's running record sum PASSES the
    * top-bucket ceiling (the overflowing member joins before the cut,
    * so an emitted group can end just past the ceiling, never grow
    * further). A split remainder below minSegments is DISCARDED
    * unless forced — those segments simply wait for more neighbors.
    * Oversize segments fold alone only when forced (deletions must
    * apply).
    *
    * @param segments (name, records, forced) — any order; sorted here
    * @return groups of segment NAMES to fold, each independently
    */
  def planMerges(settings: LogMergeSettings,
      segments: Seq[(String, Long, Boolean)]): Seq[Seq[String]] = {
    val ordered = segments.sortBy { case (n, r, _) => (-r, n) }
    val merges = scala.collection.mutable.ListBuffer.empty[Seq[String]]
    val buckets = scala.collection.mutable.ListBuffer
      .empty[Vector[(String, Long, Boolean)]]
    var current = Vector.empty[(String, Long, Boolean)]
    var currentMaxLog = Double.MaxValue
    ordered.foreach { case seg @ (name, records, forced) =>
      if (records > settings.topBucketMaxRecords) {
        if (forced) merges += Seq(name)
      } else {
        val sizeLog = math.log(
          math.max(records, settings.bottomBucketThreshold).toDouble) /
          math.log(2.0)
        if (sizeLog <= currentMaxLog - settings.bucketSizeLog) {
          buckets += current
          current = Vector.empty
          currentMaxLog = sizeLog
        }
        current = current :+ seg
      }
    }
    buckets += current
    buckets.foreach { b =>
      if (b.size >= settings.minSegments || b.exists(_._3)) {
        var sum = 0L
        var group = Vector.empty[String]
        var forced = false
        b.foreach { case (n, r, f) =>
          forced |= f
          sum += r
          group = group :+ n
          if (sum > settings.topBucketMaxRecords) {
            if (group.size >= settings.minSegments || forced) merges += group
            forced = false
            sum = 0L
            group = Vector.empty
          }
        }
        if (group.size >= settings.minSegments || forced) merges += group
      }
    }
    merges.toList
  }

  /** SIZE-TIERED compaction — the reference's scheduled merge
    * (`scheduler/merge_task.rs` schedule_merges + the log-merge
    * policy) instead of [[compactSegments]]' fold-everything: live
    * segments are measured (manifest rows + DEAD rows, ONE manifest
    * job grouped by source segment — no per-segment job),
    * [[planMerges]] buckets them, and each planned group folds
    * independently with the same crash-safe commit discipline, pruning
    * against the global corpus state (masked rows and purgeable
    * tombstones drop physically — the merge applying its deletion
    * log). A segment whose dead rows pass `maxDeletions` forces its
    * bucket; an OVERSIZE segment under that pressure folds alone
    * (`log_merge.rs:66-71`), shedding its dead weight without ever
    * merging with live neighbors. Big segments otherwise stop being
    * re-written once they pass the top-bucket ceiling — compaction
    * cost tracks the NEW data, not the corpus, which is what lets a
    * streamed root run forever: fold-everything rewrites the whole
    * corpus per cycle (O(corpus) each time), tiered folding rewrites
    * each row O(log corpus) times total.
    *
    * @return the folded groups (segment names), for observability
    */
  def compactSegmentsTiered(spark: SparkSession, indexRoot: String,
      idCol: String = "rid", seqCol: String = "seq",
      settings: LogMergeSettings = LogMergeSettings(),
      committedBatchId: Option[Long] = None): Seq[Seq[String]] = {
    val fs = new org.apache.hadoop.fs.Path(indexRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (allDirs, subsumedSet) = listSegments(spark, indexRoot)
    retrySubsumedDeletes(fs, allDirs, subsumedSet, settings.graceMaxAgeMs)
    val dirs = allDirs.filterNot(p => subsumedSet(p.getName))
      .map(_.toString).sorted
    if (dirs.size <= 1) return Nil
    // per-segment stats in ONE job: rows + DEAD rows grouped by the
    // source segment directory of each manifest file. A row is dead —
    // the reference's "deletions applicable to the segment"
    // (`settings.rs:220` max_deletions counts deletion-log entries the
    // merge would apply) — when a newer global winner masks it, or it
    // is a tombstone with nothing left to mask (no other row for its
    // id in any live segment). The window shuffles the doc MANIFESTS
    // (id, seq, deleted — never posting-sized), once per scheduler
    // pass.
    val segOf = regexp_extract(input_file_name(), "(seg_[^/]+)/docs/", 1)
    val w = Window.partitionBy(col(idCol))
    val stats = readSegSub(spark, dirs, "docs")
      .select(segOf.as("__seg"), col(idCol), col(seqCol), col("deleted"))
      .withColumn("__winseq", max(col(seqCol)).over(w))
      .withColumn("__nid", count(lit(1)).over(w))
      .groupBy("__seg")
      .agg(count(lit(1)).as("__n"),
        sum(when(col(seqCol) < col("__winseq") ||
          (col("deleted") && col("__nid") === 1), 1L).otherwise(0L))
          .as("__dead"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2) > settings.maxDeletions))
      .toSeq
    // FULLY-PURGED segments (0 manifest rows — a previous pressure fold
    // dropped everything) contribute no stats rows, so the planner
    // would never see them: they'd linger forever, inflating the
    // live-segment count (and AutoCompact's maxLiveSegments trigger)
    // while serving nothing. They ride along with the first planned
    // group (their carried subsumed manifest must survive the fold);
    // with no fold this pass, one whose carried mask is DROPPABLE —
    // every entry gone from disk and at-or-below the commit watermark
    // (or a compacted name, which nothing can recreate) — deletes
    // outright, and the rest wait for a pass that folds or a watermark
    // that advances.
    val statNames = stats.map(_._1).toSet
    val emptyNames = dirs.map(d => new org.apache.hadoop.fs.Path(d).getName)
      .filterNot(statNames)
    val plan0 = planMerges(settings, stats)
    val plan = (plan0, emptyNames) match {
      case (_, Nil) => plan0
      case (head :: tail, es) => (head ++ es) :: tail
      case (Nil, es) =>
        def droppable(entry: String): Boolean = {
          val digits = entry.stripPrefix("seg_")
          val batchId =
            if (entry.startsWith("seg_") && digits.nonEmpty &&
              digits.forall(_.isDigit)) Some(digits.toLong)
            else None
          !fs.exists(new org.apache.hadoop.fs.Path(s"$indexRoot/$entry")) &&
            batchId.forall(bid => committedBatchId.exists(bid <= _))
        }
        es.foreach { n =>
          val p = new org.apache.hadoop.fs.Path(s"$indexRoot/$n")
          if (readSubsumed(fs, p).forall(droppable)) fs.delete(p, true)
        }
        Nil
    }
    plan.foreach { group =>
      // every tiered fold prunes against the GLOBAL corpus state (the
      // reference's merge applies the deletion log to what it folds,
      // `scheduler/merge_task.rs`): rows masked by winners OUTSIDE the
      // group drop too, and a deletion-forced lone group — the
      // oversize-segment pressure fold of `log_merge.rs:66-71` —
      // physically drops its dead rows even though nothing merges
      // WITH it. Re-list per group: an earlier group's fold this pass
      // renamed its inputs, and the keep-set must read live dirs only.
      val liveNow = segmentDirs(spark, indexRoot)
      val globalDocs = readSegSub(spark, liveNow, "docs")
        .select(col(idCol), col(seqCol), col("deleted"))
      val groupDirs = group.sorted.map(n => s"$indexRoot/$n")
      foldDirs(spark, indexRoot, fs, groupDirs, idCol, seqCol,
        committedBatchId, globalDocs = Some(globalDocs))
    }
    plan
  }

  /** Per-user session state for [[streamingSessionCounts]]. */
  final case class SessionState(lastEventMs: Long, nSessions: Long, nEvents: Long)
  /** One input event: (user, event-time millis). */
  final case class UserEvent(user: Long, tsMs: Long)
  /** Per-user running summary emitted each update. */
  final case class UserSessions(user: Long, n_sessions: Long, n_events: Long)

  /** Custom-state streaming sessionization with
    * `mapGroupsWithState` — the KeyValueGroupedDataset stateful path
    * (batch mirror: [[graft.operators.Sessions]]). State per user is
    * three longs, independent of history length; a production variant
    * adds a state timeout to retire idle users.
    */
  def streamingSessionCounts(
      events: org.apache.spark.sql.Dataset[UserEvent],
      gapSeconds: Long): org.apache.spark.sql.Dataset[UserSessions] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    events.groupByKey(_.user)
      .mapGroupsWithState[SessionState, UserSessions](GroupStateTimeout.NoTimeout) {
        (user: Long, batch: Iterator[UserEvent], state: GroupState[SessionState]) =>
          var s = state.getOption.getOrElse(SessionState(Long.MinValue, 0L, 0L))
          batch.toSeq.sortBy(_.tsMs).foreach { e =>
            val newSession = s.lastEventMs == Long.MinValue ||
              e.tsMs - s.lastEventMs > gapSeconds * 1000
            s = SessionState(e.tsMs,
              s.nSessions + (if (newSession) 1 else 0), s.nEvents + 1)
          }
          state.update(s)
          UserSessions(user, s.nSessions, s.nEvents)
      }
  }

  /** [[streamingSessionCounts]] on Spark 4's `transformWithState` — the
    * production-scale successor to `mapGroupsWithState`: typed state
    * handles (ValueState here; List/Map state and per-key timers
    * available), incremental RocksDB checkpointing, and state TTL —
    * the properties the 100 TB ingest path needs that the legacy API
    * lacks. Same session semantics as the batch mirror
    * ([[graft.operators.Sessions]]); requires the RocksDB state store
    * provider.
    */
  class SessionProcessor(gapSeconds: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, UserEvent, UserSessions] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig}
    import org.apache.spark.sql.{Encoders => E}
    @transient private var state: org.apache.spark.sql.streaming.ValueState[SessionState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[SessionState](
        "session", E.product[SessionState], TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[UserEvent],
        timers: TimerValues): Iterator[UserSessions] = {
      var s = if (state.exists()) state.get() else SessionState(Long.MinValue, 0L, 0L)
      rows.toSeq.sortBy(_.tsMs).foreach { e =>
        val newSession = s.lastEventMs == Long.MinValue ||
          e.tsMs - s.lastEventMs > gapSeconds * 1000
        s = SessionState(e.tsMs,
          s.nSessions + (if (newSession) 1 else 0), s.nEvents + 1)
      }
      state.update(s)
      Iterator.single(UserSessions(user, s.nSessions, s.nEvents))
    }
  }

  /** Sessionization via [[SessionProcessor]]/`transformWithState`. */
  def streamingSessionCountsTws(
      events: org.apache.spark.sql.Dataset[UserEvent],
      gapSeconds: Long): org.apache.spark.sql.Dataset[UserSessions] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events.groupByKey(_.user)
      .transformWithState(new SessionProcessor(gapSeconds),
        TimeMode.None(), OutputMode.Update())
  }

  /** Streaming exact-dedup for ingest pipelines: drop rows whose key
    * was already seen, with state bounded by the watermark (duplicates
    * arriving later than `watermark` after their original may pass —
    * the standard state/completeness trade).
    */
  def streamingDedup(updates: DataFrame, tsCol: String, keyCols: Seq[String],
      watermark: String = "1 hour"): DataFrame =
    updates.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Event-time windowed aggregation with a watermark — the streaming
    * counter path (counts per tumbling window and type). Late data
    * beyond the watermark is dropped, state is bounded.
    */
  def windowedCounts(events: DataFrame, tsCol: String, typeCol: String,
      window_ : String = "1 hour", watermark: String = "2 hours"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), window_), col(typeCol))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col(typeCol), col("n"))
}
