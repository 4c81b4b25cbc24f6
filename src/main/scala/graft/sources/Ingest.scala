package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Batch indexing pipeline: source documents → paragraph table.
  *
  * The reference's indexing pipeline turns extracted field text into
  * paragraph index documents with ids `{rid}/{field}/{start}-{end}`
  * (`ingest/orm/brain_v2.py:266-407` paragraph splitting,
  * `noderesources.proto:118-121` id format). Spark-first form: one
  * declarative explode — tokenize, chunk into fixed-size token windows,
  * emit (paragraph_id, offsets, text) rows. The explode is narrow (no
  * shuffle); downstream tables partition by rid for co-located joins
  * with vectors/labels at scale.
  */
object Ingest {

  /** Split each document's text into paragraphs of `parTokens` tokens.
    * Offsets are token offsets `[start, end)`; ids follow the reference
    * format with a synthetic text-field name.
    */
  /** All `parTokens`-sized chunk structs of a text column as ONE
    * expression (the shared core of [[splitParagraphs]] and
    * [[splitFieldParagraphs]]). The single-element-array wrapper is a
    * let binding — a projected token column would be re-inlined into
    * every reference by the optimizer (re-tokenizing once per chunk);
    * `array(tokens)` evaluates the tokenizer exactly once per row and
    * the lambda references are attribute reads. Empty texts yield an
    * empty array (explodes to nothing).
    */
  private def chunkStructs(textCol: Column, parTokens: Int): Column =
    element_at(transform(
      array(TextFunctions.tokens(textCol)), t => {
        val n = size(t)
        when(n > 0, transform(
          sequence(lit(0), ceil(n.cast("double") / parTokens).cast("int") - 1),
          c => {
            val s = (c * parTokens).cast("int")
            val e = least(n, s + parTokens).cast("int")
            struct(s.as("start"), e.as("end"),
              concat_ws(" ", slice(t, s + 1, e - s)).as("p_text"))
          }))
          .otherwise(array().cast("array<struct<start:int,end:int,p_text:string>>"))
      }), 1)

  /** Mark every paragraph whose text already occurred EARLIER in the
    * same field (`ingest/orm/brain_v2.py:828-846`
    * is_paragraph_repeated_in_field: first occurrence unmarked, later
    * identical texts marked) — search excludes marked rows unless the
    * request asks `with_duplicates`
    * (`nidx_paragraph/src/search_query.rs:219-224`). One bounded
    * window per (doc, field, text) group — group size is the repeat
    * count, never the corpus.
    */
  private def withRepeatedFlag(pars: DataFrame, partitionCols: Seq[String],
      textCol: String, orderCols: Seq[Column]): DataFrame = {
    val w = Window
      .partitionBy((partitionCols :+ textCol).map(col): _*)
      .orderBy(orderCols: _*)
    pars.withColumn("repeated_in_field", row_number().over(w) > 1)
  }

  def splitParagraphs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      fieldName: String = "body",
      parTokens: Int = 20): DataFrame =
    withRepeatedFlag(docs
      .withColumn("__par", explode(chunkStructs(col(textCol), parTokens)))
      .select(col(idCol),
        concat(fieldUid(col(idCol), lit("t"), lit(fieldName)), lit("/"),
          col("__par.start").cast("string"), lit("-"),
          col("__par.end").cast("string")).as("paragraph_id"),
        col("__par.start").as("start"), col("__par.end").as("end"),
        (col("__par.end") - col("__par.start")).cast("long").as("n_tokens"),
        col("__par.p_text").as("p_text")),
      Seq(idCol), "p_text", Seq(col("start").asc))

  /** Overlapping sliding-window chunker — the RAG-ingestion variant of
    * [[splitParagraphs]]: windows of `chunkTokens` tokens advancing by
    * `strideTokens` (so consecutive chunks share `chunkTokens −
    * strideTokens` tokens of context, the standard retrieval-chunking
    * shape). Chunk ids reuse the reference's span-based paragraph id
    * format `{rid}/t/{field}/{start}-{end}`
    * (`noderesources.proto:118-121`) — overlapping spans are legal
    * there because the id IS the span. A document of `n` tokens yields
    * `1 + ceil(max(0, n − chunkTokens) / strideTokens)` chunks: the
    * last window is emitted only if it adds new tokens (no chunk fully
    * contained in its predecessor). Pure per-row array expressions
    * (tokenize once via the single-element-array let binding, then
    * `sequence`/`transform`/`slice`), so chunking happens inside the
    * scan stage — zero shuffles at any corpus size.
    */
  def chunkWithOverlap(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      chunkTokens: Int = 40,
      strideTokens: Int = 30,
      fieldName: String = "body"): DataFrame = {
    require(strideTokens > 0 && strideTokens <= chunkTokens,
      s"stride must be in (0, chunkTokens]: $strideTokens vs $chunkTokens")
    val chunks = element_at(transform(
      array(TextFunctions.tokens(col(textCol))), t => {
        val n = size(t)
        val extra = when(n > chunkTokens,
          ceil((n - chunkTokens).cast("double") / strideTokens).cast("int"))
          .otherwise(lit(0))
        when(n > 0, transform(sequence(lit(0), extra), c => {
          val s = (c * strideTokens).cast("int")
          val e = least(n, s + chunkTokens).cast("int")
          struct(s.as("start"), e.as("end"),
            concat_ws(" ", slice(t, s + 1, e - s)).as("c_text"))
        })).otherwise(array().cast("array<struct<start:int,end:int,c_text:string>>"))
      }), 1)
    docs
      .withColumn("__ch", explode(chunks))
      .select(col(idCol),
        concat(fieldUid(col(idCol), lit("t"), lit(fieldName)), lit("/"),
          col("__ch.start").cast("string"), lit("-"),
          col("__ch.end").cast("string")).as("chunk_id"),
        col("__ch.start").as("start"), col("__ch.end").as("end"),
        (col("__ch.end") - col("__ch.start")).cast("long").as("n_tokens"),
        col("__ch.c_text").as("c_text"))
  }

  /** Field rows for a document corpus — the resources→fields→paragraphs
    * hierarchy (`nucliadb_protos/resources.proto:39-46`: a resource
    * carries typed fields; title/summary are GENERIC `a/` fields, body
    * text a TEXT `t/` field). The testdata carries one text column, so
    * the field split is synthesized the way the reference's own
    * extraction does for plain documents: `t/body` = the full text,
    * `a/title` = the leading `titleTokens` tokens.
    *
    * @return (idCol, field_type, field_id, f_text) — one row per field
    */
  def fieldsTable(docs: DataFrame, idCol: String, textCol: String,
      titleTokens: Int = 5): DataFrame =
    docs.select(col(idCol), explode(array(
        struct(lit("t").as("field_type"), lit("body").as("field_id"),
          col(textCol).as("f_text")),
        struct(lit("a").as("field_type"), lit("title").as("field_id"),
          concat_ws(" ",
            slice(TextFunctions.tokens(col(textCol)), 1, titleTokens)).as("f_text"))))
        .as("f"))
      .select(col(idCol), col("f.field_type").as("field_type"),
        col("f.field_id").as("field_id"), col("f.f_text").as("f_text"))
      .where(length(col("f_text")) > 0)

  /** The `{rid}/{field_type}/{field_id}` field uid — the ONE encoding
    * of the reference id prefix (`noderesources.proto:118-121`), shared
    * by the paragraph split and the FIELD_STREAMING trainset so the
    * format cannot drift between them. */
  def fieldUid(rid: Column, fieldType: Column, fieldId: Column): Column =
    concat(rid.cast("string"), lit("/"), fieldType, lit("/"), fieldId)

  /** Paragraphs of EVERY field, keyed `{rid}/{field_type}/{field_id}/
    * {start}-{end}` end to end (`noderesources.proto:118-121` id
    * format) and carrying their (field_type, field_id) columns so field
    * filters apply as structural semi-joins, not id-string parsing.
    */
  def splitFieldParagraphs(fields: DataFrame, idCol: String,
      parTokens: Int = 20): DataFrame =
    withRepeatedFlag(fields
      .withColumn("__par", explode(chunkStructs(col("f_text"), parTokens)))
      .select(col(idCol), col("field_type"), col("field_id"),
        concat(fieldUid(col(idCol), col("field_type"), col("field_id")),
          lit("/"), col("__par.start").cast("string"), lit("-"),
          col("__par.end").cast("string")).as("paragraph_id"),
        col("__par.start").as("start"), col("__par.end").as("end"),
        (col("__par.end") - col("__par.start")).cast("long").as("n_tokens"),
        col("__par.p_text").as("p_text")),
      Seq(idCol, "field_type", "field_id"), "p_text", Seq(col("start").asc))

  /** CONVERSATION field paragraphs — the reference's conversation
    * fields hold SPLITS (one message each, appended incrementally:
    * `ingest/orm/brain_v2.py:266-307` append_splits) and every split
    * chunks into paragraphs keyed
    * `{rid}/c/{field_id}/{split}/{start}-{end}`. One narrow explode;
    * rows keep (field_type='c', field_id, split) so field filters and
    * split replacement (latest-wins on (field, split),
    * [[graft.streaming.IncrementalIndex.mergeLatest]]) stay structural.
    */
  def splitConversationParagraphs(convs: DataFrame, ridCol: String,
      fieldCol: String, splitCol: String, textCol: String,
      parTokens: Int = 20): DataFrame =
    // repeat detection scopes to the FIELD like every other field type
    // (a message re-sent in the same conversation is the repeat case);
    // ordered by (split, start) IN SPLIT ORDER — the reference walks
    // splits as appended (brain_v2.py append_splits). Split ids are
    // normally numeric message indexes: numeric ids order numerically
    // (cast; "10" after "2"), non-numeric ids fall back to string
    // order AFTER all numeric ones — deterministic either way
    withRepeatedFlag(convs
      .withColumn("__par", explode(chunkStructs(col(textCol), parTokens)))
      .select(col(ridCol), lit("c").as("field_type"),
        col(fieldCol).cast("string").as("field_id"),
        col(splitCol).cast("string").as("split"),
        concat(
          fieldUid(col(ridCol), lit("c"), col(fieldCol).cast("string")),
          lit("/"), col(splitCol).cast("string"), lit("/"),
          col("__par.start").cast("string"), lit("-"),
          col("__par.end").cast("string")).as("paragraph_id"),
        col("__par.start").as("start"), col("__par.end").as("end"),
        (col("__par.end") - col("__par.start")).cast("long").as("n_tokens"),
        col("__par.p_text").as("p_text")),
      Seq(ridCol, "field_id"), "p_text",
      // try_cast, not cast: under ANSI a non-numeric split id must
      // take the documented string-order fallback, not throw
      Seq(col("split").try_cast("int").asc_nulls_last, col("split").asc,
        col("start").asc))

  /** Posting/term-frequency table (term, docId, tf) — the analog of a
    * tantivy segment's inverted index, precomputed once at ingest so
    * query-time BM25 is a pruned lookup instead of a full tokenize.
    */
  def termPostings(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // `dl` (the doc's token count) is DENORMALIZED onto every posting
    // row — tantivy stores exactly this per-posting fieldnorm so BM25
    // never joins a lengths table at query time
    // (`nidx_text/src/reader.rs:367-451`); one extra int column buys
    // Bm25.scoreFromPostings a join-free scoring path (the lengths
    // table remains the stats source). dl is computed NARROWLY before
    // the explode (size of the token array — no per-doc window, which
    // would re-shuffle the whole posting table on the id) and rides
    // through the one (term, id) aggregation shuffle: every row of a
    // group carries the same dl, so first() is deterministic.
    // `df` (the term's document frequency — how many docs carry it) is
    // denormalized too (round 18): the tantivy term DICTIONARY stores
    // exactly this doc_freq, so unrestricted BM25 reads idf inputs off
    // the posting row instead of re-aggregating them per request. The
    // window repartitions by term, which also SORTS the written files
    // by term — `term IN (...)` pushdown then prunes row groups via
    // min/max stats instead of scanning every group.
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("term"))
    docs
      .withColumn("__toks", TextFunctions.tokens(col(textCol)))
      .select(col(idCol), size(col("__toks")).cast("long").as("dl"),
        explode(col("__toks")).as("term"))
      .groupBy("term", idCol)
      .agg(count(lit(1)).as("tf"), first("dl").as("dl"))
      .withColumn("df", count(lit(1)).over(w))
  }

  /** Trainset export (`nucliadb/src/nucliadb/train/generators`,
    * `dataset.proto:9-17`): project a task-specific view and write
    * partitioned parquet — the Arrow-batch streaming analog.
    */
  def exportTrainset(df: DataFrame, outDir: String, partitionCol: String): Unit =
    df.write.mode("overwrite").partitionBy(partitionCol).parquet(outDir)

  /** Run independent write branches as concurrent Spark jobs — the
    * reference indexer builds each index's segment on its own
    * (`nidx/src/indexer.rs:254-435` index_resource per index). Most
    * index-table writes of a small ingest are single-task jobs; run
    * one after another they leave all but one core idle. Each branch
    * runs on a pool made for this call, sized
    * `min(branches, defaultParallelism)`, and is submitted through
    * Spark's `SQLExecution.withThreadLocalCaptured`, so the caller's
    * job group, local properties and active session carry over; pool
    * threads also inherit the caller's [[graft.Caches]] arena. Returns
    * once EVERY branch has finished and every pool thread has exited —
    * so no write lands after the caller sees the result — and then
    * rethrows the first failing branch's exception (in argument order)
    * as thrown, not wrapped. A branch's own writes stay in order; only
    * the start order of independent tables changes.
    */
  private[graft] def inParallel(spark: org.apache.spark.sql.SparkSession)(
      branches: (() => Unit)*): Unit = {
    graft.Caches.ensureArena()
    val threads = new java.util.concurrent.ConcurrentLinkedQueue[Thread]
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(branches.size, spark.sparkContext.defaultParallelism)),
      (r: Runnable) => {
        val t = new Thread(r, "graft-ingest")
        t.setDaemon(true); threads.add(t); t
      })
    try {
      val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      val runs = branches.map(b =>
        org.apache.spark.sql.execution.SQLExecution.withThreadLocalCaptured(session, pool)(b()))
      runs.flatMap(r => scala.util.Try(r.join()).failed.toOption).headOption.foreach {
        case e: java.util.concurrent.CompletionException if e.getCause != null => throw e.getCause
        case e => throw e
      }
    } finally {
      pool.shutdown()
      threads.forEach(_.join())
    }
  }

  /** End-to-end index build — the broker-message → index ETL
    * (`ingest/orm/index_message.py` IndexMessageBuilder): one pass over
    * the source documents materializes every index table the retrieval
    * operators read. Each table is an independent narrow pipeline off
    * the same scan, landing partitioned by its own access key
    * (DESIGN.md). Independent tables build as concurrent jobs
    * ([[inParallel]]); a table derived from another's written output
    * follows it in the same branch, and the longer branches start
    * first: paragraphs → {par_postings → {par_termfreq, par_deletes},
    * par_doclengths}; fields → field_paragraphs → {fieldpar_postings,
    * fieldpar_doclengths}; postings → termfreq → deletes; bigrams →
    * bigramfreq; shingles; signatures → sigbands; doclengths;
    * positions; langprofiles; vectors. `bm25_stats` then reads both
    * length tables.
    */
  def buildIndex(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      outDir: String,
      parTokens: Int = 20,
      embeddingDim: Int = 64,
      withVectors: Boolean = true,
      shingleSize: Int = 3,
      numHashes: Int = 8,
      langCol: Option[String] = None,
      shingleBuckets: Int = 16,
      conversations: Option[DataFrame] = None): Unit = {
    val sp = spark(docs)
    // BM25 posting pair for the NON-BODY field paragraphs — field-
    // filtered BM25 serves the union of this pair with the body pair
    // (par_postings/par_doclengths: body paragraph ids are identical),
    // so no posting row is stored twice
    // `repeated_in_field` is DENORMALIZED onto both pair tables at
    // ingest (one tiny join here, like dl on posting rows) so the
    // default exclude-repeated search mode is a scan-stage predicate —
    // no per-request join back to the paragraph table
    def withRepeated(df: DataFrame, pars: DataFrame): DataFrame =
      df.join(pars.select(col("paragraph_id"), col("repeated_in_field")),
        "paragraph_id")
    // the REPEATED-EXCLUDED document frequency (round 18): the default
    // paragraph search mode serves the repeated-excluded population, so
    // its at-rest idf input must count that population — a second
    // per-term window over the same rows, ZERO (not null — the sum's
    // otherwise(0L) always yields a value over a non-empty partition)
    // for terms appearing only in repeated rows; harmless because those
    // rows are filtered out before scoring ever reads the column
    // (ADVICE r18 low)
    def withXrepDf(df: DataFrame): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("term"))
      df.withColumn("df_xrep",
        sum(when(!coalesce(col("repeated_in_field"), lit(false)), 1L)
          .otherwise(0L)).over(w))
    }
    // language-ID model: per-language char-trigram profiles trained
    // from the labeled corpus ([[trainLangProfiles]]). CONDITIONAL
    // outputs follow the overwrite-or-delete rule: a re-ingest that no
    // longer produces an optional table must REMOVE the previous
    // build's copy, or serving binds a model/table trained on deleted
    // documents (the edge_resources staleness class).
    def dropStale(sub: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(s"$outDir/$sub")
      val fs = p.getFileSystem(sp.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) { fs.delete(p, true); () }
    }
    // SymSpell deletion neighborhood: (variant, term) rows for
    // distance-1 fuzzy matching as an equality lookup instead of a
    // Levenshtein dictionary scan ([[graft.functions.TextFunctions.deleteVariants]]).
    // Sorted by variant so a query's variant IN (...) predicate prunes
    // row groups via parquet min/max stats.
    def writeDeletes(terms: DataFrame, sub: String): Unit =
      terms.select(explode(TextFunctions.deleteVariants(col("term"))).as("variant"),
          col("term"))
        .repartitionByRange(col("variant"))
        .sortWithinPartitions("variant")
        .write.mode("overwrite").parquet(s"$outDir/$sub")
    inParallel(sp)(
      () => {
        splitParagraphs(docs, idCol, textCol, parTokens = parTokens)
          .write.mode("overwrite").parquet(s"$outDir/paragraphs")
        // paragraph-level postings + lengths: the nidx_paragraph analog —
        // BM25-scored paragraph search serves these instead of scanning
        // paragraph text at query time
        val pars = sp.read.parquet(s"$outDir/paragraphs")
        inParallel(sp)(
          () => {
            withXrepDf(withRepeated(termPostings(pars, "paragraph_id", "p_text"), pars))
              .write.mode("overwrite").parquet(s"$outDir/par_postings")
            inParallel(sp)(
              // paragraph-derived term dictionary: the /suggest serving
              // table — the reference suggests over the PARAGRAPH index
              // (`nidx/src/searcher/shard_suggest.rs:45-160`), so the
              // dictionary rolls up the paragraph postings; repeated
              // paragraphs stay out of it — the reference's paragraph
              // suggest query unconditionally requires
              // repeated_in_field = 0 (`search_query.rs:150-167`)
              () => sp.read.parquet(s"$outDir/par_postings")
                .where(!coalesce(col("repeated_in_field"), lit(false)))
                .groupBy("term").agg(sum("tf").cast("long").as("freq"))
                .write.mode("overwrite").parquet(s"$outDir/par_termfreq"),
              // the PARAGRAPH dictionary's deletion neighborhood (round
              // 15): the fuzzy FALLBACK (`nidx_paragraph/src/reader.rs:
              // 96-118`) expands against the paragraph index's terms, so
              // it needs the par-side table — same layout as `deletes`,
              // letting the fallback's lev≤1 legs run as variant-IN
              // rowgroup lookups instead of a levenshtein scan of the
              // whole dictionary (SURVEY §7.4). Derived from ALL
              // paragraph posting terms — NOT par_termfreq: tantivy's FST
              // holds every indexed term, repeated paragraphs included
              // (repeated_in_field is a query-time facet filter, not an
              // indexing exclusion), and the fallback expands against
              // that FST.
              () => writeDeletes(
                sp.read.parquet(s"$outDir/par_postings").select(col("term")).distinct(),
                "par_deletes"))
          },
          () => withRepeated(
              graft.functions.Bm25.docLengths(pars, "paragraph_id", "p_text"), pars)
            .write.mode("overwrite").parquet(s"$outDir/par_doclengths"))
      },
      () => {
        // field-level data model: typed field rows + per-field paragraphs
        // (resources→fields→paragraphs) — field filters become structural
        // semi-joins against these instead of id-string parsing. The
        // at-rest `fields` table is METADATA ONLY (rid, field_type,
        // field_id — text lives in the source/paragraph tables), and
        // `field_paragraphs` stores only NON-BODY fields: the t/body
        // paragraphs are exactly the main paragraph table's rows (same
        // {rid}/t/body/{s}-{e} ids), so serving composes them from there
        // instead of storing the corpus text twice (Find.findParagraphs).
        // cache across the two consumers: the fields lineage re-tokenizes
        // the corpus, and without the cache both writes would pay it
        val fieldsDf = fieldsTable(docs, idCol, textCol).cache()
        // CONVERSATION fields (`resources.proto` ConversationField; splits
        // appended per message, `ingest/orm/brain_v2.py:266-307`): rows
        // (idCol, field_id, split, text) index like any other field — one
        // metadata row per (rid, c, field_id) and per-split paragraphs
        // keyed {rid}/c/{field_id}/{split}/{start}-{end}. The split level
        // lives only in the paragraph id: field filters address the FIELD
        // (`c/chat`), never a single split.
        val convPars = conversations.map(c =>
          splitConversationParagraphs(c, idCol, "field_id", "split", textCol,
            parTokens = parTokens))
        try {
          val fieldMeta = fieldsDf.drop("f_text")
          conversations.map(c => fieldMeta.unionByName(
              c.select(col(idCol), lit("c").as("field_type"),
                col("field_id").cast("string").as("field_id")).distinct()))
            .getOrElse(fieldMeta)
            .write.mode("overwrite").parquet(s"$outDir/fields")
          val fieldPars = splitFieldParagraphs(
            fieldsDf.where(!(col("field_type") === "t" && col("field_id") === "body")),
            idCol, parTokens = parTokens)
          convPars.map(cp => fieldPars.unionByName(cp.drop("split")))
            .getOrElse(fieldPars)
            .write.mode("overwrite").parquet(s"$outDir/field_paragraphs")
        } finally fieldsDf.unpersist()
        val fpars = sp.read.parquet(s"$outDir/field_paragraphs")
        inParallel(sp)(
          () => withXrepDf(withRepeated(termPostings(fpars, "paragraph_id", "p_text"), fpars))
            .write.mode("overwrite").parquet(s"$outDir/fieldpar_postings"),
          () => withRepeated(
              graft.functions.Bm25.docLengths(fpars, "paragraph_id", "p_text"), fpars)
            .write.mode("overwrite").parquet(s"$outDir/fieldpar_doclengths"))
      },
      () => {
        termPostings(docs, idCol, textCol)
          .write.mode("overwrite").parquet(s"$outDir/postings")
        // term-frequency dictionary: the suggest/fuzzy serving table — a
        // pure rollup of the postings (freq = total occurrences), the
        // tantivy-FST analog (`nidx_paragraph/src/fuzzy_query.rs:55-120`)
        sp.read.parquet(s"$outDir/postings")
          .groupBy("term").agg(sum("tf").cast("long").as("freq"))
          .write.mode("overwrite").parquet(s"$outDir/termfreq")
        writeDeletes(sp.read.parquet(s"$outDir/termfreq"), "deletes")
      },
      () => {
        // bigram postings (id, w1, w2, tf) + corpus bigram dictionary —
        // the n-gram LM serving pair
        // ([[graft.operators.CorpusStats.bigramLogProbFromPostings]]):
        // a perplexity-scoring request joins them on the bigram key, so
        // BOTH sides are bucketed on (w1, w2) and the request-time
        // dictionary join reuses the at-rest layout exchange-free — the
        // same move as shingles/sigbands. The dictionary is a pure rollup
        // of the postings (rebuilt from the written table, not the plan,
        // so the tokenize pass isn't re-run)
        val bgArr = TextFunctions.shingles(TextFunctions.tokens(col(textCol)), 2)
        val (bw1, bw2) = TextFunctions.bigramPair(col("bg"))
        docs.select(col(idCol), explode(bgArr).as("bg"))
          .select(col(idCol), bw1.as("w1"), bw2.as("w2"))
          .groupBy(idCol, "w1", "w2").agg(count(lit(1)).as("tf"))
          .write.mode("overwrite")
          .bucketBy(shingleBuckets, "w1", "w2").sortBy("w1", "w2")
          .option("path", s"$outDir/bigrams")
          .saveAsTable(bucketedTableName("bigrams", outDir))
        // rollup reads the CATALOG table, not plain parquet: the catalog
        // carries the (w1, w2) bucket spec, so this corpus-scale groupBy
        // aggregates bucket-locally with no exchange (a parquet read would
        // lose the layout and shuffle the whole posting table)
        sp.table(bucketedTableName("bigrams", outDir))
          .groupBy("w1", "w2").agg(sum("tf").cast("long").as("freq"))
          .write.mode("overwrite")
          .bucketBy(shingleBuckets, "w1", "w2").sortBy("w1", "w2")
          .option("path", s"$outDir/bigramfreq")
          .saveAsTable(bucketedTableName("bigramfreq", outDir))
      },
      () => {
        // hashed-shingle postings: (id, xxhash64(shingle), set size) — the
        // n-gram Jaccard serving table ([[graft.operators.Dedup.ngramJaccardFromShingles]]);
        // like signatures, a pure per-document function valid for any
        // corpus subset via semi-join. Written BUCKETED on the join key
        // (external table, data under outDir like every sibling): the
        // near-dup request's self-join on `shingle` then reuses the at-rest
        // layout — both sides scan co-partitioned buckets and the
        // per-request Exchange disappears (plan-pinned in ScaleDesignSpec).
        val shingleArr = array_distinct(
          TextFunctions.shingles(TextFunctions.tokens(col(textCol)), shingleSize))
        docs.select(col(idCol),
            transform(shingleArr, s => xxhash64(s)).as("ss"), size(shingleArr).as("sz"))
          .select(col(idCol), explode(col("ss")).as("shingle"), col("sz"))
          .write.mode("overwrite")
          .bucketBy(shingleBuckets, "shingle").sortBy("shingle")
          .option("path", s"$outDir/shingles")
          .saveAsTable(bucketedTableName("shingles", outDir))
      },
      () => {
        // MinHash signatures: a per-document function of the text (no
        // corpus statistics), so near-dup requests over any corpus subset
        // serve this table via semi-join instead of re-tokenizing
        graft.operators.Dedup.minHashSignatures(
            docs.select(col(idCol), explode(TextFunctions.shingles(
              TextFunctions.tokens(col(textCol)), shingleSize)).as("shingle")),
            idCol, numHashes)
          .write.mode("overwrite").parquet(s"$outDir/signatures")
        // LSH band rows (id, band, bv) from the signatures, bucketed on the
        // band bucket key — the candidate-pair self-join
        // ([[graft.operators.Dedup.minHashLshFromBands]]) joins on
        // (band, bv) and reuses this layout exchange-free, same as shingles
        graft.operators.Dedup.signatureBands(
            sp.read.parquet(s"$outDir/signatures"), idCol, numHashes, bandSize = 2)
          .write.mode("overwrite")
          .bucketBy(shingleBuckets, "band", "bv").sortBy("band", "bv")
          .option("path", s"$outDir/sigbands")
          .saveAsTable(bucketedTableName("sigbands", outDir))
      },
      () => graft.functions.Bm25.docLengths(docs, idCol, textCol)
        .write.mode("overwrite").parquet(s"$outDir/doclengths"),
      // positional postings: (id, pos, term) — quoted-phrase queries
      // serve this table with per-term pruned scans instead of
      // re-tokenizing text (tantivy stores positions in its postings)
      () => graft.operators.PhraseSearch.positions(docs, idCol, textCol)
        .write.mode("overwrite").parquet(s"$outDir/positions"),
      () => langCol match {
        case Some(lc) => trainLangProfiles(docs, textCol, lc)
          .write.mode("overwrite").parquet(s"$outDir/langprofiles")
        case None => dropStale("langprofiles")
      },
      () =>
        if (withVectors)
          tfidfVectors(docs, idCol, textCol, embeddingDim)
            .write.mode("overwrite").parquet(s"$outDir/vectors")
        else dropStale("vectors"))
    // corpus-level BM25 statistics at rest (round 18): the (N, avgdl)
    // pairs every unrestricted request otherwise aggregates live — one
    // row per population (doc table; default repeated-excluded
    // paragraphs; all paragraphs), collected once at serving bind.
    // Aggregation expressions are IDENTICAL to the query-time path
    // (count + avg over long dl — exact, order-independent), so served
    // scores are bit-identical to the live aggregation.
    locally {
      val dlsTab = sp.read.parquet(s"$outDir/doclengths")
      val pdls = sp.read.parquet(s"$outDir/par_doclengths")
      def statRow(name: String, dls: DataFrame) =
        dls.agg(count(lit(1)).cast("double").as("n_docs"),
            avg(col("dl")).as("avgdl"))
          .select(lit(name).as("population"), col("n_docs"), col("avgdl"))
      statRow("doc", dlsTab)
        .unionByName(statRow("par_xrep",
          pdls.where(!coalesce(col("repeated_in_field"), lit(false)))))
        .unionByName(statRow("par_all", pdls))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/bm25_stats")
    }
    // provenance: the build parameters the serving side must match
    // (signature width is additionally self-describing — its columns —
    // and loudly validated in minHashLshFromSignatures; shingle size
    // is recorded here)
    writeText(sp, s"$outDir/text_meta.json",
      s"""{"shingle_size": $shingleSize, "num_hashes": $numHashes, "par_tokens": $parTokens, "id_col": "$idCol"}""")
  }

  private def spark(df: DataFrame) = df.sparkSession

  /** Catalog name for a bucketed index table — deterministic per
    * (kind, index directory), so the serving side
    * ([[IndexStore.shingles]]) can resolve the bucketed layout from the
    * directory alone. Bucketed layouts need the session catalog (plain
    * `read.parquet` loses the bucket spec); the data itself still lives
    * under the index dir like every sibling table, so catalog-less
    * readers fall back to the same rows without the layout.
    */
  def bucketedTableName(kind: String, outDir: String): String =
    s"graft_${kind}_" + java.security.MessageDigest.getInstance("MD5")
      .digest(outDir.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString

  /** Small-text write through the Hadoop FileSystem API — manifests and
    * meta files live NEXT TO the tables they describe, so they must use
    * the same storage layer (java.nio would silently break on the
    * HDFS/S3 paths production ingest writes to). */
  private[graft] def writeText(spark: org.apache.spark.sql.SparkSession,
      path: String, content: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  /** [[writeText]]'s read side; fails with a descriptive error when the
    * file is absent (an index dir without its meta is a build bug, not
    * a NoSuchElementException). */
  private[graft] def readText(spark: org.apache.spark.sql.SparkSession,
      path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p),
      s"missing $path — the index directory was not built by this engine's ingest")
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  /** Train per-language char-trigram profiles from a LABELED corpus —
    * the ingest-time model build behind
    * [[graft.functions.TextFunctions.langIdFromProfiles]] (a real but
    * deliberately small classifier, replacing the hand-written keyword
    * lists; the mechanism matches fastText-style char-n-gram LMs).
    * Per language: trigram occurrence counts over all its documents,
    * top-`topK` trigrams kept (count desc, trigram asc), weight =
    * round(ln(count / total-occurrences), 6) with the total taken
    * BEFORE the top-K cut (a proper, deficient unigram LM). One
    * explode + two aggregations; the result is driver-scale
    * (|langs| × topK rows) and serves as a broadcast literal.
    *
    * @return (plang, tg, logp)
    */
  def trainLangProfiles(docs: DataFrame, textCol: String, langCol: String,
      topK: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tri = docs.select(col(langCol).as("plang"),
      explode(TextFunctions.charTrigrams(col(textCol))).as("tg"))
    val counts = tri.groupBy("plang", "tg").agg(count(lit(1)).as("c"))
    val tot = counts.groupBy("plang").agg(sum("c").as("tot"))
    val w = Window.partitionBy("plang").orderBy(col("c").desc, col("tg").asc)
    counts.withColumn("rn", row_number().over(w))
      .where(col("rn") <= topK)
      .join(tot, "plang")
      .select(col("plang"), col("tg"),
        round(log(col("c") / col("tot")), 6).as("logp"))
  }

  /** At-rest relation index — the physical analog of `nidx_relation`
    * (tantivy schema with normalized source/target value columns,
    * `nidx_relation/src/schema.rs`): the DISTINCT triplet set written
    * in TWO sort orders, range-partitioned + sorted by source value
    * (`edges`) and by destination value (`edges_by_dst`). Tantivy
    * prunes either endpoint through its per-field inverted index; the
    * columnar analog is parquet row-group min/max stats on a sorted
    * column, so exact and prefix node constraints
    * ([[graft.api.GraphSearch.NodeMatch]]) push into whichever copy is
    * sorted by the constrained endpoint. The dedup shuffle every
    * inline request was paying (`.distinct()` over the fact table) is
    * paid ONCE here at ingest.
    */
  def relationIndex(edges: DataFrame, srcCol: String, relCol: String,
      dstCol: String, outDir: String,
      facetsCol: Option[String] = None,
      typedCols: Seq[String] = Nil,
      resourceCol: Option[String] = None): Unit = {
    // the dedup aggregation ALSO records each triplet's multiplicity
    // `n` — the support weight ranked graph expansion sums
    // ([[graft.operators.GraphOps.iterativeExpandFrom]]), free here
    // because distinct ≡ groupBy over the key columns. With a facets
    // column (`/g` provenance etc., `noderesources.proto:201-205`),
    // the triplet keeps the SORTED distinct union of its occurrences'
    // facets — [[graft.api.GraphSearch.facetFilter]]'s contains-test
    // semantics are preserved, and the sort keeps rebuilds byte-stable.
    // `typedCols` (node type/subtype, relation type — the reference's
    // typed columns, `nidx_relation/src/schema.rs:41-48`) are part of
    // the indexed edge's IDENTITY and join the dedup keys.
    val keyed = edges.select(
      (Seq(col(srcCol).as("src"), col(relCol).as("rel"),
        col(dstCol).as("dst")) ++
        typedCols.map(col) ++
        facetsCol.map(fc => col(fc).as("__f")).toSeq): _*)
    val grouped = keyed.groupBy((Seq("src", "rel", "dst") ++ typedCols)
      .map(col): _*)
    val e = (facetsCol match {
      case Some(_) => grouped.agg(count(lit(1)).cast("long").as("n"),
        array_sort(array_distinct(flatten(collect_list(col("__f")))))
          .as("facets"))
      case None => grouped.agg(count(lit(1)).cast("long").as("n"))
    }).cache()
    try inParallel(spark(edges))(
      // `resourceCol` carries each edge occurrence's RESOURCE provenance.
      // The reference indexes one relation doc per resource field and its
      // prefilter intersects graph queries with the allowed resources'
      // term set (`nidx_relation/src/reader.rs:261-272` apply_prefilter
      // over `resource_field_id`); the columnar analog is a third table,
      // `edge_resources` — (triplet, resource_id) at per-resource
      // granularity — that a filtered graph search semi-joins against the
      // prefilter's allowed ids. Kept SEPARATE from the deduped triplet
      // copies so unfiltered queries scan the smaller distinct tables.
      () => resourceCol match {
        case Some(rc) =>
          edges.select((Seq(col(srcCol).as("src"), col(relCol).as("rel"),
              col(dstCol).as("dst")) ++ typedCols.map(col) :+
              col(rc).as("resource_id")): _*)
            .distinct()
            .repartitionByRange(col("src"))
            .sortWithinPartitions("src", "rel", "dst", "resource_id")
            .write.mode("overwrite").parquet(s"$outDir/edge_resources")
        case None =>
          // a re-ingest WITHOUT provenance must not leave a stale
          // provenance table from a previous build — serving would bind
          // edges the new corpus no longer has
          val p = new org.apache.hadoop.fs.Path(s"$outDir/edge_resources")
          val fs = p.getFileSystem(spark(edges).sparkContext.hadoopConfiguration)
          if (fs.exists(p)) { fs.delete(p, true); () }
      },
      // the two sorted copies stay in ONE branch: the first write fills
      // `e`'s cache before the second reads it (two concurrent first
      // reads would each run the cache's fill job)
      () => {
        e.repartitionByRange(col("src"))
          .sortWithinPartitions("src", "rel", "dst")
          .write.mode("overwrite").parquet(s"$outDir/edges")
        e.repartitionByRange(col("dst"))
          .sortWithinPartitions("dst", "rel", "src")
          .write.mode("overwrite").parquet(s"$outDir/edges_by_dst")
      })
    finally { e.unpersist(); () }
  }

  /** Ingest-time VECTOR index build — the at-rest ANN layout the
    * serving path probes (the vector analog of [[buildIndex]]'s posting
    * tables; the reference builds a per-segment HNSW at index time,
    * `nidx/nidx_vector/src/indexer.rs`, and `/find` serves it from
    * disk). Four tables:
    *
    *  - `centroids` (cid, cvec, n_members): IVF coarse centroids,
    *    trained here with `kmeansIters` Lloyd rounds from a
    *    deterministic seed (the `numCentroids` lowest-id vectors).
    *    Driver-scale by construction — the serving side collects it
    *    once and probes in-process, like a query vector literal.
    *  - `assignments` (id, centroid_id): nearest-centroid assignment,
    *    the partition-pruning key.
    *  - `codebook` (cid, cw): PQ codewords ([[graft.operators.VectorSearch.pqTrain]],
    *    seeded from the `numCodewords` lowest-id vectors), full-dim;
    *    driver-scale like the centroids.
    *  - `codes` (id, code binary, centroid_id) PARTITIONED BY
    *    centroid_id: each vector's m-byte PQ code stored under its
    *    cluster directory — a probe is parquet partition pruning and
    *    the pruned scan reads m bytes per vector, never the raw
    *    embedding (the 100 TB contract: at dim=64/m=16 the code column
    *    is 16× narrower than the float vectors).
    *
    * Everything is deterministic (rounded scores, id tiebreaks), so
    * rebuilding the index from the same corpus is byte-stable.
    */
  def buildVectorIndex(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      outDir: String,
      numCentroids: Int = 16,
      kmeansIters: Int = 2,
      numCodewords: Int = 16,
      m: Int = 16,
      pqIters: Int = 2): Unit = {
    import graft.operators.VectorSearch
    val spark = vectors.sparkSession
    import spark.implicits._

    // the IVF chain and the PQ chain are independent until the codes
    // table joins their outputs, so they build as concurrent jobs
    var codebook: Seq[(Int, Seq[Float])] = Nil
    inParallel(spark)(
      () => {
        // --- IVF: deterministic seed → Lloyd rounds → final assignment ---
        def collectCentroids(df: DataFrame): Seq[(Int, Seq[Float])] =
          df.collect().toSeq
            .map(r => (r.getInt(0), r.getSeq[Float](1)))
            .sortBy(_._1)
        var cents = collectCentroids(
          vectors.orderBy(col(idCol)).limit(numCentroids)
            .select(row_number().over(org.apache.spark.sql.expressions.Window
                .orderBy(col(idCol))).cast("int").as("cid"),
              col(vecCol).as("cvec")))
        (1 to kmeansIters).foreach { _ =>
          // collect per round: K×dim floats (driver-scale); chaining the
          // lazy plans instead would double the tree every iteration
          cents = collectCentroids(
            VectorSearch.kmeansStep(vectors, idCol, vecCol,
                cents.toDF("cid", "cvec"), "cid", "cvec")
              .select(col("centroid_id").cast("int").as("cid"),
                transform(col("cvec"), _.cast("float")).as("cvec")))
        }
        val centDf = cents.toDF("cid", "cvec")
        val assignments = VectorSearch.ivfAssign(
            vectors, idCol, vecCol, centDf, "cid", "cvec")
          .select(col(idCol), col("centroid_id"))
        assignments.write.mode("overwrite").parquet(s"$outDir/assignments")
        val members = spark.read.parquet(s"$outDir/assignments")
          .groupBy("centroid_id").agg(count(lit(1)).as("n_members"))
          .collect().map(r => r.getAs[Number](0).intValue -> r.getLong(1)).toMap
        cents.map { case (cid, cv) => (cid, cv, members.getOrElse(cid, 0L)) }
          .toDF("cid", "cvec", "n_members")
          .write.mode("overwrite").parquet(s"$outDir/centroids")
      },
      () => {
        // --- PQ: deterministic seed → Lloyd rounds → binary codes ---
        val seed = vectors.orderBy(col(idCol)).limit(numCodewords)
          .select(col(vecCol)).collect().toSeq
          .zipWithIndex.map { case (r, i) => (i + 1, r.getSeq[Float](0)) }
        codebook = VectorSearch.pqTrain(vectors, idCol, vecCol, seed, m, pqIters)
        codebook.toDF("cid", "cw")
          .write.mode("overwrite").parquet(s"$outDir/codebook")
      })
    VectorSearch.pqCodesBinary(vectors, idCol, vecCol, codebook, m)
      .join(spark.read.parquet(s"$outDir/assignments"), idCol)
      .write.mode("overwrite").partitionBy("centroid_id")
      .parquet(s"$outDir/codes")
    writeText(spark, s"$outDir/vector_meta.json",
      s"""{"m": $m, "id_col": "$idCol"}""")
  }

  /** Per-vectorset at-rest vector indexes — the reference binds one
    * vector index PER VECTORSET config (`nidx_vector/src/config.rs:100-126`;
    * a resource can carry several named embedding models with different
    * dimensions). Each vectorset trains its own IVF centroids and PQ
    * codebook ([[buildVectorIndex]] on its slice — sets are independent,
    * so each set builds as its own concurrent branch, [[inParallel]]),
    * and the serving tables fold into ONE layout keyed by the vectorset
    * (the four folds run concurrently too):
    *
    *  - `codes` partitioned by (vectorset, centroid_id): a named-set
    *    request prunes to its vectorset directory FIRST, then probes
    *    clusters inside it — two-level partition pruning, no scan of
    *    other sets' codes;
    *  - `centroids`/`codebook`/`assignments` carry a `vectorset` column
    *    (driver-scale and id-keyed tables respectively).
    *
    * `vectors` must hold (idCol, vecCol, vsCol); dimensions may differ
    * between sets (matryoshka truncations are typical) as long as each
    * is divisible by `m`.
    *
    * `configs` carries the reference's per-vectorset index config
    * (`nidx_vector/src/config.rs:102-137`): `similarity` selects dot vs
    * cosine scoring at serve time (Dot is the reference's paragraph
    * default) and `normalizeVectors` applies L2 normalization AT INGEST
    * (`indexer.rs:102-110`; integration test
    * `nidx/tests/integration/vector_normalization.rs`) — a
    * normalize+dot set then scores identically to cosine, the
    * reference's quantization-friendly trick. Normalization happens
    * BEFORE training, so centroids/codebook/codes all live in the
    * normalized space; the config is persisted in `vector_meta.json`
    * and the serving side ([[IndexStore.vectorIndexSet]]) reads it back
    * — query-time behavior is a property of the INDEX, never of the
    * request. IVF assignment itself stays cosine (nearest-direction
    * clustering) for every config: for normalized and cosine sets that
    * is exact, and for raw dot sets the probe ranks centroids by dot so
    * cluster selection still agrees with the final scoring.
    */
  final case class VectorSetConfig(
      similarity: String = "cosine",
      normalizeVectors: Boolean = false)

  def buildVectorIndexSets(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      vsCol: String,
      outDir: String,
      numCentroids: Int = 16,
      kmeansIters: Int = 2,
      numCodewords: Int = 16,
      m: Int = 16,
      pqIters: Int = 2,
      configs: Map[String, VectorSetConfig] = Map.empty): Unit = {
    val sp = spark(vectors)
    val sets = vectors.select(col(vsCol).cast("string")).distinct()
      .collect().map(_.getString(0)).sorted // driver-scale: |vectorsets|
    require(sets.nonEmpty, "buildVectorIndexSets needs at least one vectorset")
    // validate every config eagerly (a typo'd similarity must fail the
    // BUILD, not the first query) and reject configs naming no set
    configs.foreach { case (vs, cfg) =>
      graft.functions.VectorFunctions.Similarity.parse(cfg.similarity)
      require(sets.contains(vs),
        s"vectorset config for '$vs' matches no set in the input (have: ${sets.mkString(", ")})")
    }
    inParallel(sp)(sets.toSeq.map(vs => () => {
      val cfg = configs.getOrElse(vs, VectorSetConfig())
      val slice0 = vectors.where(col(vsCol) === vs).drop(vsCol)
      val slice =
        if (!cfg.normalizeVectors) slice0
        else slice0.withColumn(vecCol, // float in, float out (indexer.rs:107)
          transform(graft.functions.VectorFunctions.normalize(col(vecCol)),
            _.cast("float")))
      buildVectorIndex(slice, idCol, vecCol, s"$outDir/_sets/$vs",
        numCentroids, kmeansIters, numCodewords, m, pqIters)
    }): _*)
    def fold(sub: String, partitionCols: Seq[String]): Unit = {
      val all = sets.map(vs => sp.read.parquet(s"$outDir/_sets/$vs/$sub")
        .withColumn("vectorset", lit(vs))).reduce(_ unionByName _)
      val w = all.write.mode("overwrite")
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
        .parquet(s"$outDir/$sub")
    }
    inParallel(sp)(
      () => fold("centroids", Seq("vectorset")),
      () => fold("codebook", Seq("vectorset")),
      () => fold("assignments", Seq("vectorset")),
      () => fold("codes", Seq("vectorset", "centroid_id")))
    // the per-set staging trees are folded copies — delete them, or the
    // dominant artifact (the code table) is stored twice at rest
    val staging = new org.apache.hadoop.fs.Path(s"$outDir/_sets")
    staging.getFileSystem(sp.sparkContext.hadoopConfiguration)
      .delete(staging, true)
    val cfgJson = sets.map { vs =>
      val c = configs.getOrElse(vs, VectorSetConfig())
      s""""$vs": {"similarity": "${c.similarity}", "normalize": ${c.normalizeVectors}}"""
    }.mkString(", ")
    writeText(sp, s"$outDir/vector_meta.json",
      s"""{"m": $m, "id_col": "$idCol", "vectorsets": [${sets.map(s => s""""$s"""").mkString(", ")}], "configs": {$cfgJson}}""")
  }

  /** Materialized `json_fields`: parse a JSON string column ONCE per
    * row (a single `from_json` with the merged field schema) into typed
    * top-level columns named `<jsonCol>_<field>`. The reference indexes
    * JSON attributes exactly once at ingest
    * (`nidx/nidx_json/src/lib.rs:144-147`) and serves every later
    * predicate from the index; the parquet analog is a typed column —
    * after [[buildJsonIndex]] writes it, filters compile to plain
    * column comparisons that push into the parquet scan
    * (`PushedFilters`), with zero JSON parsing at query time.
    *
    * @param fields field name → Spark SQL type string ("double",
    *               "string", "boolean", "timestamp"…)
    */
  def jsonFields(df: DataFrame, jsonCol: String, fields: Seq[(String, String)]): DataFrame = {
    val schema = fields.map { case (f, t) => s"`$f` $t" }.mkString(", ")
    val parsed = df.withColumn("__parsed", from_json(col(jsonCol), lit(schema)))
    fields.foldLeft(parsed) { case (d, (f, _)) =>
      d.withColumn(s"${jsonCol}_$f", col(s"__parsed.`$f`"))
    }.drop("__parsed")
  }

  /** Write the typed json_fields table — the index-build step whose
    * output makes JSON predicates parquet-pushable. */
  def buildJsonIndex(df: DataFrame, jsonCol: String,
      fields: Seq[(String, String)], outDir: String): Unit =
    jsonFields(df, jsonCol, fields).write.mode("overwrite").parquet(outDir)

  /** KB snapshot export — the export/import surface
    * (`nucliadb/src/nucliadb/export_import/`): every index table as
    * parquet plus a self-describing manifest (table → DDL schema + row
    * count). The reference streams a tagged protobuf sequence; the
    * Spark-native equivalent is a columnar snapshot whose manifest
    * carries the same integrity data — schema to validate against on
    * import, counts to detect truncation. Distributed end to end: the
    * only driver-side data is the manifest itself.
    */
  def exportSnapshot(tables: Map[String, DataFrame], outDir: String): Unit = {
    val entries = tables.toSeq.sortBy(_._1).map { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$outDir/$name")
      // record the AS-WRITTEN schema (parquet does not persist
      // nullability flags) so import validates against what it reads
      val back = df.sparkSession.read.parquet(s"$outDir/$name")
      val count = back.count()
      s"""{"table": "${name}", "schema": "${back.schema.toDDL.replace("\"", "\\\"")}", "rows": $count}"""
    }
    writeText(tables.head._2.sparkSession, s"$outDir/manifest.json",
      entries.mkString("[\n", ",\n", "\n]"))
  }

  /** Import a snapshot: load every manifest table, validating schema
    * and row count against the manifest (throws on mismatch — a
    * truncated or drifted snapshot must not import silently). */
  def importSnapshot(spark: org.apache.spark.sql.SparkSession,
      dir: String): Map[String, DataFrame] = {
    val manifest = readText(spark, s"$dir/manifest.json")
    val entry = """\{"table": "([^"]+)", "schema": "((?:[^"\\]|\\.)*)", "rows": (\d+)\}""".r
    entry.findAllMatchIn(manifest).map { m =>
      val (name, ddl, rows) = (m.group(1), m.group(2).replace("\\\"", "\""), m.group(3).toLong)
      val df = spark.read.parquet(s"$dir/$name")
      require(df.schema.toDDL == ddl,
        s"snapshot table $name schema drift: ${df.schema.toDDL} != $ddl")
      require(df.count() == rows,
        s"snapshot table $name truncated: ${df.count()} != $rows rows")
      name -> df
    }.toMap
  }

  /** KB snapshot as a TYPED RECORD STREAM — the ordered-stream parity
    * mode of [[exportSnapshot]] (the reference's export endpoint emits
    * a sequential stream of typed records,
    * `nucliadb/src/nucliadb/export_import/exporter.py`). Every table
    * row becomes one envelope record `(record_type, key, payload)`
    * with the payload as self-describing JSON, written as ONE dataset
    * range-partitioned and sorted by (record_type, key) — each file is
    * a sequential chunk of the stream, so a downstream consumer can
    * iterate it in order without a global sort. The manifest records,
    * per record type: the payload schema (DDL), the row count, and an
    * order-insensitive checksum (sum of the first 8 md5 hex digits of
    * each payload) so [[importStream]] proves integrity before
    * rebuilding tables.
    *
    * @param tables record_type → (table, key column)
    */
  def exportStream(tables: Map[String, (DataFrame, String)], outDir: String): Unit = {
    val spark = tables.head._2._1.sparkSession
    val stream = tables.toSeq.sortBy(_._1).map { case (name, (df, keyCol)) =>
      df.select(lit(name).as("record_type"),
        col(keyCol).cast("string").as("key"),
        to_json(struct(df.columns.map(col).toSeq: _*)).as("payload"))
    }.reduce(_ unionByName _)
    stream.repartitionByRange(col("record_type"), col("key"))
      .sortWithinPartitions("record_type", "key")
      .write.mode("overwrite").parquet(s"$outDir/stream")
    val stats = streamStats(spark, outDir)
    val entries = tables.toSeq.sortBy(_._1).map { case (name, (df, _)) =>
      // empty tables contribute no stream rows: rows 0, checksum 0
      val (n, csum) = stats.getOrElse(name, (0L, "0"))
      s"""{"record_type": "$name", "schema": "${df.schema.toDDL.replace("\"", "\\\"")}", "rows": $n, "checksum": $csum}"""
    }
    writeText(spark, s"$outDir/stream_manifest.json",
      entries.mkString("[\n", ",\n", "\n]"))
  }

  private def streamStats(spark: org.apache.spark.sql.SparkSession,
      dir: String): Map[String, (Long, String)] =
    spark.read.parquet(s"$dir/stream")
      .groupBy("record_type")
      .agg(count(lit(1)).as("n"),
        // decimal(38,0) accumulator: a long sum of 32-bit terms would
        // overflow-throw under ANSI at ~2^31 rows per type
        sum(conv(substring(md5(col("payload").cast("binary")), 1, 8), 16, 10)
          .cast("decimal(38,0)")).as("csum"))
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getDecimal(2).toBigInteger.toString)).toMap

  /** Import a record stream: validate per-type row count AND payload
    * checksum against the manifest (throws on mismatch — truncated,
    * duplicated, or tampered payloads must not import silently), then
    * rebuild each table by parsing payloads with the recorded schema.
    */
  def importStream(spark: org.apache.spark.sql.SparkSession,
      dir: String): Map[String, DataFrame] = {
    val manifest = readText(spark, s"$dir/stream_manifest.json")
    val entry = ("""\{"record_type": "([^"]+)", "schema": "((?:[^"\\]|\\.)*)", """ +
      """"rows": (\d+), "checksum": (\d+)\}""").r
    val stats = streamStats(spark, dir)
    val stream = spark.read.parquet(s"$dir/stream")
    val matches = entry.findAllMatchIn(manifest).toSeq
    // bidirectional: record types in the stream but not the manifest
    // are injected data, not just ignorable noise
    val declared = matches.map(_.group(1)).toSet
    val foreign = stats.keySet -- declared
    require(foreign.isEmpty, s"stream contains undeclared record types: $foreign")
    matches.map { m =>
      val (name, ddl) = (m.group(1), m.group(2).replace("\\\"", "\""))
      val (rows, csum) = (m.group(3).toLong, m.group(4))
      val (gotRows, gotSum) = stats.getOrElse(name, (0L, "0"))
      require(gotRows == rows, s"stream $name truncated: $gotRows != $rows rows")
      require(gotSum == csum, s"stream $name payload checksum mismatch")
      name -> stream.where(col("record_type") === name)
        .select(from_json(col("payload"),
          org.apache.spark.sql.types.StructType.fromDDL(ddl)).as("r"))
        .select("r.*")
    }.toMap
  }

  /** Ingest-time embedding generation with MLlib (HashingTF → IDF →
    * L2 normalize), producing `array<float>` columns compatible with
    * the vector operators. The reference gets embeddings from an
    * external Predict API; a self-contained TF-IDF vectorizer stands in
    * for local/CI runs, and the column contract (`array<float>`, fixed
    * dim) is what the rest of the engine depends on.
    */
  def tfidfVectors(docs: DataFrame, idCol: String, textCol: String, dim: Int = 64): DataFrame = {
    import org.apache.spark.ml.feature.{HashingTF, IDF, Normalizer}
    import org.apache.spark.ml.functions.vector_to_array
    val toks = docs.select(col(idCol),
      TextFunctions.tokens(col(textCol)).as("toks"))
    val tf = new HashingTF().setInputCol("toks").setOutputCol("tf")
      .setNumFeatures(dim).transform(toks)
    val idf = new IDF().setInputCol("tf").setOutputCol("tfidf").fit(tf).transform(tf)
    val normed = new Normalizer().setInputCol("tfidf").setOutputCol("vec").setP(2.0)
      .transform(idf)
    normed.select(col(idCol), vector_to_array(col("vec"), "float32").as("embedding"))
  }

  /** Streaming full-index scan in fixed batches — the BatchProducer
    * analog (`nidx_text/src/reader.rs:657-707`, batch size 1000). The
    * DataFrame is consumed incrementally partition-by-partition
    * (`toLocalIterator` never materializes the full result on the
    * driver).
    */
  def streamScan(df: DataFrame, batchSize: Int = 1000): Iterator[Seq[org.apache.spark.sql.Row]] = {
    import scala.jdk.CollectionConverters._
    df.toLocalIterator().asScala.grouped(batchSize)
  }

  /** Segment compaction (`nidx/src/scheduler.rs`/`worker.rs` analog):
    * rewrite a table directory into `numFiles` right-sized files.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, dir: String, outDir: String, numFiles: Int): Unit =
    spark.read.parquet(dir).repartition(numFiles).write.mode("overwrite").parquet(outDir)
}
