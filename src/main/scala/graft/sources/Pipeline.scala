package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.Dedup

/** End-to-end training-data curation: the composition every corpus
  * pipeline runs between raw documents and a trainset export —
  * quality band → exact-dup keep → near-dup cluster keep →
  * eval-set decontamination → deterministic split. Each stage is one
  * of the already-tested operators; this object only fixes the order
  * and the keep semantics, so the whole flow stays a single lazy
  * DataFrame (stages fuse where Catalyst can, and every membership
  * decision is a pure function of the data — rerunning the pipeline
  * on an appended corpus never flips a surviving row's split).
  */
object Pipeline {

  /** Curate `docs` into (idCol, split) survivors.
    *
    * Stage semantics (global statistics — fingerprint groups, pair
    * graph, contamination — are computed over the FULL corpus; keeps
    * apply to the running survivor set):
    *  1. quality: ≥ `minTokens` tokens and mean word length within
    *     [`mwlLo`, `mwlHi`] (the Gopher band, q64 semantics);
    *  2. exact dedup: survivor iff it is the min doc id of its
    *     normalized-text fingerprint group;
    *  3. near-dup dedup: MinHash-LSH pairs → connected components;
    *     each component keeps its min SURVIVING member (so a cluster
    *     whose global min id failed an earlier stage still contributes
    *     one representative — unique content is thinned, never lost);
    *  4. decontamination: shingle contamination against `evalDocs`
    *     below `contaminationMax` (docs without shingles score 0);
    *  5. split: deterministic md5 bucket → named splits.
    *
    * The composition is declared lazily, with two exceptions inherited
    * from its stages: [[Dedup.dedupClusters]] runs its fixpoint loop
    * (checkpoint + count jobs) when this method is CALLED, and
    * [[Dedup.minHashLsh]] caches its signature table for the session.
    */
  def curate(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      evalDocs: DataFrame,
      minTokens: Int = 30,
      mwlLo: Double = 4.2,
      mwlHi: Double = 5.0,
      minEstJaccard: Double = 0.25,
      contaminationMax: Double = 0.5,
      splits: Seq[(String, Int)] = Seq("train" -> 12, "val" -> 2, "test" -> 2),
      signatures: Option[DataFrame] = None,
      shingles: Option[DataFrame] = None): DataFrame = {
    // single let-bound predicate: one tokenizer run per row (both the
    // size and the mean-length reads are lambda-variable reads)
    val toks = TextFunctions.tokens(col(textCol))
    val qualityPred = element_at(transform(array(toks), t =>
      size(t) >= minTokens &&
        round(TextFunctions.meanTokenLen(t), 4).between(mwlLo, mwlHi)), 1)
    // survivors are carried as IDS from here on (round 18, guide §2.3
    // "project before the exchange"): every downstream decision —
    // cluster keep, contamination join, hash split — is a function of
    // the id alone, so the near-dup window and the joins below shuffle
    // one narrow column instead of full document rows
    val quality = docs.where(qualityPred)
    val keepExact = quality.select(col(idCol)).join(
      Dedup.exactKeepList(docs, idCol, textCol).select(col("keep_id").as(idCol)),
      Seq(idCol), "left_semi")
    // near-dup pairs from the at-rest signature table when the caller
    // has one (signatures are per-document, so the corpus subset is a
    // semi-join); otherwise one signature pass over the raw text
    val pairs = signatures match {
      case Some(sig) => Dedup.minHashLshFromSignatures(
        sig.join(docs.select(col(idCol)), Seq(idCol), "left_semi"),
        idCol, numHashes = 8, bandSize = 2, minEstJaccard = minEstJaccard)
      case None => Dedup.minHashLsh(docs, idCol, textCol,
        shingleSize = 3, numHashes = 8, bandSize = 2, minEstJaccard = minEstJaccard)
    }
    val comp = Dedup.dedupClusters(pairs, "a", "b")
      .withColumnRenamed("node", idCol)
    // NOTE (round 18): a component-side keeper selection (semi-join
    // comp ∩ survivors → min per component → anti-join the losers)
    // removes this window's corpus shuffle entirely, but re-executes
    // the quality+exact-keep subtree as the semi-join's build and
    // measured 40% SLOWER interleaved at sf0.1 (old 1.44 s vs
    // 2.01 s, min-of-5) — rejected with numbers. The
    // ids-only projection above already shrinks this shuffle to one
    // narrow column, which is the scalable part of the win.
    val keepNear = {
      import org.apache.spark.sql.expressions.Window
      keepExact.join(comp, Seq(idCol), "left")
        .withColumn("__grp", coalesce(col("component"), col(idCol)))
        .withColumn("__keep", min(col(idCol)).over(Window.partitionBy("__grp")))
        .where(col(idCol) === col("__keep"))
        .drop("component", "__grp", "__keep")
    }
    // decontamination from the at-rest shingle table when available
    // (both sides semi-join the same table); from raw text otherwise
    val cont = shingles match {
      case Some(sh) => Trainsets.contaminationFromShingles(
        sh.join(docs.select(col(idCol)), Seq(idCol), "left_semi"),
        idCol, evalDocs.select(col(idCol)))
      case None =>
        Trainsets.contaminationScores(docs, idCol, textCol, evalDocs, n = 3)
    }
    val clean = keepNear.join(cont, Seq(idCol), "left")
      .where(coalesce(col("contamination"), lit(0.0)) < contaminationMax)
      .drop("contamination")
    Trainsets.hashSplit(clean, idCol, splits).select(col(idCol), col("split"))
  }
}
