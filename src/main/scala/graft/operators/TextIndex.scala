package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted inverted text index + BM25 retrieval — the lexical
  * data-selection primitive of a training pipeline (retrieval-driven
  * selection, "find corpus documents like these seed documents", and
  * the lexical half of benchmark decontamination-by-retrieval).
  *
  * Layout under `dir` (the same segment-append lifecycle as the
  * minhash / IVF stores, [[Dedup.writeMinhashIndex]] /
  * [[Similarity.writeIvfIndex]] — the reference grows stores by
  * appending sorted batches rather than rewriting,
  * src/io/tablet_writer.cc:107-230):
  *
  *  - `postings/`  (term, doc_id, tf) — repartitioned BY TERM and
  *    sorted within partitions, so one term's postings co-locate in
  *    few files and parquet min/max statistics prune term lookups
  *    (the row-key-range tablet locality of the reference,
  *    include/tera/table.h:29-37, transposed to terms);
  *  - `docstats/`  (doc_id, dl) — document lengths for BM25's length
  *    normalization;
  *  - a properties sidecar naming the tokenizer, written LAST
  *    (write-then-rename) and taken down across an append, so a
  *    mid-commit crash leaves a refusing directory, never a
  *    valid-looking index missing half a batch.
  *
  * Statistics design: df and corpus aggregates are NOT stored — df
  * derives at query time from the matched postings themselves (one
  * aggregation over candidate rows only) and (N, avgdl) from one
  * narrow docstats aggregate. Stored statistics would go stale on
  * every append; derived ones are consistent by construction.
  *
  * Scoring is Robertson/Spärck Jones BM25 (Robertson & Walker,
  * SIGIR 1994) in the non-negative idf form Lucene ships:
  * idf = ln(1 + (N - df + 0.5)/(df + 0.5)). Query-term multiplicity
  * is ignored (the common k3→0 simplification).
  */
object TextIndex {

  private val Props = graft.sources.Sidecar("_graft_textindex.properties",
    "text index", "build with writeTextIndex")
  /** The one tokenizer this index format bakes in (recorded in the
    * sidecar so a future variant cannot silently mix). */
  private val Tokenizer = "lower_ws"

  /** Lowercase whitespace tokens, empties dropped — deliberately the
    * trivial tokenizer, so every term is reproducible in plain SQL
    * (`list_filter(string_split(lower(text), ' '), t -> t <> '')`). */
  def terms(text: Column): Column =
    filter(split(lower(text), " ", -1), t => t =!= "")

  /** (doc_id, term, tf) — one shuffle, map-side partial counts. */
  private def tokenTable(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(terms(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))

  /** Build and persist the index. Postings parquet first, docstats
    * second (derived from the postings just written — one narrow
    * re-read, no second tokenize pass), sidecar last. */
  def writeTextIndex(docs: DataFrame, dir: String): Unit = {
    val spark = docs.sparkSession
    tokenTable(docs)
      .repartition(col("term"))
      .sortWithinPartitions(col("term"), col("doc_id"))
      .write.mode("overwrite").parquet(s"$dir/postings")
    spark.read.parquet(s"$dir/postings")
      .groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
      .write.mode("overwrite").parquet(s"$dir/docstats")
    writeProps(spark, dir)
  }

  /** Incrementally grow the index: tokenize ONLY the new batch and
    * append its postings + docstats segments. The accumulated corpus
    * is never re-tokenized. Same invalidate-then-revalidate sidecar
    * discipline as [[Dedup.appendToMinhashIndex]]; same caller
    * contract — `newDocs` ids must not already be present. */
  def appendToTextIndex(newDocs: DataFrame, dir: String): Unit = {
    val spark = newDocs.sparkSession
    requireProps(spark, dir)
    Props.down(spark, dir)
    // materialize the batch's token aggregation once: it feeds both
    // segment writes, and an unmaterialized plan would re-run the
    // tokenize + shuffle (the dominant append cost) for docstats
    val toks = tokenTable(newDocs).localCheckpoint()
    toks.repartition(col("term"))
      .sortWithinPartitions(col("term"), col("doc_id"))
      .write.mode("append").parquet(s"$dir/postings")
    toks.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
      .write.mode("append").parquet(s"$dir/docstats")
    writeProps(spark, dir)
  }

  private def writeProps(spark: SparkSession, dir: String): Unit =
    Props.write(spark, dir, "tokenizer" -> Tokenizer)

  private def requireProps(spark: SparkSession, dir: String): Unit = {
    val tok = Props.require(spark, dir)("tokenizer")(identity[String])
    require(tok == Tokenizer,
      s"index at $dir uses tokenizer '$tok'; this build understands '$Tokenizer'")
  }

  /** Compact the index: rewrite the accumulated postings segments back
    * into one term-partitioned, term-sorted layout — the analogue of
    * the reference's background compaction (many appended LSM batches
    * rewritten into sorted SSTs, src/io/default_compact_strategy.cc:59-120).
    * Appends keep queries CORRECT forever (statistics derive at read
    * time), but each append adds file segments whose term ranges
    * overlap everything, so parquet min/max term pruning decays;
    * compaction restores it.
    *
    * `dropDocs` (optional, a frame bearing `doc_id`) removes documents
    * during the same rewrite — the right-to-erasure path, and the
    * consumer of [[Curation.snapshotDiff]]'s `removed` rows. Removal
    * is exact: both postings and docstats drop the ids, so df/N/avgdl
    * derived from the compacted index never see the removed docs.
    *
    * Crash discipline: the new layout builds in sibling staging dirs
    * while the sidecar is DOWN; the old dirs are replaced and the
    * sidecar returns only after both renames. A crash mid-compaction
    * leaves a refusing directory (possibly with a `.stage` remnant to
    * clean), never an index mixing old and new segments. */
  def compactTextIndex(dir: String,
      dropDocs: Option[DataFrame] = None): Unit = {
    val spark = org.apache.spark.sql.SparkSession.active
    requireProps(spark, dir)
    Props.down(spark, dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def rewrite(sub: String, shape: DataFrame => DataFrame): Unit = {
      val live = new org.apache.hadoop.fs.Path(s"$dir/$sub")
      val stage = new org.apache.hadoop.fs.Path(s"$dir/$sub.stage")
      shape(spark.read.parquet(live.toString))
        .write.mode("overwrite").parquet(stage.toString)
      fs.delete(live, true)
      if (!fs.rename(stage, live))
        throw new java.io.IOException(s"failed to move $stage to $live")
    }
    def dropped(df: DataFrame): DataFrame = dropDocs match {
      case None => df
      case Some(ids) =>
        df.join(ids.select(col("doc_id")).distinct(), Seq("doc_id"), "left_anti")
    }
    rewrite("postings", df => dropped(df)
      .repartition(col("term"))
      .sortWithinPartitions(col("term"), col("doc_id")))
    rewrite("docstats", dropped)
    writeProps(spark, dir)
  }

  /** Per matched (query term, document): `(query_id, term, doc_id,
    * tf, df, dl)` — the exact-integer retrieval statistics BM25 folds.
    * This is the oracle-checkable primitive: every column is an exact
    * count, so a SQL replica reproduces it bit-for-bit.
    *
    * Scale shape: `queries` is a seed set — small by definition — so
    * its distinct terms BROADCAST into the postings scan (term-pruned
    * by the parquet sort order); df is one aggregation over the
    * matched postings only, broadcast back; the docstats join is the
    * one corpus-sized exchange, and it moves two long columns. */
  def matchStats(queries: DataFrame, dir: String): DataFrame = {
    val spark = queries.sparkSession
    requireProps(spark, dir)
    val postings = spark.read.parquet(s"$dir/postings")
    val docstats = spark.read.parquet(s"$dir/docstats")
    val qt = queries
      .select(col("query_id"), explode(terms(col("text"))).as("term"))
      .distinct()
    val matched = postings
      .join(broadcast(qt.select(col("term")).distinct()), Seq("term"))
    val dfByTerm = matched.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
    matched
      .join(broadcast(qt), Seq("term"))
      .join(broadcast(dfByTerm), Seq("term"))
      .join(docstats, Seq("doc_id"))
      .select(col("query_id"), col("term"), col("doc_id"),
        col("tf"), col("df"), col("dl"))
  }

  /** BM25 top-k documents per query: `(query_id, rank, doc_id,
    * score)`, rank dense in (score desc, doc_id) order. One extra
    * exchange over [[matchStats]] (the per-(query, doc) score fold)
    * plus a per-query window over candidates only. The ln-based score
    * is a double — ranking is deterministic in-engine, but not
    * bit-promised across engines, so the oracle gate rides
    * [[matchStats]]' integers and this op's gate row is rows-only
    * (differential-tested against an in-memory reference instead). */
  def bm25TopK(queries: DataFrame, dir: String, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val spark = queries.sparkSession
    val stats = matchStats(queries, dir)
    val corpus = spark.read.parquet(s"$dir/docstats")
      .agg(count(lit(1)).cast("double").as("n_docs"),
        avg(col("dl")).as("avgdl"))
    val scored = stats.crossJoin(broadcast(corpus))
      .withColumn("_idf",
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("_s",
        col("_idf") * col("tf") * (lit(k1) + 1.0) /
          (col("tf") + lit(k1) *
            (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl"))))
    val byDoc = scored.groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("_s")).as("score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    byDoc.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"), col("score"))
  }
}
