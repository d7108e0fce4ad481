package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over embedding columns
  * (`Array[Float]`), for training-data curation at scale.
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact cosine top-k — the correctness baseline.
  *    All math in double, expression-level (`zip_with` + `aggregate`
  *    fold), norms precomputed per row BEFORE the join so the pairwise
  *    step is one multiply-divide, not a re-reduction.
  *  - [[lshTopK]]: random-hyperplane LSH — the 100 TB path. Vectors
  *    bucket by sign signature; only same-bucket pairs are scored. At
  *    cluster scale the bucket join replaces the full cross product
  *    (candidates/vector ≈ N / 2^planes).
  */
object Similarity {

  /** Sequential-fold dot product in double (native codegen'd
    * expression; fold order matches DuckDB's list_sum for oracle
    * bit-parity). */
  def dot(a: Column, b: Column): Column =
    graft.functions.cellfunctions.vec_dot(a, b)

  def norm(v: Column): Column = sqrt(dot(v, v))

  /** Exact cosine top-k of `corpus` vectors for each `queries` vector.
    * Output: (qid, rank, vec_id) — ranks are deterministic via
    * (sim desc, vec_id) ordering.
    *
    * The query batch is BROADCAST — load-bearing, not an optimization:
    * the only distributed form of the `qid != vec_id` theta join is a
    * nested-loop pass of the corpus against an executor-resident query
    * set. That caps the batch at the broadcast budget (~millions of
    * vectors); a corpus-shaped query set belongs on the IVF/LSH paths,
    * whose cell equi-joins go distributed past
    * [[BroadcastQueryBytes]]. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("qid"), col("embedding").as("qv"))
      .withColumn("qnorm", norm(col("qv"))).where(col("qnorm") > 0)
    val c = corpus.select(col("vec_id"), col("embedding").as("cv"))
      .withColumn("cnorm", norm(col("cv"))).where(col("cnorm") > 0)
    val pairs = c.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("sim", dot(col("qv"), col("cv")) / (col("qnorm") * col("cnorm")))
      // Inf-component vectors pass the norm>0 gate and score NaN — and
      // NaN sorts FIRST under desc, outranking every real neighbor
      .where(!isnan(col("sim")))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id"))
    pairs.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id"))
  }

  /** Int8-quantized cosine top-k — the 4× memory lever for corpus-scale
    * search (float32 embeddings → 1 packed byte per element, so a 100 TB
    * embedding store scans and shuffles a quarter of the bytes, and a
    * broadcast query set carries 4× more vectors under the same budget).
    * Per-vector symmetric quantization; scales CANCEL in cosine, so the
    * similarity is an exact integer dot over packed bytes (codegen'd
    * [[graft.functions.VecDotI8]]) normalized by integer self-norms —
    * deterministic and engine-reproducible (round half-away-from-zero).
    * Rank error vs exact float cosine is the quantization error only
    * (recall asserted in PipelineOpsSpec).
    */
  def quantizedTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    import graft.functions.cellfunctions.{vec_dot_i8, vec_quant_i8}
    def quantized(df: DataFrame, id: String, q: String, nrm: String): DataFrame =
      df.select(col("vec_id").as(id), vec_quant_i8(col("embedding")).as(q))
        .withColumn(nrm, sqrt(vec_dot_i8(col(q), col(q)).cast("double")))
    // zero vectors quantize to zero norms; their cosine is NaN and Spark
    // sorts NaN ABOVE every real sim — drop them instead of letting one
    // empty embedding become everyone's rank-1 neighbor
    val qs = quantized(queries, "qid", "qq", "qnorm").where(col("qnorm") > 0)
    val cs = quantized(corpus, "vec_id", "cq", "cnorm").where(col("cnorm") > 0)
    val pairs = cs.join(broadcast(qs), col("vec_id") =!= col("qid"))
      .withColumn("sim", vec_dot_i8(col("qq"), col("cq")).cast("double") /
        (col("qnorm") * col("cnorm")))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id"))
    pairs.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id"))
  }

  /** Derived plane matrices, memoized per (seed, dim, planes): they are
    * deterministic, and re-deriving planes×dim gaussians at every query
    * build site was pure redundant driver work. Bounded: one entry per
    * distinct LSH configuration the process ever uses. */
  private val hyperCache = scala.collection.concurrent.TrieMap
    .empty[(Long, Int, Int), Array[Array[Double]]]

  /** Random-hyperplane sign bucket (deterministic per-table seed).
    * `planes` bits -> int bucket id. The plane matrix ships to executors
    * as a codegen reference object, not inlined literals, so high
    * `planes × tables × dim` stays O(1) generated code.
    */
  def hyperplaneBucket(v: Column, dim: Int, planes: Int, seed: Long): Column = {
    val hyper = hyperCache.getOrElseUpdate((seed, dim, planes), {
      val rng = new scala.util.Random(seed)
      Array.fill(planes)(Array.fill(dim)(rng.nextGaussian()))
    })
    graft.functions.cellfunctions.hyperplane_bucket(v, hyper)
  }

  private[operators] def withBuckets(df: DataFrame, vecCol: String, dim: Int,
      planes: Int, tables: Int): DataFrame = {
    val entries = (0 until tables).map { t =>
      struct(lit(t).as("table"),
        hyperplaneBucket(col(vecCol), dim, planes, 0x51a7L + t).as("bucket"))
    }
    df.withColumn("_tb", explode(array(entries: _*)))
      .withColumn("table", col("_tb.table"))
      .withColumn("bucket", col("_tb.bucket"))
      .drop("_tb")
  }

  /** Ceiling on a DERIVED cell count: 2^18 centroids × 64 dims is
    * ~134 MB of driver-resident doubles during training — the 8 GiB
    * default-heap budget class. At the per-cell cap 10k this admits a
    * ~1.3e9-vector corpus at nprobe = 2; past that, raise the cap (or
    * pass nlist explicitly). */
  private[graft] val MaxDerivedNlist = 1 << 18

  /** Corpus-scaled coarse-quantizer size — the exact formula the
    * cap-feasibility guard's error message prescribes
    * (`nlist ≈ 2·rows/cap`): enough cells that a BALANCED assignment
    * sits at HALF the per-cell cap, rounded up to a power of two and
    * clamped to `[minList, MaxDerivedNlist]`. `rows` is the total
    * bucketed-row count (vectors × nprobe for multi-probe callers), so
    * a zero-argument run is feasible BY CONSTRUCTION at any corpus the
    * clamp admits — the round-14 silent-empty shape (10M vectors into
    * 256 cells, every cell over cap) derives 4096 cells instead. The
    * min clamps reproduce the historical fixed defaults on small
    * corpora (256 for the SemDeDup passes, 16 for the IVF indexes), so
    * existing gates are bit-unchanged. */
  private[graft] def derivedNlist(rows: Long, cap: Int, minList: Int): Int = {
    require(minList > 0 && (minList & (minList - 1)) == 0,
      s"minList must be a power of two, got $minList")
    val want = 2L * rows / math.max(cap, 1)
    var p = minList.toLong
    while (p < want && p < MaxDerivedNlist) p <<= 1
    p.toInt
  }

  /** Corpus-scaled hyperplane count for the LSH bucketers: the sizing
    * rule [[graft.operators.Dedup.embeddingNearDuplicatesLsh]]
    * documents (`2^planes >= ~10·N/cap` keeps the EXPECTED bucket
    * population at a tenth of the cap), clamped to [8, 24] — 8
    * reproduces the historical default on small corpora; 24 (16.7M
    * buckets) admits ~1.6e10 vectors at cap 10k. More planes cost
    * recall (the published 1-(1-(1-θ/π)^planes)^tables curve) — the
    * derived value buys FEASIBILITY first; raise `tables` to buy the
    * recall back. */
  private[graft] def derivedPlanes(rows: Long, cap: Int): Int = {
    val want = 10L * rows / math.max(cap, 1)
    var planes = 8
    while ((1L << planes) < want && planes < 24) planes += 1
    planes
  }

  /** Train `nlist` coarse centroids with `iters` Lloyd iterations of
    * spherical k-means (cosine assignment, mean update). Centroids live
    * on the driver between iterations — nlist × dim doubles, a few KB —
    * while every data pass is a distributed job: assignment is an
    * argmax over codegen'd dot products, the update one
    * posexplode + (cluster, pos) average. Deterministic: seeds pick the
    * initial centers by hashed vec_id order, no RNG at runtime.
    */
  def trainCentroids(corpus: DataFrame, dim: Int, nlist: Int,
      iters: Int = 3, seed: Long = 7L): Array[Array[Double]] = {
    val base = corpus.select(col("vec_id"), col("embedding"))
    var centroids: Array[Array[Double]] = base
      .orderBy(xxhash64(col("vec_id"), lit(seed)))
      .limit(nlist)
      .collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    for (_ <- 0 until iters) {
      val assigned = base.withColumn("cluster",
        assignCluster(col("embedding"), centroids))
      val means = assigned
        .select(col("cluster"), posexplode(col("embedding")))
        .groupBy(col("cluster"), col("pos"))
        .agg(avg(col("col")).as("m"))
        .collect()
      val next = Array.fill(centroids.length)(new Array[Double](dim))
      means.foreach(r => next(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
      // empty clusters keep their previous center
      val counts = means.map(_.getInt(0)).toSet
      centroids = centroids.indices
        .map(i => if (counts(i)) next(i) else centroids(i)).toArray
    }
    centroids
  }

  /** Argmax-cosine cluster id for a vector column against fixed
    * centroids. Centroids are pre-normalized (cosine == dot after that;
    * the vector's own norm is constant across the argmax) and travel as
    * a codegen reference object — O(1) generated code at any nlist,
    * where inlined literals stop compiling around nlist ≈ thousands.
    */
  private[operators] def assignCluster(v: Column, centroids: Array[Array[Double]]): Column =
    graft.functions.cellfunctions.nearest_centroid(v,
      graft.functions.CentroidOps.normalizeRows(centroids))

  /** Per-row top-`nprobe` cluster ids (for the query side of IVF; also
    * the stream side of
    * [[graft.streaming.Observers.streamingSemanticMatches]]). */
  private[graft] def probeClusters(v: Column, centroids: Array[Array[Double]],
      nprobe: Int): Column =
    graft.functions.cellfunctions.top_centroids(v,
      graft.functions.CentroidOps.normalizeRows(centroids), nprobe)

  // ---- IVF index persistence --------------------------------------
  // Centroids are nlist × dim doubles — a few KB to a few MB — and the
  // expensive part of the index is the `iters` full training passes, so
  // they persist NEXT TO the data like the table state does
  // (graft.sources.TableState; the reference's analogue: schema knobs
  // persist in master meta, tera table_schema.proto:31-64). A reopened
  // table probes without retraining.

  private val Centroids = graft.sources.Sidecar("_graft_ivf_centroids.txt",
    "IVF centroids", "rebuild with writeIvfIndex")

  /** Persist centroids under `dir` (one row per line, exact-round-trip
    * doubles via Double.toString/parseDouble), replaced by rename. */
  def writeCentroids(spark: org.apache.spark.sql.SparkSession, dir: String,
      centroids: Array[Array[Double]]): Unit =
    Centroids.write(spark, dir,
      centroids.map(_.mkString(",")).mkString("", "\n", "\n"))

  def readCentroids(spark: org.apache.spark.sql.SparkSession,
      dir: String): Option[Array[Array[Double]]] =
    Centroids.read(spark, dir).map(_.lines
      .map(_.split(",").map(java.lang.Double.parseDouble)).toArray)

  /** Load persisted centroids from `indexDir`, or train and persist them
    * there. Loading is a driver-side file read — no Spark jobs, no
    * training passes. The stored index must MATCH the request: a dim
    * mismatch throws (dotRow would silently truncate to the shorter
    * length and assign plausibly-wrong clusters), and an nlist mismatch
    * retrains and overwrites (the stored index answers a different
    * pruning granularity than the caller asked for).
    */
  def loadOrTrainCentroids(corpus: DataFrame, dim: Int, nlist: Int,
      iters: Int, indexDir: String): Array[Array[Double]] = {
    val spark = corpus.sparkSession
    readCentroids(spark, indexDir) match {
      case Some(c) if c.exists(_.length != dim) =>
        throw new IllegalArgumentException(
          s"stored IVF index at $indexDir has dim ${c.head.length}, " +
            s"requested $dim — delete the index or fix the request")
      case Some(c) if c.length == nlist => c
      case _ =>
        val c = trainCentroids(corpus, dim, nlist, iters)
        writeCentroids(spark, indexDir, c)
        c
    }
  }

  // ---- Assigned-corpus IVF index ----------------------------------
  // Centroid persistence (above) removes the TRAINING passes from a
  // reopened table, but the corpus-side assignment — one nearest-
  // centroid argmax per vector, over the WHOLE accumulated corpus —
  // still re-ran on every query. At 100 TB that scan dwarfs training,
  // and it is the part that grows with the corpus. So the full inverted
  // file persists like the minhash index does (Dedup.writeMinhashIndex):
  // assigned vectors as parquet (vec_id, embedding, nrm, cell) next to
  // the centroids, plus a properties sidecar recording the (dim, nlist)
  // the index BAKES IN. An increment assigns ONLY the new batch — with
  // the stored quantizer, so a parameter mismatch is impossible by
  // construction — and appends; the accumulated corpus is never
  // re-assigned. Same crash discipline as the minhash sidecar: parquet
  // first, sidecar last; appends invalidate-then-revalidate.

  private val IvfProps = graft.sources.Sidecar("_graft_ivf.properties",
    "IVF index", "build with writeIvfIndex")

  private def writeIvfProps(spark: org.apache.spark.sql.SparkSession,
      dir: String, dim: Int, nlist: Int, quantized: Boolean): Unit =
    IvfProps.write(spark, dir,
      "dim" -> dim, "nlist" -> nlist, "quantized" -> quantized)

  /** The index's recorded (dim, nlist, quantized); refuses when the
    * sidecar is absent — a bare parquet directory (or one whose append
    * died mid-commit) is NOT an index. */
  private def readIvfProps(spark: org.apache.spark.sql.SparkSession,
      dir: String): (Int, Int, Boolean) = {
    val p = IvfProps.require(spark, dir)
    (p.int("dim"), p.int("nlist"),
      p.opt("quantized")(_.toBoolean).getOrElse(false))
  }

  /** A stored inverted file, opened: assigned vectors (float form:
    * `(vec_id, embedding, nrm, cell)`; quantized form:
    * `(vec_id, qvec, qnorm, cell)`), its quantizer, and which form it
    * is. */
  case class IvfIndex(vectors: DataFrame,
      centroids: Array[Array[Double]], quantized: Boolean)

  /** The index row a float-form index stores; the quantized form packs
    * the vector to int8 AFTER the (float) cell assignment — the cell
    * geometry is identical across forms, only the stored bytes and the
    * scoring arithmetic differ. */
  private def indexRows(assigned: DataFrame, quantize: Boolean): DataFrame =
    if (!quantize)
      assigned.select(col("vec_id"), col("cv").as("embedding"),
        col("cnorm").as("nrm"), col("cluster").as("cell"))
    else {
      import graft.functions.cellfunctions.{vec_dot_i8, vec_quant_i8}
      assigned
        .withColumn("qvec", vec_quant_i8(col("cv")))
        .select(col("vec_id"), col("qvec"),
          sqrt(vec_dot_i8(col("qvec"), col("qvec")).cast("double"))
            .as("qnorm"),
          col("cluster").as("cell"))
    }

  /** Build and persist the full IVF index under `dir`: train (or reuse
    * a stored, nlist-compatible) quantizer, assign each corpus vector
    * to its cell (zero-norm vectors drop, as in every cosine path), and
    * store (vec_id, embedding, nrm, cell) — norms
    * included, so queries over the index never recompute them. Write
    * order: parquet (clears the directory), then centroids, then the
    * props sidecar — a reader never sees a sidecar without its data.
    *
    * `quantize = true` stores int8-packed vectors and integer-dot
    * self-norms instead of the float embeddings — a 4× cut of the
    * index's dominant bytes (the 100 TB lever: scans, shuffles and
    * caches all shrink with it). Scoring over a quantized index is the
    * [[quantizedTopK]] arithmetic (scales cancel in cosine; rank error
    * is the quantization error only). The EXACT-verify consumers
    * ([[graft.operators.Dedup.semanticMatchesAgainstIndex]] and the
    * streaming twin) refuse a quantized index rather than silently
    * demote their ">= threshold is exact" contract. */
  def writeIvfIndex(corpus: DataFrame, dir: String, dim: Int,
      nlist: Int = 0, iters: Int = 3, quantize: Boolean = false): Unit = {
    val spark = corpus.sparkSession
    // nlist = 0 (the default) derives the cell count from the corpus
    // ([[derivedNlist]], min clamp 16 — the historical fixed default —
    // against the downstream consumers' 10k per-cell cap), so a
    // zero-argument index build stays feasible for
    // semanticMatchesAgainstIndex / ivfTopKOverIndex at any corpus the
    // clamp admits; explicit nlist keeps exact previous behavior
    val list = if (nlist == 0) derivedNlist(corpus.count(), DefaultCellCap, 16)
      else nlist
    // loadOrTrainCentroids semantics (dim refusal, nlist retrain), but
    // with every WRITE deferred past the parquet overwrite below, which
    // deletes the target directory wholesale
    val centroids = readCentroids(spark, dir) match {
      case Some(c) if c.exists(_.length != dim) =>
        throw new IllegalArgumentException(
          s"stored IVF index at $dir has dim ${c.head.length}, " +
            s"requested $dim — delete the index or fix the request")
      case Some(c) if c.length == list => c
      case _ => trainCentroids(corpus, dim, list, iters)
    }
    indexRows(assignedCorpus(corpus, centroids), quantize)
      .write.mode("overwrite").parquet(dir)
    writeCentroids(spark, dir, centroids)
    writeIvfProps(spark, dir, dim, list, quantize)
  }

  /** The per-cell population cap the index consumers default to
    * ([[graft.operators.Dedup.semanticMatchesAgainstIndex]]'s
    * `maxCellSize`) — the denominator of every derived cell count. */
  private[graft] val DefaultCellCap = 10000

  /** Driver-materialized size cap for the EXPLICIT query-side
    * broadcast in the ANN scoring joins. Past this the hint is
    * dropped and the cell equi-join plans distributed (both sides
    * exchange by `cluster` like any other join) — 256 MB clears the
    * budgets a broadcast must pass (`spark.driver.maxResultSize` 1g
    * collects the frame first; executors then each hold a copy) with
    * margin, while keeping every test / gate / 1M-probe batch on the
    * cheap broadcast path. Found LIVE at the 10M tier (round 15):
    * pq_twin_match's 100k-query batch carries a 16 KB LUT per row,
    * exploded ×nprobe — an unconditional `broadcast(q)` tried to ship
    * ~13 GB through driver task results and died on maxResultSize
    * before scoring a single pair. A query batch is corpus-shaped in
    * incremental pipelines, so the hint must be load-dependent, same
    * as every other scale decision in this file. */
  private[graft] val BroadcastQueryBytes = 256L * 1024 * 1024

  /** `q` hinted for broadcast only when `rows × bytesPerRow` — the
    * caller's own estimate of the EXPLODED query frame it is about to
    * join (norms/ids/overhead included loosely; order of magnitude is
    * what matters) — fits [[BroadcastQueryBytes]]. The one extra
    * action (`rows` is a `count()` of the query batch) is a scan of
    * the small side, the same price the cap-feasibility guards
    * already pay on the match paths. */
  private def broadcastIfSmall(q: DataFrame, rows: Long,
      bytesPerRow: Long): DataFrame =
    if (rows * bytesPerRow <= BroadcastQueryBytes) broadcast(q) else q

  /** Incrementally grow a stored IVF index: assign ONLY the new batch —
    * with the index's own stored quantizer — and append. The
    * accumulated corpus is never re-assigned; this is the embedding
    * analogue of [[graft.operators.Dedup.appendToMinhashIndex]] (and of
    * the reference's append-a-sorted-batch LSM discipline,
    * src/io/tablet_writer.cc:107-230). The sidecar comes DOWN before
    * the append and back AFTER it, so a mid-commit crash leaves a
    * loudly-refusing directory, never a valid-looking index missing the
    * batch. Caller contract: `newEmb` vec_ids must be disjoint from the
    * index's (same as the minhash append). */
  def appendToIvfIndex(newEmb: DataFrame, dir: String): Unit = {
    val spark = newEmb.sparkSession
    val (dim, nlist, quantized) = readIvfProps(spark, dir)
    val centroids = readCentroids(spark, dir).getOrElse(
      throw new IllegalStateException(s"IVF index at $dir has a sidecar " +
        "but no centroids — rebuild with writeIvfIndex"))
    require(centroids.length == nlist && centroids.forall(_.length == dim),
      s"centroids at $dir disagree with sidecar (dim=$dim, nlist=$nlist)")
    // one-row probe: a batch of the wrong width would assign every
    // vector by a silently-truncated dot product
    newEmb.select(size(col("embedding"))).limit(1).collect()
      .foreach(r => require(r.getInt(0) == dim,
        s"batch embeddings have dim ${r.getInt(0)} but the index bakes " +
          s"in dim=$dim"))
    IvfProps.down(spark, dir)
    indexRows(assignedCorpus(newEmb, centroids), quantized)
      .write.mode("append").parquet(dir)
    writeIvfProps(spark, dir, dim, nlist, quantized)
  }

  /** Compact the stored IVF index, optionally erasing vectors — the
    * embedding twin of [[graft.operators.Dedup.compactMinhashIndex]]:
    * folds appended segments into one layout and drops `dropVecs` ids
    * from the inverted file exactly (queries over the compacted index
    * can never surface an erased vector — the rows are gone, not
    * masked). Centroids and cell geometry are untouched: compaction
    * never re-assigns, so append/compact cycles stay bit-stable.
    * Sidecar-down across the rewrite, `_`-prefixed staging. */
  def compactIvfIndex(dir: String,
      dropVecs: Option[DataFrame] = None): Unit = {
    val spark = org.apache.spark.sql.SparkSession.active
    val (dim, nlist, quantized) = readIvfProps(spark, dir)
    IvfProps.down(spark, dir)
    IndexFiles.rewriteRoot(spark, dir, IndexFiles.minus(dropVecs, "vec_id"))
    writeIvfProps(spark, dir, dim, nlist, quantized)
  }

  /** Open a stored IVF index; parquet readers skip the `_`-prefixed
    * centroid and sidecar files. */
  def readIvfIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): IvfIndex = {
    val (_, _, quantized) = readIvfProps(spark, dir)
    val centroids = readCentroids(spark, dir).getOrElse(
      throw new IllegalStateException(s"IVF index at $dir has a sidecar " +
        "but no centroids — rebuild with writeIvfIndex"))
    IvfIndex(spark.read.parquet(dir), centroids, quantized)
  }

  /** [[ivfTopK]] driven by a stored index: the corpus side rides the
    * persisted assignment (no per-query argmax scan, no norm
    * recomputation) — identical output to [[ivfTopK]] over the same
    * corpus and quantizer, proven by spec. Over a QUANTIZED index the
    * scoring is [[quantizedTopK]]'s integer-dot arithmetic (queries
    * quantize per row; a full probe equals `quantizedTopK` exactly).
    * `nprobe` stays a query-time choice, like `bands` for the minhash
    * index. */
  def ivfTopKOverIndex(queries: DataFrame, dir: String, k: Int,
      nprobe: Int = 4): DataFrame = {
    val ix = readIvfIndex(queries.sparkSession, dir)
    if (!ix.quantized)
      ivfScore(
        ix.vectors.select(col("vec_id"), col("embedding").as("cv"),
          col("nrm").as("cnorm"), col("cell").as("cluster")),
        queries, ix.centroids, k, nprobe)
    else {
      import graft.functions.cellfunctions.{vec_dot_i8, vec_quant_i8}
      // probe cells with the FLOAT query (cell geometry is float on
      // both forms), score with integer dots against the stored bytes.
      // The qnorm > 0 guard subsumes the float-norm guard: a zero
      // vector quantizes to a zero self-dot, and nothing else does.
      val q = queries
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        .withColumn("qq", vec_quant_i8(col("qv")))
        .withColumn("qqnorm",
          sqrt(vec_dot_i8(col("qq"), col("qq")).cast("double")))
        .where(col("qqnorm") > 0)
        .withColumn("cluster",
          explode(probeClusters(col("qv"), ix.centroids, nprobe)))
        .select(col("qid"), col("qq"), col("qqnorm"), col("cluster"))
      // int8 query rows: the quantized vector is one byte per
      // dimension (the 4× density the scaladoc above trades on)
      val qRows = queries.count() * nprobe
      val pairs = ix.vectors
        .select(col("vec_id"), col("qvec"), col("qnorm").as("cqnorm"),
          col("cell").as("cluster"))
        .join(broadcastIfSmall(q, qRows, ix.centroids(0).length + 64L),
          Seq("cluster"))
        .where(col("vec_id") =!= col("qid"))
        .withColumn("sim", vec_dot_i8(col("qq"), col("qvec")).cast("double") /
          (col("qqnorm") * col("cqnorm")))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("sim").desc, col("vec_id"))
      pairs.withColumn("rank", row_number().over(w))
        .where(col("rank") <= k)
        .select(col("qid"), col("rank"), col("vec_id"))
    }
  }

  /** IVF (inverted-file) cosine top-k — the coarse-quantizer ANN path:
    * the corpus is assigned once to its nearest of `nlist` centroids
    * (the inverted lists); each query probes only its `nprobe` closest
    * lists, so the scored candidates are ≈ nprobe/nlist of the corpus —
    * real pruning even at low similarity thresholds, where sign-bucket
    * LSH degrades. Candidates are scored exactly; recall measured vs
    * [[bruteForceTopK]] in tests. Index build cost = `iters` passes —
    * paid once when `indexDir` is given (centroids persist there and a
    * reopened table skips retraining).
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
      nlist: Int = 0, nprobe: Int = 4, iters: Int = 3,
      indexDir: Option[String] = None): DataFrame = {
    // nlist = 0 derives from the corpus ([[derivedNlist]], min clamp
    // 16 — the historical default): cells then hold ~cap/2 vectors on
    // average, so per-query scored candidates stay ~nprobe·cap/2
    // regardless of corpus size instead of growing linearly with it
    val list = if (nlist == 0)
      derivedNlist(corpus.count() * nprobe, DefaultCellCap, 16) else nlist
    val centroids = indexDir
      .map(loadOrTrainCentroids(corpus, dim, list, iters, _))
      .getOrElse(trainCentroids(corpus, dim, list, iters))
    ivfScore(assignedCorpus(corpus, centroids), queries, centroids, k, nprobe)
  }

  /** (vec_id, cv, cnorm, cluster) for [[ivfScore]] — the shape
    * [[writeIvfIndex]] persists, so a stored index and a fresh
    * assignment feed the identical scoring join. Zero-norm vectors are
    * dropped here like [[bruteForceTopK]] drops them: their cosine is
    * 0/0 = NaN, which sorts ABOVE every real similarity under `desc`,
    * so one unguarded zero vector would outrank every true neighbor in
    * each cell it lands in. */
  private def assignedCorpus(corpus: DataFrame,
      centroids: Array[Array[Double]]): DataFrame =
    corpus.select(col("vec_id"), col("embedding").as("cv"))
      .withColumn("cnorm", norm(col("cv")))
      .where(col("cnorm") > 0)
      .withColumn("cluster", assignCluster(col("cv"), centroids))

  private def ivfScore(c: DataFrame, queries: DataFrame,
      centroids: Array[Array[Double]], k: Int, nprobe: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("qid"), col("embedding").as("qv"))
      .withColumn("qnorm", norm(col("qv")))
      .where(col("qnorm") > 0)
      .withColumn("cluster", explode(probeClusters(col("qv"), centroids, nprobe)))
    // the exploded frame carries the float vector on every probe row
    val qRows = queries.count() * nprobe
    val pairs = c.join(
        broadcastIfSmall(q, qRows, 4L * centroids(0).length + 64),
        Seq("cluster"))
      .where(col("vec_id") =!= col("qid"))
      .withColumn("sim", dot(col("qv"), col("cv")) / (col("qnorm") * col("cnorm")))
      // a non-finite vector (Inf components pass the norm>0 gate)
      // scores NaN — and NaN sorts FIRST in a descending sort, so it
      // would outrank every real neighbor; drop it from the ranking
      .where(!isnan(col("sim")))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id"))
    pairs.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id"))
  }

  // ---- Product quantization (IVF-PQ / ADC) ------------------------
  // The third stored form after float and int8: each vector becomes m
  // CODE BYTES (dim 64, m 8 → 32× fewer index bytes than float32, 8×
  // fewer than int8) — at 100 TB of embeddings the index shrinks to
  // low-TB, small enough to cache across a fleet. Scoring is ADC
  // (Jégou/Douze/Schmid, TPAMI 2011): the query builds ONE m×ksub
  // lookup table and every candidate costs m array lookups instead of
  // dim multiplies — per-pair work drops 8× at dim 64 / m 8, exactly
  // where the candidate join dominates. Codes are quantized against
  // the raw subvectors (FAISS's IVFPQ with by_residual=false — the
  // simpler public variant), so append never needs the coarse cell of
  // the OLD batches. Approximate — recall vs [[bruteForceTopK]] is
  // measured in PipelineOpsSpec, like the int8/LSH/IVF paths.

  private val PqCodebooks = graft.sources.Sidecar("_graft_pq_codebooks.txt",
    "PQ codebooks", "rebuild with writePqIndex")
  private val PqProps = graft.sources.Sidecar("_graft_pq.properties",
    "PQ index", "build with writePqIndex")

  /** Train per-subspace codebooks: `m` independent k-means (ksub
    * centers each, L2 assignment, mean update) over the subvector
    * blocks, all `m` trained in the SAME distributed passes — one
    * [[graft.functions.PqEncode]] projection assigns every subspace
    * per row, one (sub, code, pos) hash-agg averages them. Driver
    * state is m×ksub×(dim/m) = dim×ksub doubles. Deterministic: seeds
    * pick initial centers by hashed vec_id, no runtime RNG. */
  def trainPqCodebooks(corpus: DataFrame, dim: Int, m: Int = 8,
      ksub: Int = 256, iters: Int = 3, seed: Long = 11L)
      : Array[Array[Array[Double]]] = {
    require(dim % m == 0, s"dim=$dim must split evenly into m=$m subspaces")
    require(ksub <= 256, s"ksub=$ksub exceeds one code byte")
    val dsub = dim / m
    val base = corpus.select(col("vec_id"), col("embedding"))
    val sample = base.orderBy(xxhash64(col("vec_id"), lit(seed)))
      .limit(ksub).collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    require(sample.nonEmpty, "cannot train PQ codebooks on an empty corpus")
    var cb: Array[Array[Array[Double]]] = Array.tabulate(m)(s =>
      sample.map(_.slice(s * dsub, (s + 1) * dsub)))
    for (_ <- 0 until iters) {
      val coded = base.withColumn("codes",
        graft.functions.cellfunctions.pq_encode(col("embedding"), cb))
      val subEntries = (0 until m).map { s =>
        struct(lit(s).as("sub"),
          graft.functions.cellfunctions.le_int_decode(
            substring(col("codes"), s + 1, 1), 1, signed = false).as("code"),
          slice(col("embedding"), s * dsub + 1, dsub).as("subv"))
      }
      val means = coded.select(explode(array(subEntries: _*)).as("e"))
        .select(col("e.sub"), col("e.code"), posexplode(col("e.subv")))
        .groupBy(col("sub"), col("code"), col("pos"))
        .agg(avg(col("col")).as("mn"))
        .collect()
      val next = cb.map(_.map(_.clone()))
      val seen = Array.fill(m)(scala.collection.mutable.Set.empty[Int])
      means.foreach { r =>
        val s = r.getInt(0); val code = r.getLong(1).toInt; val p = r.getInt(2)
        // first write for a (sub, code) zeroes the old center; empty
        // codes never appear here and keep their previous center
        if (seen(s).add(code)) java.util.Arrays.fill(next(s)(code), 0.0)
        next(s)(code)(p) = r.getDouble(3)
      }
      cb = next
    }
    cb
  }

  /** (vec_id, codes, rnorm, cell) — the stored PQ index row. The
    * reconstruction norm ‖x̂‖ persists beside the codes, so cosine
    * scoring never touches the original floats; zero-norm inputs drop
    * like every cosine path. */
  private def pqIndexRows(corpus: DataFrame,
      centroids: Array[Array[Double]],
      cb: Array[Array[Array[Double]]]): DataFrame = {
    import graft.functions.cellfunctions.{pq_encode, pq_recon_norm}
    assignedCorpus(corpus, centroids)
      .withColumn("codes", pq_encode(col("cv"), cb))
      .select(col("vec_id"), col("codes"),
        pq_recon_norm(col("codes"), cb).as("rnorm"),
        col("cluster").as("cell"))
  }

  /** Codebook persistence: one line per (sub, code) in order —
    * `sub|v0,v1,…` — exact-round-trip doubles, replaced by rename. */
  private def writePqCodebooks(spark: org.apache.spark.sql.SparkSession,
      dir: String, cb: Array[Array[Array[Double]]]): Unit =
    PqCodebooks.write(spark, dir, cb.zipWithIndex.flatMap { case (book, s) =>
      book.map(row => s"$s|${row.mkString(",")}")
    }.mkString("", "\n", "\n"))

  private def readPqCodebooks(spark: org.apache.spark.sql.SparkSession,
      dir: String): Option[Array[Array[Array[Double]]]] =
    PqCodebooks.read(spark, dir).map { c =>
      val rows = c.lines.map { line =>
        val Array(s, vals) = line.split("\\|", 2)
        (s.toInt, vals.split(",").map(java.lang.Double.parseDouble))
      }.toArray
      rows.groupBy(_._1).toArray.sortBy(_._1).map(_._2.map(_._2))
    }

  private def writePqProps(spark: org.apache.spark.sql.SparkSession,
      dir: String, dim: Int, m: Int, ksub: Int, nlist: Int): Unit =
    PqProps.write(spark, dir,
      "dim" -> dim, "m" -> m, "ksub" -> ksub, "nlist" -> nlist)

  private def readPqProps(spark: org.apache.spark.sql.SparkSession,
      dir: String): (Int, Int, Int, Int) = {
    val p = PqProps.require(spark, dir)
    (p.int("dim"), p.int("m"), p.int("ksub"), p.int("nlist"))
  }

  /** A stored PQ index, opened: code rows
    * `(vec_id, codes, rnorm, cell)`, the coarse quantizer, and the
    * per-subspace codebooks. */
  case class PqIndex(vectors: DataFrame, centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]])

  /** Build and persist a PQ index under `dir`: coarse IVF centroids
    * for cell pruning (reused from a stored, nlist-compatible
    * quantizer like [[writeIvfIndex]]) plus per-subspace codebooks,
    * with every vector stored as `m` code bytes + its reconstruction
    * norm. Write order: parquet (clears the directory), centroids,
    * codebooks, props sidecar LAST — a reader never sees a sidecar
    * without its data. */
  def writePqIndex(corpus: DataFrame, dir: String, dim: Int, m: Int = 8,
      ksub: Int = 256, nlist: Int = 0, iters: Int = 3): Unit = {
    val spark = corpus.sparkSession
    require(dim % m == 0, s"dim=$dim must split evenly into m=$m subspaces")
    // nlist = 0 derives like [[writeIvfIndex]] (min clamp 16)
    val list = if (nlist == 0) derivedNlist(corpus.count(), DefaultCellCap, 16)
      else nlist
    val centroids = readCentroids(spark, dir) match {
      case Some(c) if c.exists(_.length != dim) =>
        throw new IllegalArgumentException(
          s"stored index at $dir has dim ${c.head.length}, requested " +
            s"$dim — delete the index or fix the request")
      case Some(c) if c.length == list => c
      case _ => trainCentroids(corpus, dim, list, iters)
    }
    // stored codebooks are reusable only at the same geometry
    val cb = readPqCodebooks(spark, dir) match {
      case Some(b) if b.length == m && b(0).length == ksub &&
          b(0)(0).length == dim / m => b
      case _ => trainPqCodebooks(corpus, dim, m, ksub, iters)
    }
    pqIndexRows(corpus, centroids, cb).write.mode("overwrite").parquet(dir)
    writeCentroids(spark, dir, centroids)
    writePqCodebooks(spark, dir, cb)
    writePqProps(spark, dir, dim, cb.length, cb(0).length, list)
  }

  /** Incrementally grow a stored PQ index: encode ONLY the new batch
    * with the index's own codebooks and coarse quantizer, and append.
    * Same crash discipline as [[appendToIvfIndex]]: the sidecar comes
    * down before the append and back after, so a mid-commit crash
    * leaves a loudly-refusing directory. Caller contract: `newEmb`
    * vec_ids disjoint from the index's. */
  def appendToPqIndex(newEmb: DataFrame, dir: String): Unit = {
    val spark = newEmb.sparkSession
    val (dim, m, ksub, nlist) = readPqProps(spark, dir)
    val centroids = readCentroids(spark, dir).getOrElse(
      throw new IllegalStateException(s"PQ index at $dir has a sidecar " +
        "but no centroids — rebuild with writePqIndex"))
    val cb = readPqCodebooks(spark, dir).getOrElse(
      throw new IllegalStateException(s"PQ index at $dir has a sidecar " +
        "but no codebooks — rebuild with writePqIndex"))
    require(centroids.length == nlist && centroids.forall(_.length == dim) &&
      cb.length == m && cb(0).length == ksub && cb(0)(0).length == dim / m,
      s"stored quantizers at $dir disagree with sidecar " +
        s"(dim=$dim, m=$m, ksub=$ksub, nlist=$nlist)")
    newEmb.select(size(col("embedding"))).limit(1).collect()
      .foreach(r => require(r.getInt(0) == dim,
        s"batch embeddings have dim ${r.getInt(0)} but the index bakes " +
          s"in dim=$dim"))
    PqProps.down(spark, dir)
    pqIndexRows(newEmb, centroids, cb).write.mode("append").parquet(dir)
    writePqProps(spark, dir, dim, m, ksub, nlist)
  }

  /** Fold appended PQ segments into one layout, optionally erasing
    * ids during the rewrite — the same right-to-erasure path the
    * minhash / text / IVF / dictionary stores have ([[compactIvfIndex]];
    * PQ was the one stored form still missing it). Codes and cells are
    * copied, never recomputed, so geometry stays bit-stable; the `_`-
    * prefixed codebook/centroid/sidecar files survive the staged root
    * rewrite untouched, and the sidecar is down for the duration. */
  def compactPqIndex(dir: String,
      dropVecs: Option[DataFrame] = None): Unit = {
    val spark = org.apache.spark.sql.SparkSession.active
    val (dim, m, ksub, nlist) = readPqProps(spark, dir)
    PqProps.down(spark, dir)
    IndexFiles.rewriteRoot(spark, dir, IndexFiles.minus(dropVecs, "vec_id"))
    writePqProps(spark, dir, dim, m, ksub, nlist)
  }

  /** Open a stored PQ index. */
  def readPqIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): PqIndex = {
    readPqProps(spark, dir) // refuse a bare / mid-append directory
    val centroids = readCentroids(spark, dir).getOrElse(
      throw new IllegalStateException(s"PQ index at $dir has a sidecar " +
        "but no centroids — rebuild with writePqIndex"))
    val cb = readPqCodebooks(spark, dir).getOrElse(
      throw new IllegalStateException(s"PQ index at $dir has a sidecar " +
        "but no codebooks — rebuild with writePqIndex"))
    PqIndex(spark.read.parquet(dir), centroids, cb)
  }

  /** ADC cosine top-k over a stored PQ index: queries stay exact
    * float, probe `nprobe` cells, build one LUT each, and score every
    * same-cell candidate with `m` lookups against the stored code
    * bytes — `sim ≈ adc / (‖q‖·‖x̂‖)`. */
  def pqTopKOverIndex(queries: DataFrame, dir: String, k: Int,
      nprobe: Int = 4): DataFrame = {
    val ix = readPqIndex(queries.sparkSession, dir)
    pqScore(ix.vectors, queries, ix.centroids, ix.codebooks, k, nprobe)
  }

  /** In-memory IVF-PQ top-k (no persistence): train, encode, score.
    * The correctness twin of [[pqTopKOverIndex]] — a stored index and
    * a fresh build feed the identical scoring join. */
  def pqTopK(queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
      m: Int = 8, ksub: Int = 256, nlist: Int = 16, nprobe: Int = 4,
      iters: Int = 3): DataFrame = {
    val centroids = trainCentroids(corpus, dim, nlist, iters)
    val cb = trainPqCodebooks(corpus, dim, m, ksub, iters)
    pqScore(pqIndexRows(corpus, centroids, cb), queries, centroids, cb,
      k, nprobe)
  }

  private def pqScore(ixRows: DataFrame, queries: DataFrame,
      centroids: Array[Array[Double]], cb: Array[Array[Array[Double]]],
      k: Int, nprobe: Int): DataFrame = {
    import graft.functions.cellfunctions.{pq_adc, pq_lut}
    val q = queries.select(col("vec_id").as("qid"), col("embedding").as("qv"))
      .withColumn("qnorm", norm(col("qv")))
      .where(col("qnorm") > 0)
      .withColumn("lut", pq_lut(col("qv"), cb))
      .withColumn("cluster",
        explode(probeClusters(col("qv"), centroids, nprobe)))
      .select(col("qid"), col("lut"), col("qnorm"), col("cluster"))
    // rnorm > 0: a degenerate all-zero reconstruction would make the
    // cosine NaN, which sorts above every real sim under desc
    // the heaviest query payload of the family: the ADC LUT is
    // m × ksub doubles PER ROW (16 KB at the 8×256 default), and the
    // explode duplicates it nprobe times — the shape that produced
    // the round-15 maxResultSize failure at a 100k-query batch
    val qRows = queries.count() * nprobe
    val pairs = ixRows
      .select(col("vec_id"), col("codes"), col("rnorm"),
        col("cell").as("cluster"))
      .where(col("rnorm") > 0)
      .join(broadcastIfSmall(q, qRows,
          8L * cb.length * cb(0).length + 64), Seq("cluster"))
      .where(col("vec_id") =!= col("qid"))
      .withColumn("sim",
        pq_adc(col("lut"), col("codes")) / (col("qnorm") * col("rnorm")))
      // Inf-component queries can still ADC to NaN — same guard as the
      // float cosine paths
      .where(!isnan(col("sim")))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id"))
    pairs.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id"))
  }

  /** LSH-bucketed cosine top-k — multiple hash tables of few planes;
    * candidates are the union of same-bucket vectors across tables,
    * scored exactly once. Approximate — recall measured against
    * [[bruteForceTopK]] in tests. At cluster scale the (table, bucket)
    * equi-join replaces the cross product; candidates/query ≈
    * tables * N / 2^planes.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
      planes: Int = 4, tables: Int = 8): DataFrame = {
    // zero-norm guards match [[bruteForceTopK]]: NaN sims sort first
    // under desc and would crowd out every real neighbor
    val q = queries.select(col("vec_id").as("qid"), col("embedding").as("qv"))
      .withColumn("qnorm", norm(col("qv"))).where(col("qnorm") > 0)
    val c = corpus.select(col("vec_id"), col("embedding").as("cv"))
      .withColumn("cnorm", norm(col("cv"))).where(col("cnorm") > 0)
    val qB = withBuckets(q, "qv", dim, planes, tables)
      .select("qid", "table", "bucket")
    val cB = withBuckets(c.select(col("vec_id"), col("cv")), "cv", dim, planes, tables)
      .select("vec_id", "table", "bucket")
    val cands = cB.join(broadcast(qB), Seq("table", "bucket"))
      .where(col("vec_id") =!= col("qid"))
      .select("qid", "vec_id").distinct()
    val pairs = cands
      .join(q.select(col("qid"), col("qv"), col("qnorm")), "qid")
      .join(c, "vec_id")
      .withColumn("sim", dot(col("qv"), col("cv")) / (col("qnorm") * col("cnorm")))
      // same NaN-ranks-first guard as bruteForceTopK/ivfScore
      .where(!isnan(col("sim")))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id"))
    pairs.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id"))
  }
}
