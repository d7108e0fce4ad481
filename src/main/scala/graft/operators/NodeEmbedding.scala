package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SGNS (skip-gram with negative sampling) node-embedding trainer —
  * the word2vec objective of Mikolov et al. (NIPS 2013) applied to
  * [[Graph.skipGramPairs]] walk co-occurrences, closing the
  * DeepWalk/node2vec pipeline (Perozzi et al. KDD 2014;
  * Grover/Leskovec KDD 2016) end to end: walks → skip-gram pairs →
  * trained vectors.
  *
  * Everything deterministic the repo's way:
  *
  *  - **Negative draws are md5-KEYED** (the [[Graph.randomWalks]] /
  *    [[Sampling]] keyed-uniform idiom): draw `j` for a pair row is
  *    `hex52(md5(seed:center:context:offset:j)) mod V`, a dense vocab
  *    RANK — uniform noise over the vocabulary (the NCE-style uniform
  *    variant of word2vec's unigram^0.75 table; uniform keeps the draw
  *    engine-portable and exactly replayable, and [[negativeSamples]]
  *    is gated bit-for-bit against a SQL oracle).
  *  - **Full-batch gradient descent**, not asynchronous SGD: each
  *    epoch computes the exact batch gradient from the PREVIOUS
  *    weights (tree-aggregated across executors — the
  *    [[QualityModel.train]] shape) and applies one update, so
  *    training is reproducible to floating-point addition order and a
  *    driver-side replay matches to ~1e-9 (the spec's differential).
  *    word2vec's hot-loop SGD races (Hogwild) trade determinism for
  *    throughput; a curation pipeline wants the replayable variant.
  *  - **Deterministic init**: center vectors seeded per (rank, dim)
  *    from the same md5 stream, scaled to ±0.5/dim (word2vec's init
  *    range); context vectors start at zero (word2vec's choice).
  *
  * Objective per aggregated pair row (c, x, cnt) with negatives n_j:
  * `cnt·[−log σ(u_c·v_x) − Σ_j log σ(−u_c·v_nj)]` — multiplicity as a
  * gradient weight, so the AGGREGATED pair table (one row per distinct
  * (center, context, offset)) trains identically to the expanded
  * corpus while the example count stays bounded by distinct pairs.
  *
  * Scale shape: the pair table and its ranks/negatives build
  * distributed (two broadcast-sized vocab joins + per-row hashes, one
  * checkpoint); each epoch is ONE treeAggregate over the examples —
  * gradient traffic is `2·V·dim` doubles per partial, never
  * corpus-sized. The vocabulary is the ONLY driver-materialized state
  * (`maxVocab` guard, default 65536 — the dictionary-shaped bounded
  * collect class of [[Bpe]]; a 100 TB walk corpus over a bounded node
  * set is the operator's target shape: corpus-side work distributes,
  * vocab-side state broadcasts). For vocabularies past the guard,
  * shard the embedding matrix (parameter-server style) — out of scope
  * here, an ERROR rather than a silent cliff.
  */
object NodeEmbedding {

  /** 52-bit uniform from the md5 keyed stream (the randomWalks idiom). */
  private def hex52(key: Column): Column =
    conv(substring(md5(key), 1, 13), 16, 10).cast("long")

  /** Project the pair-table columns; validation is [[validatedTotal]]
    * so the contract check and the decimal mass read share ONE action
    * (the pair input is typically an un-checkpointed self-join — every
    * extra action replays the walk-pair extraction). */
  private def pairCols(pairs: DataFrame): DataFrame =
    pairs.select(col("center"), col("context"),
      col("offset").cast("long").as("offset"),
      col("cnt").cast("long").as("cnt"))

  /** ONE aggregated action over the raw pair table: VALIDATE `cnt`
    * (the [[Graph]] validateWeights idiom — a null, fractional, or
    * non-positive multiplicity is an ERROR: a zero or negative cnt
    * would flip the gradient direction silently in [[train]] and wreck
    * [[pmiStats]]' marginals, a fractional one would truncate through
    * the long cast) and return the decimal-crossing total example mass
    * (the pre-aggregation overflow ordering — guarded BEFORE any long
    * sum can wrap). Null only for an empty table. */
  private def validatedTotal(pairs: DataFrame): java.math.BigDecimal = {
    val raw = col("cnt")
    val r = pairs.agg(
      count(when(raw.isNull || raw =!= raw.cast("long") ||
        raw.cast("long") < 1, 1)),
      sum(raw.cast("decimal(38,0)"))).head()
    require(r.getLong(0) == 0,
      s"pair table has ${r.getLong(0)} null/fractional/non-positive " +
        "cnt rows — multiplicities must be positive integers")
    r.getDecimal(1)
  }

  /** Dense 0-based vocabulary ranks over the pair table's node set
    * (center ∪ context), ordered by node id — `(node, rank)`. */
  def vocabRanks(pairs: DataFrame): DataFrame = {
    val nodes = pairs.select(col("center").as("node"))
      .union(pairs.select(col("context").as("node")))
      .distinct()
    nodes.select(col("node"),
      (row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("node"))) - 1).cast("long").as("rank"))
  }

  /** The DETERMINISTIC negative-sample table — `k` uniform draws per
    * aggregated pair row, each the vocab member whose dense rank is
    * `hex52(md5(seed:center:context:offset:j)) mod V`. Output
    * `(center, context, offset, cnt, j, negative)`; exactly the noise
    * examples [[train]] consumes, exposed as its own operator so the
    * sampling is SQL-gate-checkable bit for bit.
    *
    * A draw may land on the pair's own context (or center) node — no
    * rejection, BY DESIGN: word2vec's reference implementation accepts
    * the same collisions, the bias is O(k/V) and vanishes for any real
    * vocabulary, and rejection would make the draw count data-dependent
    * and the table no longer exactly replayable row for row.
    * Multiplicities must be positive integers (ERROR otherwise).
    *
    * Scale shape: one single-partition window to rank the vocab (V
    * rows — bounded by the node set, the one-time index-build class),
    * one per-row k-way explode, one equi-join rank → node. */
  def negativeSamples(pairs: DataFrame, k: Int,
      seed: String): DataFrame = {
    require(k >= 1 && k <= 100, s"k must be in [1, 100], got $k")
    require(!seed.contains(":"), "seed must not contain ':'")
    require(validatedTotal(pairs) != null, "empty pair table")
    val p = pairCols(pairs)
    val vocab = vocabRanks(p)
    val v = vocab.count()
    require(v > 0, "empty pair table")
    val drawn = p
      .select(col("center"), col("context"), col("offset"), col("cnt"),
        explode(sequence(lit(0), lit(k - 1))).as("j"))
      .select(col("center"), col("context"), col("offset"), col("cnt"),
        col("j").cast("long").as("j"),
        pmod(hex52(concat_ws(":", lit(seed), col("center"),
          col("context"), col("offset"), col("j"))), lit(v)).as("rank"))
    drawn.join(vocab, Seq("rank"))
      .select(col("center"), col("context"), col("offset"), col("cnt"),
        col("j"), col("node").as("negative"))
  }

  /** CO-OCCURRENCE / PMI STATISTICS as EXACT INTEGERS — the matrix
    * SGNS implicitly factorizes (Levy/Goldberg, "Neural word embedding
    * as implicit matrix factorization", NIPS 2014: SGNS's optimum is
    * the shifted PMI matrix `PMI(w,c) − log k`). Per (center, context)
    * pair of a [[Graph.skipGramPairs]] table, summed over offsets:
    *
    *   n_wc  — pair multiplicity          n_w, n_c — marginals
    *   n_total = Σ n_wc                   PMI = ln(n_wc·N / (n_w·n_c))
    *
    * reported as the integers plus the ratio's exact numerator
    * `pmi_num = n_wc·n_total` and denominator `pmi_den = n_w·n_c` — the
    * ln() left to the caller, so the cross-engine gate is exact (the
    * repo's BM25 idiom). `max(0, PMI − ln k)` over these integers is
    * SPPMI, the standard spectral-embedding input. Overflow is an
    * ERROR up front: both products are bounded by n_total², so the
    * guard binds n_total at floor(√Long.MaxValue) ≈ 3.04e9 pair
    * occurrences.
    *
    * Scale shape: one pair aggregation, two marginal aggregations, two
    * equi-joins back — no iteration, no windows; the total is a
    * one-number driver read. */
  def pmiStats(pairs: DataFrame): DataFrame = {
    val withOff =
      if (pairs.columns.contains("offset")) pairs
      else pairs.withColumn("offset", lit(0L))
    // decimal-crossing total on the PRE-aggregation frame (the
    // communityStats ordering), fused with the cnt contract check in
    // validatedTotal's single action: bounding the raw decimal sum
    // here bounds every downstream long sum (n_wc, n_w, n_c) — a
    // near-Long.MaxValue cnt can no longer wrap through the long
    // aggregation BEFORE the guard runs
    val totDec = validatedTotal(withOff)
    val p0 = pairCols(withOff)
    require(totDec != null, "empty pair table")
    require(totDec.compareTo(
        java.math.BigDecimal.valueOf(3037000499L)) <= 0, // floor(sqrt(Long.Max))
      "total pair count exceeds the exact-long PMI bound " +
        "floor(sqrt(Long.MaxValue)) — shard the corpus")
    val n = totDec.longValueExact()
    val p = p0.groupBy(col("center"), col("context"))
      .agg(sum(col("cnt")).as("n_wc"))
    val nw = p.groupBy(col("center")).agg(sum(col("n_wc")).as("n_w"))
    val nc = p.groupBy(col("context")).agg(sum(col("n_wc")).as("n_c"))
    p.join(nw, Seq("center")).join(nc, Seq("context"))
      .select(col("center"), col("context"), col("n_wc"),
        col("n_w"), col("n_c"), lit(n).as("n_total"),
        (col("n_wc") * n).as("pmi_num"),
        (col("n_w") * col("n_c")).as("pmi_den"))
  }

  /** Train SGNS vectors over an aggregated skip-gram pair table
    * (`center, context, cnt` — [[Graph.skipGramPairs]] output; offset
    * is part of the negative-draw key when present, else keyed 0).
    * Returns `(node, emb)` — the center ("input") vectors, one
    * `array<double>` of length `dim` per vocab node.
    *
    * The batch gradient is the MEAN over the table's example mass
    * (Σ cnt), not the sum — so `lr` is CORPUS-SIZE-FREE: the same
    * learning rate behaves identically at 10³ and 10¹⁰ pairs, where a
    * summed gradient would force the caller to shrink lr with the
    * corpus and silently diverge otherwise (the trap this operator hit
    * in round 13's pipeline audit: sum-gradients at lr 0.02 blew the
    * weights past 1e37 on a 15-node graph). Divergence is an ERROR,
    * never a silent NaN: every epoch validates the aggregated gradient
    * finite before applying it. */
  def train(pairs: DataFrame, dim: Int, epochs: Int,
      lr: Double = 1.0, negatives: Int = 5, seed: String = "sgns",
      maxVocab: Int = 65536): DataFrame = {
    require(dim >= 2 && dim <= 256, s"dim must be in [2, 256], got $dim")
    require(epochs >= 0 && epochs <= 200,
      s"epochs must be in [0, 200], got $epochs")
    // mean-normalized gradients support classic-GD learning rates
    // above 1; divergence past the bound is the per-epoch finite check
    require(lr > 0 && lr <= 100.0, s"lr must be in (0, 100], got $lr")
    require(negatives >= 1 && negatives <= 100,
      s"negatives must be in [1, 100], got $negatives")
    require(!seed.contains(":"), "seed must not contain ':'")
    require(maxVocab >= 1, s"maxVocab must be positive, got $maxVocab")
    val spark = pairs.sparkSession
    val withOff =
      if (pairs.columns.contains("offset")) pairs
      else pairs.withColumn("offset", lit(0L))
    // total example mass — the gradient normalizer below — read in the
    // SAME single action that validates the cnt contract (the pmiStats
    // pre-aggregation overflow ordering)
    val massDec = validatedTotal(withOff)
    require(massDec != null, "empty pair table")
    val nMass = massDec.doubleValue()
    val p = pairCols(withOff)
    val vocab = vocabRanks(p)
    // the vocabulary is the one driver-materialized artifact (the Bpe
    // dictionary class of bounded collect) — guarded, never implicit
    val nodes = vocab.orderBy(col("rank")).select(col("node"))
      .limit(maxVocab + 1).collect().map(_.getLong(0))
    require(nodes.length <= maxVocab,
      s"vocabulary exceeds maxVocab=$maxVocab — shard the embedding " +
        "matrix or raise the guard consciously")
    val v = nodes.length
    require(v.toLong * dim <= (1L << 21),
      s"vocab×dim = ${v.toLong * dim} exceeds 2^21 — the gradient " +
        "aggregate would not fit a tree-combine partial; lower dim")
    require(v > 0, "empty pair table")
    // examples: ranks + the md5-keyed negative ranks, checkpointed
    // once — epochs iterate over this one frame
    val withRanks = p
      .join(vocab.select(col("node").as("center"),
        col("rank").as("_ci")), Seq("center"))
      .join(vocab.select(col("node").as("context"),
        col("rank").as("_xi")), Seq("context"))
    val negCols = (0 until negatives).map(j =>
      pmod(hex52(concat_ws(":", lit(seed), col("center"), col("context"),
        col("offset"), lit(j.toLong))), lit(v.toLong)))
    val examples = org.apache.spark.sql.graft.CheckpointStats
      .withMeasuredStats(withRanks
        .select(col("_ci").cast("int"), col("_xi").cast("int"),
          col("cnt"), array(negCols: _*).as("_negs"))
        .localCheckpoint(true))
    // deterministic init: center vectors ±0.5/dim from the md5 stream,
    // context vectors zero (word2vec's choices)
    def initVal(rank: Int, d: Int): Double = {
      val dig = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$seed:init:$rank:$d".getBytes("UTF-8"))
      val hx = dig.take(7).map("%02x".format(_)).mkString.take(13)
      val u = java.lang.Long.parseLong(hx, 16).toDouble / (1L << 52).toDouble
      (u - 0.5) / dim
    }
    var w = Array.tabulate(v, dim)((r, d) => initVal(r, d))
    var c = Array.fill(v, dim)(0.0)
    def sigmoid(x: Double): Double = 1.0 / (1.0 + math.exp(-x))
    for (_ <- 0 until epochs) {
      val bw = spark.sparkContext.broadcast(w)
      val bc = spark.sparkContext.broadcast(c)
      val dimL = dim
      val zero = () => Array.fill(2 * v * dimL)(0.0)
      val grad = examples.rdd.treeAggregate(zero())(
        seqOp = (acc, row) => {
          val ci = row.getInt(0); val xi = row.getInt(1)
          val cnt = row.getLong(2).toDouble
          val negs = row.getSeq[Long](3)
          val wv = bw.value(ci)
          // positive example
          val vx = bc.value(xi)
          var dot = 0.0
          var d = 0
          while (d < dimL) { dot += wv(d) * vx(d); d += 1 }
          val g = cnt * (1.0 - sigmoid(dot))
          d = 0
          while (d < dimL) {
            acc(ci * dimL + d) += g * vx(d)
            acc((v + xi) * dimL + d) += g * wv(d)
            d += 1
          }
          // negatives
          negs.foreach { nL =>
            val ni = nL.toInt
            val vn = bc.value(ni)
            var dn = 0.0
            d = 0
            while (d < dimL) { dn += wv(d) * vn(d); d += 1 }
            val gn = cnt * sigmoid(dn)
            d = 0
            while (d < dimL) {
              acc(ci * dimL + d) -= gn * vn(d)
              acc((v + ni) * dimL + d) -= gn * wv(d)
              d += 1
            }
          }
          acc
        },
        combOp = (a, b) => {
          var i = 0
          while (i < a.length) { a(i) += b(i); i += 1 }
          a
        })
      bw.destroy(); bc.destroy()
      // divergence is an ERROR up front — a non-finite gradient would
      // otherwise poison every consumer downstream (float casts
      // overflow, cosine goes NaN, NaN ranks FIRST in a desc sort)
      var gi = 0
      while (gi < grad.length) {
        require(!grad(gi).isNaN && !grad(gi).isInfinity,
          "training diverged (non-finite gradient) — lower lr")
        gi += 1
      }
      val nw = Array.tabulate(v, dim)((r, d) =>
        w(r)(d) + lr * grad(r * dim + d) / nMass)
      val nc = Array.tabulate(v, dim)((r, d) =>
        c(r)(d) + lr * grad((v + r) * dim + d) / nMass)
      // ... and the APPLIED weights: a finite-but-huge last-epoch
      // gradient could overflow the update itself, returning Inf
      // vectors with no later epoch to catch them
      def finite(m: Array[Array[Double]]): Boolean =
        m.forall(_.forall(x => !x.isNaN && !x.isInfinity))
      require(finite(nw) && finite(nc),
        "training diverged (non-finite weights) — lower lr")
      w = nw; c = nc
    }
    examples.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }
    import spark.implicits._
    nodes.zip(w).toSeq.map { case (n, vec) => (n, vec.toSeq) }
      .toDF("node", "emb")
  }

  // ---- Trained-vector store ----------------------------------------
  // Trained embeddings are a derived artifact a pipeline reuses across
  // many consumers (ANN indexing, SemDeDup, link scoring) — so they get
  // the same store lifecycle as the other persisted stores
  // (Dedup.writeMinhashIndex, Similarity.writeIvfIndex; the reference's
  // append-a-sorted-batch LSM discipline, src/io/tablet_writer.cc:
  // 107-230): parquet rows `(node, emb)` plus a properties sidecar
  // recording the dim the table BAKES IN. Crash discipline: data first,
  // sidecar last; append/compact take the sidecar DOWN and restore it
  // after the commit, so a torn write leaves a loudly-refusing
  // directory, never a valid-looking store missing rows.

  private val EmbProps = graft.sources.Sidecar("_graft_emb.properties",
    "embedding store", "build with writeEmbeddings")

  private def writeEmbProps(spark: org.apache.spark.sql.SparkSession,
      dir: String, dim: Int): Unit =
    EmbProps.write(spark, dir, "dim" -> dim)

  /** The store's recorded dim; refuses when the sidecar is absent — a
    * bare parquet directory (or one whose append died mid-commit) is
    * NOT an embedding store. */
  private def readEmbProps(spark: org.apache.spark.sql.SparkSession,
      dir: String): Int =
    EmbProps.require(spark, dir).int("dim")

  /** One aggregated action validating a `(node, emb)` frame against the
    * store contract: unique non-null node ids, every vector exactly
    * `dim` wide — an ERROR, never a silently-truncated lookup. */
  private def validateEmb(emb: DataFrame, dim: Int): Unit = {
    val r = emb.agg(count(lit(1)), count_distinct(col("node")),
      count(when(col("node").isNull || col("emb").isNull ||
        size(col("emb")) =!= dim, 1)),
      count(when(exists(col("emb"), x =>
        isnan(x) || x === Double.PositiveInfinity ||
          x === Double.NegativeInfinity), 1))).head()
    require(r.getLong(0) == r.getLong(1),
      "embedding table has duplicate node ids — one vector per node")
    require(r.getLong(2) == 0,
      s"embedding table has null/mis-sized vectors (store dim=$dim)")
    // non-finite vectors refuse at the store seam: a NaN/Inf component
    // overflows float casts downstream and NaN similarity ranks FIRST
    // in a descending sort — corruption, not a ranking
    require(r.getLong(3) == 0,
      "embedding table has non-finite vector components")
  }

  /** Build and persist an embedding store under `dir` from a
    * `(node, emb)` frame ([[train]] output): parquet first, then the
    * dim sidecar — a reader never sees a sidecar without its data. */
  def writeEmbeddings(emb: DataFrame, dir: String): Unit = {
    val spark = emb.sparkSession
    val probe = emb.select(size(col("emb"))).limit(1).collect()
    require(probe.nonEmpty, "empty embedding table")
    val dim = probe(0).getInt(0)
    validateEmb(emb, dim)
    emb.select(col("node"), col("emb")).write.mode("overwrite").parquet(dir)
    writeEmbProps(spark, dir, dim)
  }

  /** Append a batch of new vectors to a stored table — the batch is
    * dim-checked against the sidecar and the sidecar cycles down/up
    * around the commit (the [[Similarity.appendToIvfIndex]] crash
    * discipline). Node-id disjointness with the stored table is
    * CHECKED, not assumed: a duplicate id would silently yield two
    * vectors per node that only a later full rewrite's validateEmb
    * would catch — so the overlap refuses here at the seam, like the
    * other store violations. The check is one left-semi count against
    * the stored table's pruned `node` column, before the sidecar drops. */
  def appendToEmbeddings(newEmb: DataFrame, dir: String): Unit = {
    val spark = newEmb.sparkSession
    val dim = readEmbProps(spark, dir)
    validateEmb(newEmb, dim)
    val overlap = newEmb.select(col("node"))
      .join(spark.read.parquet(dir).select(col("node")), Seq("node"),
        "left_semi").limit(1).count()
    require(overlap == 0,
      s"append batch shares node ids with the store at $dir — " +
        "appended ids must be disjoint (compact with dropNodes to replace)")
    EmbProps.down(spark, dir)
    newEmb.select(col("node"), col("emb"))
      .write.mode("append").parquet(dir)
    writeEmbProps(spark, dir, dim)
  }

  /** Compact the store, optionally erasing nodes exactly (the rows are
    * gone, not masked): folds appended segments into one layout via the
    * shared `_`-prefixed staging rewrite. Vectors are untouched —
    * append/compact cycles stay bit-stable. */
  def compactEmbeddings(dir: String,
      dropNodes: Option[DataFrame] = None): Unit = {
    val spark = org.apache.spark.sql.SparkSession.active
    val dim = readEmbProps(spark, dir)
    EmbProps.down(spark, dir)
    IndexFiles.rewriteRoot(spark, dir, IndexFiles.minus(dropNodes, "node"))
    writeEmbProps(spark, dir, dim)
  }

  /** Open a stored embedding table `(node, emb)`; refuses a
    * sidecar-less directory. */
  def readEmbeddings(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    readEmbProps(spark, dir)
    spark.read.parquet(dir)
  }
}
