package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed graph analytics over plain edge DataFrames — the
  * companion family to [[Dedup.connectedComponents]] (large-star/
  * small-star), for the link-style signals a corpus-curation pipeline
  * weighs documents by (domain authority, citation mass).
  *
  * Everything here follows the repo's exactness discipline: ranks are
  * FIXED-POINT LONGS with floor division at every step, so the
  * iteration is a deterministic integer recurrence that any engine
  * replays bit-for-bit — no cross-engine doubles, no "close enough"
  * convergence claims. (The reference has no graph surface; this is
  * pipeline-driven, like the dedup/ANN rings.)
  */
object Graph {

  /** Free a superseded localCheckpoint's blocks (the
    * [[Dedup.connectedComponents]] idiom — `Dataset.unpersist` talks
    * to the cache manager and does NOT release checkpoint RDD blocks). */
  private def unpersistCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Validate an optional edge-weight column in ONE aggregated action
    * over the null-endpoint-filtered rows (an edge that the operator
    * drops anyway must not be able to fail the call): non-integer
    * entries (which would truncate silently through the long cast),
    * null/non-positive values, and — when `maxRounds` is given — a max
    * weight large enough to wrap Long over that many relaxation hops.
    * Each is an ERROR, never a silent drop. */
  private def validateWeights(edges: DataFrame, c: String,
      maxRounds: Option[Int]): Unit = {
    validateWeightsTotal(edges, c, maxRounds); ()
  }

  /** [[validateWeights]] that ALSO returns the decimal(38,0) total of
    * the NON-SELF-LOOP weights (null when there are none) from the
    * same aggregation — the canonical mass every weighted undirected
    * operator bounds next, fused so callers skip a second full
    * raw-edge scan (round 15). The validation row set is unchanged
    * (all non-null-endpoint rows, self-loops included); only the
    * returned total excludes self-loops, exactly the `undRaw` frame
    * the callers previously re-aggregated. */
  private def validateWeightsTotal(edges: DataFrame, c: String,
      maxRounds: Option[Int]): java.math.BigDecimal = {
    val raw = col(c)
    val stats = edges
      .where(col("src").isNotNull && col("dst").isNotNull)
      .agg(
        count(when(raw.isNotNull && raw =!= raw.cast("long"), 1)).as("_frac"),
        count(when(raw.isNull || raw.cast("long") <= 0, 1)).as("_bad"),
        max(raw.cast("long")).as("_max"),
        sum(when(col("src") =!= col("dst"),
          raw.cast("long").cast("decimal(38,0)"))).as("_tot"))
      .head()
    require(stats.getLong(0) == 0, s"weight column $c has non-integer " +
      "entries — the exact integer recurrence needs integer weights")
    require(stats.getLong(1) == 0,
      s"weight column $c has null/non-positive entries")
    maxRounds.foreach { mr =>
      // dist <= hops · max(w) with hops <= maxRounds: bound max(w) so
      // the sum cannot wrap — an error up front, never corruption
      val wMax = if (stats.isNullAt(2)) 0L else stats.getLong(2)
      require(wMax <= Long.MaxValue / (mr + 1L),
        s"max edge weight $wMax too large for $mr rounds — rescale")
    }
    if (stats.isNullAt(3)) null else stats.getDecimal(3)
  }

  /** Eager localCheckpoint with REPAIRED statistics. A raw
    * localCheckpoint carries the origin plan's stats, and Catalyst
    * multiplies child sizes at every inner join — in a loop that
    * checkpoints a k-way join per round the stats' digit count grows
    * k-fold per round until the driver hangs in BigInteger.multiply
    * (a 39-edge path graph hit 47 s/round by round 14 of the coreness
    * peel). The repair reads the checkpoint's TRUE byte size from the
    * block manager — constant-sized, truthful, broadcast-friendly.
    * See [[org.apache.spark.sql.graft.CheckpointStats]]. */
  private def checkpointed(df: DataFrame): DataFrame =
    org.apache.spark.sql.graft.CheckpointStats
      .withMeasuredStats(df.localCheckpoint(true))

  /** Fixed-point scale: ranks are stored as multiples of 1e-12. Total
    * rank mass is ≈ SCALE (rank₀ = SCALE div N each, and each sweep
    * preserves-or-shrinks it), so no per-node rank ever exceeds SCALE;
    * the binding overflow bound is the damping product
    * dampNum · (contrib + dang div N) ≤ dampNum · SCALE ≤ 1000 · 2^40,
    * far inside 2^62 (see the dampDen require below). */
  val Scale: Long = 1000000000000L

  /** PageRank as an EXACT integer recurrence (fixed iteration count,
    * fixed-point arithmetic, floor division everywhere):
    *
    *   rank₀(v)   = SCALE div N
    *   out(v)     = out-degree of v
    *   contrib(v) = Σ_{(u,v) ∈ E} (rank(u) div out(u))
    *   dang       = Σ_{out(u) = 0} rank(u)
    *   base       = SCALE div dDen · (dDen - dNum) div N
    *   rankᵢ₊₁(v) = base + (dNum · (contrib(v) + dang div N)) div dDen
    *
    * with damping d = dNum/dDen (default 17/20 = 0.85). This is the
    * standard power iteration with dangling-mass redistribution,
    * quantized: each step loses at most 1 fixed-point unit per node
    * per division to floors (≤ 3e-12 per node per step) — the
    * deterministic price of a recurrence two engines can agree on
    * exactly. Output: `(node, rank)` — rank in SCALE units; divide by
    * SCALE.toDouble for display.
    *
    * Node set = every vertex appearing as src or dst. Scale shape per
    * iteration: one equi-join of ranks onto edges (on src), one hash
    * aggregation onto dst, one tiny dangling aggregate (a one-row
    * broadcast, no driver collect of data — the iteration driver loop
    * only rotates localCheckpoints, the same discipline as
    * [[Dedup.connectedComponents]]). Iterations are a FIXED parameter
    * — a curation signal wants k deterministic sweeps, not a
    * convergence race.
    */
  def pageRankFixedPoint(edges: DataFrame, iterations: Int,
      dampNum: Int = 17, dampDen: Int = 20,
      /** optional positive integer edge-weight column: a node's rank
        * splits over its out-edges in weight proportion. To stay
        * overflow- and double-exact at any weight magnitude, the share
        * is quantized as `w_e · (rank div W_u)` (unit-of-total-weight
        * times edge weight) — bounded by the rank itself, never by the
        * weights — at the price of up to `W_u - 1` fixed-point units
        * of dropped mass per node per sweep. Weights <= 0 or null are
        * an error, not a silent drop. */
      weightCol: Option[String] = None): DataFrame =
    pageRankImpl(edges, iterations, dampNum, dampDen, weightCol,
      DriverPeelMax)

  /** [[pageRankFixedPoint]] with an explicit driver-local threshold —
    * the [[kCoreImpl]] spec hook. */
  private[graft] def pageRankImpl(edges: DataFrame, iterations: Int,
      dampNum: Int, dampDen: Int, weightCol: Option[String],
      driverMax: Long): DataFrame = {
    require(iterations >= 0 && iterations <= 50,
      s"iterations must be in [0, 50], got $iterations")
    require(dampNum > 0 && dampDen > 0 && dampNum < dampDen,
      s"damping must be a rational in (0, 1), got $dampNum/$dampDen")
    require(dampDen <= 1000, s"dampDen must be <= 1000, got $dampDen")
    val w = weightCol.map(c => col(c).cast("long")).getOrElse(lit(1L))
    val e = edges.select(col("src"), col("dst"), w.as("_w"))
      .where(col("src").isNotNull && col("dst").isNotNull)
    weightCol.foreach(c => validateWeights(edges, c, None))
    val eCapped =
      if (allLong(e, "src", "dst"))
        // DRIVER-LOCAL candidacy (the [[kCoreImpl]] discipline),
        // decided by the CAPPED edge collect ALONE (round 16): the
        // node set, the per-node out-weights AND the out-weight
        // overflow guard all derive from the collected rows
        // in-process, so a local run no longer pays the distributed
        // node-distinct checkpoint + count, the out-weight groupBy, or
        // a second collect (~4 edge-scale actions). Corpus-scale
        // graphs read at most driverMax+1 rows before staying
        // distributed — a capped limit short-circuits, never a full
        // scan. The node bound loosens from n ≤ driverMax to the edge
        // bound's implied n ≤ 2·driverMax — the same driver-memory
        // class, and the spec's branch equalities pin the results.
        e.select(col("src").cast("long"), col("dst").cast("long"),
          col("_w"))
          // clamp before toInt: a driverMax near Long.MaxValue through
          // the spec hook must saturate, not wrap to a negative limit
          .limit(math.min(driverMax, Int.MaxValue - 2L).toInt + 1).collect()
      else null
    if (eCapped != null && eCapped.length <= driverMax) {
      // DRIVER-LOCAL SWEEPS — the exact fixed-point long recurrence
      // replayed in-process: ranks are non-negative and floor division
      // of non-negative longs IS Java long division, so every term
      // matches the distributed ldiv bit for bit.
      // primitive-array replay (LocalGraph, round 15 — boxed HashMap
      // contributions priced seconds per gate at the sf0.1 edge count)
      val spark = edges.sparkSession
      import spark.implicits._
      val eRows = eCapped
      val m = eRows.length
      val usArr = new Array[Long](m)
      val dsArr = new Array[Long](m)
      var i = 0
      while (i < m) {
        usArr(i) = eRows(i).getLong(0); dsArr(i) = eRows(i).getLong(1)
        i += 1
      }
      val ix = LocalGraph.indexOf(usArr ++ dsArr)
      val nn = ix.size
      val n = nn.toLong
      require(n > 0, "pageRank over an empty edge set")
      val esi = new Array[Int](m)
      val edi = new Array[Int](m)
      val ewt = new Array[Long](m)
      val outW = new Array[Long](nn)
      val hasOut = new Array[Boolean](nn)
      i = 0
      while (i < m) {
        val r = eRows(i)
        val si = ix.of(r.getLong(0)); val di = ix.of(r.getLong(1))
        esi(i) = si; edi(i) = di; ewt(i) = r.getLong(2)
        // the distributed guard's decimal crossing, replayed exactly:
        // weights are validated positive, so a pre-add bound check IS
        // the overflow test, with the identical error
        require(outW(si) <= Long.MaxValue - ewt(i),
          "a node's total out-weight exceeds Long.MaxValue — rescale weights")
        outW(si) += ewt(i); hasOut(si) = true
        i += 1
      }
      val baseL = Scale / dampDen * (dampDen - dampNum) / n
      val rank = new Array[Long](nn)
      java.util.Arrays.fill(rank, Scale / n)
      val cArr = new Array[Long](nn)
      val contrib = new Array[Long](nn)
      for (_ <- 0 until iterations) {
        var dang = 0L
        var v = 0
        while (v < nn) {
          if (!hasOut(v)) dang += rank(v)
          else cArr(v) = rank(v) / outW(v)
          v += 1
        }
        java.util.Arrays.fill(contrib, 0L)
        i = 0
        while (i < m) {
          contrib(edi(i)) += cArr(esi(i)) * ewt(i)
          i += 1
        }
        val dangShare = dang / n
        v = 0
        while (v < nn) {
          rank(v) = baseL + dampNum * (contrib(v) + dangShare) / dampDen
          v += 1
        }
      }
      return (0 until nn).map(v => (ix.ids(v), rank(v)))
        .toDF("node", "rank")
    }
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .transform(checkpointed)
    // the per-node out-weight total is summed as decimal(38,0) so a
    // pathological weight set (~2^62 per edge) overflows into an ERROR
    // below, never into ldiv-corrupted ranks — the repo's exactness
    // bounds are explicit everywhere else (cf. StringJoin
    // MaxThresholdPart) and this one was silent
    val outDegDec = e.groupBy(col("src").as("node"))
      .agg(sum(col("_w").cast("decimal(38,0)")).as("_outd"))
    val overW = outDegDec
      .where(col("_outd") > lit(Long.MaxValue)).limit(1).count()
    require(overW == 0,
      "a node's total out-weight exceeds Long.MaxValue — rescale weights")
    val n = nodes.count()
    require(n > 0, "pageRank over an empty edge set")
    // the distributed loop's out-weight lookup table — built only on
    // this branch (the local replay re-sums its own array; round 15
    // deferred this edge-scale groupBy + checkpoint out of local runs)
    val outDeg = outDegDec.select(col("node"),
      col("_outd").cast("long").as("out")).transform(checkpointed)
    // exact long floor division (non-negative operands): subtract the
    // remainder, then the double division is of an exact multiple —
    // quotients here are <= SCALE, far inside double's mantissa
    def ldiv(a: Column, b: Column): Column =
      ((a - pmod(a, b)) / b).cast("long")
    val base = Scale / dampDen * (dampDen - dampNum) / n
    var ranks = nodes.withColumn("rank", lit(Scale / n))
      .transform(checkpointed)
    for (_ <- 0 until iterations) {
      val withOut = ranks.join(outDeg, Seq("node"), "left")
      val dang = withOut.where(col("out").isNull)
        .agg(coalesce(sum(col("rank")), lit(0L)).as("_dang"))
      val contrib = withOut.where(col("out").isNotNull)
        .select(col("node").as("src"), ldiv(col("rank"), col("out")).as("_c"))
        .join(e, "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(col("_c") * col("_w")).as("_contrib"))
      val next = nodes
        .join(contrib, Seq("node"), "left")
        .crossJoin(broadcast(dang))
        .select(col("node"),
          (lit(base) + ldiv(
            lit(dampNum) * (coalesce(col("_contrib"), lit(0L)) +
              ldiv(col("_dang"), lit(n))),
            lit(dampDen))).as("rank"))
      val prev = ranks
      ranks = next.transform(checkpointed)
      unpersistCheckpoint(prev)
    }
    // the setup frames are only inputs to the (now materialized) final
    // ranks — release their blocks instead of holding them to session
    // end (the CC loop's unpersist discipline)
    unpersistCheckpoint(nodes)
    unpersistCheckpoint(outDeg)
    ranks
  }

  /** PERSONALIZED PageRank (TrustRank) — the same exact integer
    * recurrence as [[pageRankFixedPoint]], with the teleport (and the
    * dangling mass) directed at a SEED SET instead of uniformly at all
    * nodes (Haveliwala, "Topic-sensitive PageRank", WWW 2002;
    * Gyöngyi/Garcia-Molina/Pedersen, "Combating web spam with
    * TrustRank", VLDB 2004):
    *
    *   rank₀(v)   = [v ∈ S] · w_v · (SCALE div W)
    *   teleUnit   = SCALE div dDen · (dDen - dNum) div W
    *   rankᵢ₊₁(v) = [v ∈ S] · w_v · teleUnit
    *              + (dNum · (contrib(v) + [v ∈ S] · w_v · (dang div W))) div dDen
    *
    * with w_v the optional per-seed weight (1 when unweighted) and W
    * the total seed weight (= |S| when unweighted, recovering the
    * classic uniform split exactly)
    *
    * so trust flows OUT from the seeds and decays with link distance —
    * the canonical link-quality curation signal: seed a handful of
    * vetted domains, rank the rest of the corpus by how much seed
    * trust reaches them. All arithmetic is fixed-point longs with
    * floor division (the [[pageRankFixedPoint]] discipline), so a SQL
    * oracle unrolls the sweeps and the ranks hash-match bit for bit.
    *
    * Node set = edge endpoints ∪ seeds (a seed outside the edge set
    * keeps its teleport mass and simply never receives link mass).
    * Nodes unreached after `iterations` sweeps carry rank 0 — they are
    * emitted, not dropped, so the output is always one row per node.
    * Overflow bound: total mass ≤ SCALE as in the uniform recurrence
    * (the seed restriction only concentrates it), so the same
    * `dampDen <= 1000` guard applies. Scale shape per iteration is
    * identical to [[pageRankFixedPoint]]: one equi-join of ranks onto
    * edges, one hash aggregation onto dst, a one-row dangling
    * broadcast, localCheckpoint rotation.
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
      iterations: Int, dampNum: Int = 17, dampDen: Int = 20,
      weightCol: Option[String] = None,
      /** optional positive integer SEED-weight column in `seeds`: the
        * teleport (and the seed-directed dangling mass) splits over
        * the seeds in weight proportion instead of uniformly — the
        * published general form of TrustRank's static score
        * distribution (Gyöngyi VLDB 2004 §4.2 biases d to the seed
        * set; the weight vector is any non-uniform bias over it).
        * Quantized overflow-safe like edge weights: each seed gets
        * `w_s · (mass div W)` with `W` the total seed weight, at the
        * price of up to W−1 fixed-point units of dropped mass per
        * term — keep seed weights small integers. Duplicate seed rows
        * SUM their weights; uniform (None) is exactly the weight-1
        * case. */
      seedWeightCol: Option[String] = None): DataFrame =
    personalizedPageRankImpl(edges, seeds, iterations, dampNum, dampDen,
      weightCol, seedWeightCol, DriverPeelMax)

  /** [[personalizedPageRank]] with an explicit driver-local threshold —
    * the [[kCoreImpl]] spec hook. */
  private[graft] def personalizedPageRankImpl(edges: DataFrame,
      seeds: DataFrame, iterations: Int, dampNum: Int, dampDen: Int,
      weightCol: Option[String], seedWeightCol: Option[String],
      driverMax: Long): DataFrame = {
    require(iterations >= 0 && iterations <= 50,
      s"iterations must be in [0, 50], got $iterations")
    require(dampNum > 0 && dampDen > 0 && dampNum < dampDen,
      s"damping must be a rational in (0, 1), got $dampNum/$dampDen")
    require(dampDen <= 1000, s"dampDen must be <= 1000, got $dampDen")
    val w = weightCol.map(c => col(c).cast("long")).getOrElse(lit(1L))
    val e = edges.select(col("src"), col("dst"), w.as("_w"))
      .where(col("src").isNotNull && col("dst").isNotNull)
    weightCol.foreach(c => validateWeights(edges, c, None))
    val seedCol = seeds.columns.head
    val sRaw = seeds.select(col(seedCol).as("node"),
        seedWeightCol.map(col).getOrElse(lit(1L)).as("_swraw"))
      .where(col("node").isNotNull)
    // seed-weight validation flags RIDE the per-seed aggregation (one
    // seed-scale job instead of two, round 16), and the aggregation is
    // CHECKPOINTED once — every later handshake (flags, per-seed bound,
    // count, total) reads the materialized frame, and the driver-local
    // branch reads them all from ONE capped collect. Duplicates sum;
    // the per-seed and total sums cross decimal(38,0) so pathological
    // weights ERROR instead of corrupting the division.
    val sDec = checkpointed(sRaw.groupBy("node")
      .agg(sum(col("_swraw").cast("long").cast("decimal(38,0)")).as("_swd"),
        count(when(col("_swraw").isNotNull &&
          col("_swraw") =!= col("_swraw").cast("long"), 1)).as("_frac"),
        count(when(col("_swraw").isNull ||
          col("_swraw").cast("long") <= 0, 1)).as("_bad")))
    val maxLDec = java.math.BigDecimal.valueOf(Long.MaxValue)
    def requireSeedFlags(frac: Long, bad: Long): Unit =
      seedWeightCol.foreach { c =>
        require(frac == 0, s"seed weight column $c has non-integer " +
          "entries — the fixed-point recurrence needs integer weights")
        require(bad == 0,
          s"seed weight column $c has null/non-positive entries")
      }
    val cap = math.min(driverMax, Int.MaxValue - 2L).toInt + 1
    if (allLong(e, "src", "dst") && allLong(sRaw, "node")) {
      // DRIVER-LOCAL candidacy (round 16, the [[pageRankImpl]] shape):
      // two capped collects — the checkpointed seed aggregation and
      // the raw edge rows — decide the branch AND carry everything the
      // kernel needs (flags, per-seed/total bounds, node set, seed
      // weights, out-weights with the overflow guard), so a local run
      // no longer pays the seed handshakes, the node-distinct
      // checkpoint + count + collect, or the out-weight groupBy
      // (~7 actions). Corpus-scale seed/edge sets read at most
      // driverMax+1 rows each before staying distributed.
      val sArr = sDec.limit(cap).collect()
      if (sArr.length <= driverMax) {
        var frac = 0L; var bad = 0L
        var totW = java.math.BigDecimal.ZERO
        sArr.foreach { r =>
          frac += r.getLong(2); bad += r.getLong(3)
        }
        requireSeedFlags(frac, bad)
        sArr.foreach { r =>
          val d = r.getDecimal(1)
          require(d.compareTo(maxLDec) <= 0,
            "a seed's total weight exceeds Long.MaxValue — rescale seed weights")
          totW = totW.add(d)
        }
        require(sArr.nonEmpty,
          "personalizedPageRank needs a non-empty seed set")
        require(totW.compareTo(maxLDec) <= 0,
          "total seed weight exceeds Long.MaxValue — rescale seed weights")
        val bigW = totW.longValueExact()
        val teleUnit = Scale / dampDen * (dampDen - dampNum) / bigW
        val rankUnit = Scale / bigW
        val eCapped = e.select(col("src").cast("long"),
          col("dst").cast("long"), col("_w")).limit(cap).collect()
        if (eCapped.length <= driverMax) {
      // DRIVER-LOCAL SWEEPS — the [[pageRankImpl]] replay with the
      // seed-directed teleport/dangling terms; every contract check
      // above (seed weights, overflow decimals) ran on the collected
      // rows with identical errors, and all values are non-negative
      // longs so local division matches ldiv.
      // primitive-array replay (LocalGraph, round 15 — the
      // [[pageRankImpl]] layout with seed-directed teleport/dangling)
      val spark = edges.sparkSession
      import spark.implicits._
      unpersistCheckpoint(sDec)
      val eRows = eCapped
      val m = eRows.length
      val endp = new Array[Long](2 * m + sArr.length)
      var i = 0
      while (i < m) {
        endp(i) = eRows(i).getLong(0)
        endp(m + i) = eRows(i).getLong(1)
        i += 1
      }
      i = 0
      while (i < sArr.length) {
        endp(2 * m + i) = sArr(i).getLong(0); i += 1
      }
      val ix = LocalGraph.indexOf(endp)
      val nn = ix.size
      val seedW = new Array[Long](nn)
      val isSeed = new Array[Boolean](nn)
      sArr.foreach { r =>
        val v = ix.of(r.getLong(0))
        isSeed(v) = true
        seedW(v) = r.getDecimal(1).longValueExact()
      }
      val esi = new Array[Int](m)
      val edi = new Array[Int](m)
      val ewt = new Array[Long](m)
      val outW = new Array[Long](nn)
      val hasOut = new Array[Boolean](nn)
      i = 0
      while (i < m) {
        val r = eRows(i)
        val si = ix.of(r.getLong(0)); val di = ix.of(r.getLong(1))
        esi(i) = si; edi(i) = di; ewt(i) = r.getLong(2)
        // the distributed guard's decimal crossing, replayed exactly
        // (weights validated positive — pre-add bound check)
        require(outW(si) <= Long.MaxValue - ewt(i),
          "a node's total out-weight exceeds Long.MaxValue — rescale weights")
        outW(si) += ewt(i); hasOut(si) = true
        i += 1
      }
      val rank = new Array[Long](nn)
      var v0 = 0
      while (v0 < nn) {
        rank(v0) = if (isSeed(v0)) seedW(v0) * rankUnit else 0L
        v0 += 1
      }
      val cArr = new Array[Long](nn)
      val contrib = new Array[Long](nn)
      for (_ <- 0 until iterations) {
        var dang = 0L
        var v = 0
        while (v < nn) {
          if (!hasOut(v)) dang += rank(v)
          else cArr(v) = rank(v) / outW(v)
          v += 1
        }
        java.util.Arrays.fill(contrib, 0L)
        i = 0
        while (i < m) {
          contrib(edi(i)) += cArr(esi(i)) * ewt(i)
          i += 1
        }
        val dangUnit = dang / bigW
        v = 0
        while (v < nn) {
          rank(v) = (if (isSeed(v)) seedW(v) * teleUnit else 0L) +
            dampNum * (contrib(v) +
              (if (isSeed(v)) seedW(v) * dangUnit else 0L)) / dampDen
          v += 1
        }
      }
      return (0 until nn).map(v => (ix.ids(v), rank(v)))
        .toDF("node", "rank")
        }
        // else: edges exceed the bound — distributed (rows discarded)
      }
      // else: seeds exceed the bound — distributed (rows discarded)
    }
    // DISTRIBUTED prelude: every handshake reads the checkpointed seed
    // aggregation (cheap single-pass scans of materialized blocks)
    val flagChk = sDec.agg(sum(col("_frac")), sum(col("_bad"))).head()
    requireSeedFlags(flagChk.getLong(0), flagChk.getLong(1))
    val overS = sDec.where(col("_swd") > lit(Long.MaxValue)).limit(1).count()
    require(overS == 0,
      "a seed's total weight exceeds Long.MaxValue — rescale seed weights")
    val s = sDec.select(col("node"), col("_swd").cast("long").as("_sw"))
    val nS = s.count()
    require(nS > 0, "personalizedPageRank needs a non-empty seed set")
    // W = total seed weight; uniform seeds make W = |S| and every
    // weighted term below reduces to the published uniform recurrence
    val totW = s.agg(sum(col("_sw").cast("decimal(38,0)"))).head()
      .getDecimal(0)
    require(totW.compareTo(maxLDec) <= 0,
      "total seed weight exceeds Long.MaxValue — rescale seed weights")
    val bigW = totW.longValueExact()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .union(s.select(col("node"))).distinct()
      .join(s, Seq("node"), "left")
      .select(col("node"), col("_sw").isNotNull.as("_seed"), col("_sw"))
      .transform(checkpointed)
    val outDegDec = e.groupBy(col("src").as("node"))
      .agg(sum(col("_w").cast("decimal(38,0)")).as("_outd"))
    val overW = outDegDec
      .where(col("_outd") > lit(Long.MaxValue)).limit(1).count()
    require(overW == 0,
      "a node's total out-weight exceeds Long.MaxValue — rescale weights")
    // per-seed teleport = w_s · (T div W); uniform seeds (w_s = 1,
    // W = |S|) reduce every term to the classic T div |S| exactly
    val teleUnit = Scale / dampDen * (dampDen - dampNum) / bigW
    val rankUnit = Scale / bigW
    // distributed-only out-weight table (round 15: deferred out of
    // local runs, the [[pageRankImpl]] shape)
    val outDeg = outDegDec.select(col("node"),
      col("_outd").cast("long").as("out")).transform(checkpointed)
    def ldiv(a: Column, b: Column): Column =
      ((a - pmod(a, b)) / b).cast("long")
    var ranks = nodes
      .select(col("node"), col("_seed"),
        when(col("_seed"), col("_sw") * lit(rankUnit))
          .otherwise(lit(0L)).as("rank"))
      .transform(checkpointed)
    for (_ <- 0 until iterations) {
      val withOut = ranks.join(outDeg, Seq("node"), "left")
      val dang = withOut.where(col("out").isNull)
        .agg(coalesce(sum(col("rank")), lit(0L)).as("_dang"))
      val contrib = withOut.where(col("out").isNotNull)
        .select(col("node").as("src"), ldiv(col("rank"), col("out")).as("_c"))
        .join(e, "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(col("_c") * col("_w")).as("_contrib"))
      val next = nodes
        .join(contrib, Seq("node"), "left")
        .crossJoin(broadcast(dang))
        .select(col("node"), col("_seed"),
          (when(col("_seed"), col("_sw") * lit(teleUnit))
            .otherwise(lit(0L)) + ldiv(
            lit(dampNum) * (coalesce(col("_contrib"), lit(0L)) +
              when(col("_seed"), col("_sw") * ldiv(col("_dang"), lit(bigW)))
                .otherwise(lit(0L))),
            lit(dampDen))).as("rank"))
      val prev = ranks
      ranks = next.transform(checkpointed)
      unpersistCheckpoint(prev)
    }
    unpersistCheckpoint(nodes)
    unpersistCheckpoint(outDeg)
    unpersistCheckpoint(sDec)
    ranks.select(col("node"), col("rank"))
  }

  /** COMMUNITY DETECTION by DETERMINISTIC label propagation — the
    * standard near-linear community labeling (Raghavan, Albert &
    * Kumara, "Near linear time algorithm to detect community
    * structures in large-scale networks", Phys. Rev. E 2007) with its
    * two nondeterminisms replaced by fixed rules so the result is an
    * exact integer recurrence any engine replays bit-for-bit (the
    * [[pageRankFixedPoint]] discipline):
    *
    *   label₀(v)   = v
    *   labelᵢ₊₁(v) = the label carried by the LARGEST number of v's
    *                 neighbors in sweep i; ties broken by the SMALLEST
    *                 label — all nodes update SYNCHRONOUSLY
    *
    * (the published algorithm updates asynchronously in random order
    * with random tie-breaks; min-label synchronous sweeps are the
    * deterministic variant, the same choice the CC/PageRank operators
    * make). A fixed sweep count is the contract — communities are a
    * curation SIGNAL ("group domains into sites"), and k deterministic
    * sweeps gate through a SQL unroll where a convergence race never
    * could. Synchronous LPA can oscillate on bipartite-ish structure
    * instead of converging; fixed sweeps make that a defined result,
    * not a hang.
    *
    * Input edges are undirected ([[kCore]] canonicalization:
    * least/greatest, self-loops and duplicate/reverse edges dropped).
    * Output `(node, label)`, one row per edge endpoint; nodes sharing
    * a label after the final sweep are one community. Isolated nodes
    * (no edges) are absent by construction.
    *
    * Scale shape per sweep: one equi-join of labels onto the (static,
    * checkpointed) directed edge list, one (node, label) vote count,
    * one per-node argmax — the min-of-struct idiom, so the tie rule
    * rides ordinary aggregation, no window. localCheckpoint rotation
    * with superseded-block release; stock AQE (full-width sweeps — the
    * PageRank-family A/B measured stock AQE faster than
    * partitioning-reuse for sweeps that touch every node). */
  def labelPropagation(edges: DataFrame, sweeps: Int,
      /** optional positive integer edge-weight column: a neighbor's
        * vote counts its edge weight instead of 1 (the weighted form
        * of the published update — heavier co-citation ties pull
        * harder). Parallel duplicate edges SUM their weights during
        * canonicalization; weights on the two directions of the same
        * undirected pair also sum. Null/non-positive/fractional
        * weights are an error, not a silent drop. */
      weightCol: Option[String] = None): DataFrame =
    labelPropagationImpl(edges, sweeps, weightCol, DriverPeelMax)

  /** [[labelPropagation]] with an explicit driver-local threshold —
    * the [[kCoreImpl]] spec hook (`driverMax = 0` forces the
    * distributed sweeps). */
  private[graft] def labelPropagationImpl(edges: DataFrame, sweeps: Int,
      weightCol: Option[String], driverMax: Long): DataFrame = {
    require(sweeps >= 0 && sweeps <= 50,
      s"sweeps must be in [0, 50], got $sweeps")
    // weights are positive, so every vote sum is bounded by the TOTAL
    // weight mass — one decimal-crossing check makes overflow an
    // ERROR, never a wrapped vote (the pageRank out-weight idiom);
    // the total rides the validation aggregation (one raw scan, r15)
    weightCol.foreach { c =>
      val tot = validateWeightsTotal(edges, c, None)
      require(tot == null ||
        tot.compareTo(java.math.BigDecimal.valueOf(Long.MaxValue)) <= 0,
        "total edge weight exceeds Long.MaxValue — rescale weights")
    }
    val w = weightCol.map(c => col(c).cast("long")).getOrElse(lit(1L))
    val undRaw = edges.select(
        least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"),
        w.as("_w"))
      .where(col("u") =!= col("v") &&
        col("u").isNotNull && col("v").isNotNull)
    val und = undRaw
      .groupBy(col("u"), col("v"))
      .agg((if (weightCol.isEmpty) lit(1L)
        else sum(col("_w"))).as("_w"))
    // the CANONICAL aggregation is checkpointed on its own (round 16):
    // the driver-local branch is decided by a capped collect of it —
    // no count action, no materialization of the 2x-row mirrored
    // union, half the collected bytes — and the distributed branch
    // builds the mirrored list by scanning the materialized blocks
    // instead of re-running the aggregation
    val undC = checkpointed(und)
    val capL = math.min(driverMax, Int.MaxValue - 2L).toInt + 1
    val undArr =
      if (allLong(undC, "u", "v")) undC.limit(capL).collect() else null
    if (undArr != null && undArr.length <= driverMax) {
      // DRIVER-LOCAL SWEEPS (the [[kCoreImpl]] discipline) — the same
      // synchronous vote/argmax recurrence on the collected canonical
      // edge list; a fixed-sweep contract has no convergence budget to
      // carry. Each edge is mirrored IN-PROCESS (the round-14 half-
      // transfer idiom). The sweeps run on primitive CSR arrays
      // (LocalGraph — round 15: the boxed HashMap votes cost 3.4-4.4 s
      // for three sweeps at the sf0.1 edge count, dominating the whole
      // gate); dense indices are order-isomorphic to ids, so the
      // min-label tie rule compares identically and the labeling is
      // bit-identical.
      val spark = edges.sparkSession
      import spark.implicits._
      val rows = undArr
      unpersistCheckpoint(undC)
      val m = rows.length
      val us = new Array[Long](m)
      val vs = new Array[Long](m)
      val ws = new Array[Long](m)
      var i = 0
      while (i < m) {
        val r = rows(i)
        us(i) = r.getLong(0); vs(i) = r.getLong(1); ws(i) = r.getLong(2)
        i += 1
      }
      val ix = LocalGraph.indexOf(us ++ vs)
      val n = ix.size
      val srcs = new Array[Int](2 * m)
      val dsts = new Array[Int](2 * m)
      val ew = new Array[Long](2 * m)
      i = 0
      while (i < m) {
        val ui = ix.of(us(i)); val vi = ix.of(vs(i))
        srcs(i) = ui; dsts(i) = vi; ew(i) = ws(i)
        srcs(m + i) = vi; dsts(m + i) = ui; ew(m + i) = ws(i)
        i += 1
      }
      val csr = LocalGraph.buildCsr(n, srcs, dsts, ew)
      val lab = new Array[Int](n)
      i = 0; while (i < n) { lab(i) = i; i += 1 }
      var maxDeg = 1
      i = 0
      while (i < n) {
        val d = csr.off(i + 1) - csr.off(i)
        if (d > maxDeg) maxDeg = d
        i += 1
      }
      val votes = new LocalGraph.StampedMap(maxDeg)
      val next = new Array[Int](n)
      var sw = 0
      while (sw < sweeps) {
        // synchronous vote/argmax: every node's votes read the OLD
        // labels (written into `next`, copied after the full pass)
        var v = 0
        while (v < n) {
          votes.clear()
          var p = csr.off(v)
          val pEnd = csr.off(v + 1)
          while (p < pEnd) { votes.add(lab(csr.nbr(p)).toLong, csr.w(p)); p += 1 }
          // argmax with min-label ties — the (-count, label) min rule
          var bestL = lab(v)
          var bestC = 0L
          var any = false
          votes.foreachEntry { (l, c) =>
            if (!any || c > bestC || (c == bestC && l < bestL)) {
              any = true; bestL = l.toInt; bestC = c
            }
          }
          next(v) = bestL
          v += 1
        }
        System.arraycopy(next, 0, lab, 0, n)
        sw += 1
      }
      return (0 until n).map(v => (ix.ids(v), ix.ids(lab(v))))
        .toDF("node", "label")
    }
    val eb = undC.select(col("u").as("src"), col("v").as("dst"), col("_w"))
      .union(undC.select(col("v").as("src"), col("u").as("dst"), col("_w")))
      .transform(checkpointed)
    unpersistCheckpoint(undC)
    // every endpoint appears as src in eb (both directions), so the
    // src projection IS the node set
    var labels = eb.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
      .transform(checkpointed)
    for (_ <- 0 until sweeps) {
      val votes = labels.select(col("node").as("src"), col("label"))
        .join(eb, "src")
        .groupBy(col("dst").as("node"), col("label"))
        .agg(sum(col("_w")).as("_c"))
      // argmax with min-label ties as a MIN over (-count, label)
      // structs: lexicographic struct order gives highest count first,
      // then smallest label — one aggregation, engine-portable
      val next = votes
        .groupBy("node")
        .agg(min(struct((-col("_c")).as("_nc"), col("label").as("_lb")))
          .as("_best"))
        .select(col("node"), col("_best._lb").as("label"))
      val prev = labels
      labels = next.transform(checkpointed)
      unpersistCheckpoint(prev)
    }
    unpersistCheckpoint(eb)
    labels
  }

  /** COMMUNITY CENSUS — the exact integers behind modularity. Per
    * label: node count, INTERNAL undirected edge count m_c (both
    * endpoints share the label), and total degree mass d_c (sum of
    * members' degrees). Newman–Girvan modularity
    * `Q = Σ_c (m_c/m − (d_c/2m)²)` (Phys. Rev. E 2004) follows by
    * arithmetic; the census reports the INTEGERS so the cross-engine
    * gate is exact and the caller picks the ratio's precision. The
    * natural consumer of [[labelPropagation]]'s output ("how big/dense
    * did the communities come out?") and of any external labeling.
    *
    * `labels` must be `(node, label)` with EXACTLY one row per node of
    * the edge set (extra labeled nodes are fine — they census with
    * degree 0); a missing or duplicated node is an ERROR, not a tier —
    * a labeling that doesn't cover the graph is a bug upstream. Edges
    * canonicalize like [[kCore]]. Output
    * `(label, n_nodes, internal_edges, degree_sum)`, one row per
    * distinct label; with `weightCol`, two more columns
    * `(internal_weight, weighted_degree_sum)` — the weighted census
    * behind WEIGHTED modularity (Newman, "Analysis of weighted
    * networks", Phys. Rev. E 2004), with parallel/reverse duplicate
    * weights summed during canonicalization (the [[labelPropagation]]
    * rule) and the total mass bounded by one decimal-crossing check.
    *
    * Shape: two broadcast-or-shuffle label joins onto the
    * canonicalized edge list and three aggregations — no iteration,
    * no windows; the two validation handshakes are one-number reads. */
  def communityStats(edges: DataFrame, labels: DataFrame,
      weightCol: Option[String] = None): DataFrame = {
    val lab = labels.select(col("node"), col("label"))
    val labChk = lab.agg(count(lit(1)).as("_n"),
      count_distinct(col("node")).as("_nd"),
      count(when(col("label").isNull, 1)).as("_nullLab")).head()
    require(labChk.getLong(0) == labChk.getLong(1),
      "labels must carry exactly one row per node — duplicates found")
    require(labChk.getLong(2) == 0, "labels must be non-null")
    weightCol.foreach { c =>
      // positive weights: every census sum is bounded by the DEGREE
      // mass 2W (weighted_degree_sum counts each edge's weight at BOTH
      // endpoints), so the decimal-crossing check bounds W at
      // Long.MaxValue/2 — overflow is an ERROR, never a wrapped count
      // (the labelPropagation idiom, tightened to the 2W bound); the
      // total rides the validation aggregation (one raw scan, r15)
      val tot = validateWeightsTotal(edges, c, None)
      require(tot == null ||
        tot.compareTo(java.math.BigDecimal.valueOf(Long.MaxValue / 2)) <= 0,
        "total edge weight exceeds Long.MaxValue/2 — the per-label " +
          "degree mass counts each edge twice; rescale weights")
    }
    val w = weightCol.map(c => col(c).cast("long")).getOrElse(lit(1L))
    val undRaw = edges.select(
        least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"),
        w.as("_w"))
      .where(col("u") =!= col("v") &&
        col("u").isNotNull && col("v").isNotNull)
    // ONE materialization of the LABEL-TAGGED canonical edge list
    // serves the missing-label handshake, the internal-edge census and
    // the degree census (round 16): previously each consumer re-ran
    // the raw-edge scan + (u, v) aggregation + label joins — the plan
    // held two independent `und` subtrees and the handshake a third —
    // so the operator paid the edge-scale shuffle ~3x per call (guide
    // §2.4: share the exchange; §5: localCheckpoint to cut the
    // duplicated lineage). Tagging BEFORE the checkpoint also lets the
    // degree census read each endpoint's label straight off the row —
    // the old per-endpoint explode+join with `lab` is gone. The blocks
    // are released before returning — the returned census is its own
    // (label-scale) checkpoint, so nothing edge-scale outlives the call.
    val und = undRaw.groupBy(col("u"), col("v"))
      .agg((if (weightCol.isEmpty) lit(1L) else sum(col("_w"))).as("_w"))
    val tagged = checkpointed(und
      .join(lab.select(col("node").as("u"), col("label").as("_lu")),
        Seq("u"), "left")
      .join(lab.select(col("node").as("v"), col("label").as("_lv")),
        Seq("v"), "left"))
    val missing = tagged
      .where(col("_lu").isNull || col("_lv").isNull).limit(1).count()
    require(missing == 0,
      "labels are missing nodes of the edge set — label the whole graph")
    val nNodes = lab.groupBy(col("label"))
      .agg(count(lit(1)).as("n_nodes"))
    val internal = tagged.where(col("_lu") === col("_lv"))
      .groupBy(col("_lu").as("label"))
      .agg(count(lit(1)).as("internal_edges"),
        sum(col("_w")).as("internal_weight"))
    val degMass = tagged
      .select(explode(array(
        struct(col("_lu").as("label"), col("_w")),
        struct(col("_lv").as("label"), col("_w")))).as("_e"))
      .select(col("_e.label").as("label"), col("_e._w").as("_w"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("degree_sum"),
        sum(col("_w")).as("weighted_degree_sum"))
    val base = nNodes
      .join(internal, Seq("label"), "left")
      .join(degMass, Seq("label"), "left")
    val plain = Seq(col("label"), col("n_nodes"),
      coalesce(col("internal_edges"), lit(0L)).as("internal_edges"),
      coalesce(col("degree_sum"), lit(0L)).as("degree_sum"))
    val weighted = Seq(
      coalesce(col("internal_weight"), lit(0L)).as("internal_weight"),
      coalesce(col("weighted_degree_sum"), lit(0L))
        .as("weighted_degree_sum"))
    // label-scale: materialize the census so the edge-scale blocks can
    // release NOW instead of riding the returned lineage to session end
    val census = checkpointed(base.select(
      (if (weightCol.isEmpty) plain else plain ++ weighted): _*))
    unpersistCheckpoint(tagged)
    census
  }

  /** NEWMAN–GIRVAN MODULARITY as EXACT RATIONALS — the community-
    * quality score `Q = Σ_c (m_c/m − (d_c/2m)²)` (Newman/Girvan,
    * Phys. Rev. E 2004; weighted form Newman 2004 with edge mass W in
    * place of edge count m), reported per label as an integer
    * numerator over the shared denominator:
    *
    *   q_num(c) = 4·m·m_c − d_c²       q_den = 4·m²     Q = Σ q_num / q_den
    *
    * so the cross-engine gate is exact and the caller picks the
    * ratio's precision — the repo's exact-rational discipline (BM25's
    * idiom) applied to the community score. The per-label rows ARE the
    * standard per-community contribution decomposition ("which
    * communities carry the structure"); sum q_num for the global Q.
    *
    * `labels` contract as in [[communityStats]] (exactly one label per
    * node, full coverage — errors otherwise). Overflow is an ERROR up
    * front, never a wrapped score: d_c ≤ 2m and m_c ≤ m, so every term
    * is bounded by (2m)² — the require bounds 2m (2W weighted) by
    * floor(√Long.MaxValue); rescale weights past ~1.5e9 edge mass (at
    * which point Q needs only the census integers anyway, which
    * [[communityStats]] reports unbounded).
    *
    * Output `(label, q_num, q_den)`, one row per label. Shape: the
    * [[communityStats]] census plus ONE one-row total broadcast back
    * onto it — no extra edge scan. */
  def modularity(edges: DataFrame, labels: DataFrame,
      weightCol: Option[String] = None): DataFrame = {
    // [[communityStats]] returns its own label-scale checkpoint (round
    // 16 census seam), so the total handshake and the output selection
    // already pay the edge joins once — no second checkpoint here
    val census = communityStats(edges, labels, weightCol)
    val (mc, dc) =
      if (weightCol.isEmpty) (col("internal_edges"), col("degree_sum"))
      else (col("internal_weight"), col("weighted_degree_sum"))
    // Σ_c d_c = 2m exactly (labels cover every node, each edge
    // endpoint counted once) — the total rides the census, no second
    // edge scan
    val tot = census.agg(sum(dc).as("_m2")).head()
    val m2 = if (tot.isNullAt(0)) 0L else tot.getLong(0)
    require(m2 > 0, "modularity over an empty edge set")
    require(m2 <= 3037000499L, // floor(sqrt(Long.MaxValue))
      s"edge mass 2m = $m2 too large for exact long arithmetic — " +
        "rescale weights or read the census integers directly")
    census.select(col("label"),
      (lit(m2) * mc * 2L - dc * dc).as("q_num"),
      lit(m2 * m2).as("q_den"))
  }

  /** MODULARITY-ASCENDING REFINEMENT — one-level Louvain local moves
    * (Blondel et al., "Fast unfolding of communities in large
    * networks", J. Stat. Mech. 2008) made deterministic, synchronous,
    * and PROVABLY monotone, on the exact-rational census arithmetic of
    * [[modularity]]. Per sweep:
    *
    *   1. every node v in community a scores each NEIGHBOR community
    *      b ≠ a by the exact integer modularity gain of the isolated
    *      move a → b (q_den = M² units, M = 2m the degree mass):
    *
    *        ΔQ·q_den = 2M·(k_vb − k_va) − 2·d_v·(d_b − d_a + d_v)
    *
    *      where k_vc = weight of v's edges into c, d_v = v's degree
    *      mass, d_c = community degree mass (a's INCLUDING v, b's
    *      excluding v — b doesn't contain v);
    *   2. v proposes its best candidate: max ΔQ, ties to the SMALLEST
    *      target label, kept only if ΔQ > 0;
    *   3. a proposal applies iff it is the top-ranked proposal
    *      (max ΔQ, ties to the smallest node) among ALL proposals
    *      touching its source community AND among all touching its
    *      target — so applied moves touch pairwise-DISJOINT community
    *      pairs, every applied ΔQ stays exact under the simultaneous
    *      application, and the sweep's gain is their sum: Q strictly
    *      increases whenever any move applies (the law the spec
    *      asserts). Naive synchronous Louvain lacks this — two
    *      simultaneous movers into the same community can overshoot
    *      and DROP Q (the swap-thrash problem of parallel LPA/Louvain,
    *      cf. Lu/Halappanavar/Kalyanaraman, Parallel Computing 2015);
    *      the two-sided winner rule is this engine's exact answer.
    *
    * Deterministic (pure integer argmins), synchronous, and
    * engine-portable — a SQL oracle unrolls the sweeps exactly like
    * [[labelPropagation]]'s gate. Not a full Louvain (no coarsening
    * levels, a FIXED sweep budget, one move per community pair per
    * sweep): it is the polish pass for a ragged LPA labeling, not a
    * from-scratch detector.
    *
    * Worst case, documented like the SCC condensation chain: a CHAIN
    * of proposals — move a→b while another node proposes b→c, c→d, … —
    * shares a community between every adjacent pair, so the winner
    * rule applies exactly ONE move per chain per sweep (the smallest
    * node end; spec-pinned). Monotonicity and determinism hold
    * regardless; convergence on an adversarial chain costs one sweep
    * per link, bounded by the sweep budget. DISJOINT proposal pairs —
    * the common case after LPA, where misfits sit in unrelated
    * communities — all apply in the same sweep (the 1M/10M probe's
    * closed form applies n/20 moves in sweep one).
    *
    * `labels` contract as in [[communityStats]] (exactly one label per
    * node of the edge set — extra labeled nodes pass through
    * untouched); weighted form via `weightCol` with the
    * [[labelPropagation]] canonicalization (parallel/reverse weights
    * sum). Self-loops canonicalize away (the kCore/[[communityStats]]
    * family rule); the Louvain condensation's supernode self-mass
    * enters through [[louvain]]'s internal variant instead.
    * Overflow is an ERROR up front: every ΔQ term is bounded by
    * 4M², so the guard binds M at floor(√(Long.MaxValue/4)) ≈ 1.5e9 —
    * tighter than [[modularity]]'s 2M bound by exactly the factor the
    * gain formula's cross terms need.
    *
    * Output `(node, label)` — the refined labeling. Scale shape per
    * sweep: ONE edge-scale pass (the label join + (node, community)
    * aggregation building k_vc, checkpointed for its three consumers;
    * d_c rides it — Σ_v k_vc IS the community degree mass, no second
    * edge scan), then node-scale joins and three tiny argmin
    * aggregations over the proposal set, and a label-update left
    * join — checkpoint rotation, no windows over data-sized frames,
    * no driver reads in the loop. */
  def refineCommunities(edges: DataFrame, labels: DataFrame, sweeps: Int,
      weightCol: Option[String] = None): DataFrame =
    refineCommunitiesImpl(edges, labels, sweeps, weightCol, DriverPeelMax)

  /** [[refineCommunities]] with an explicit driver-local threshold —
    * the [[kCoreImpl]] spec hook (`driverMax = 0` forces the
    * distributed sweeps). */
  private[graft] def refineCommunitiesImpl(edges: DataFrame,
      labels: DataFrame, sweeps: Int, weightCol: Option[String],
      driverMax: Long): DataFrame = {
    val (lab, und, _) = refineImpl(edges, None, labels, sweeps, weightCol,
      driverMax)
    unpersistCheckpoint(und)
    lab
  }

  /** [[refineCommunities]] generalized with an optional supernode
    * SELF-MASS table `(node, _sw)` — the [[louvain]] condensation's
    * internal community mass. A self-mass row adds 2·_sw to its node's
    * degree d_v and to the total M (the standard A_vv convention)
    * while never producing a move candidate: the mass travels with its
    * node, cancelling out of k_vb − k_va exactly. Private — the public
    * operator keeps the family's self-loop-free canonical contract.
    * Returns (labels, canonical weighted edge list, local data) — the
    * second element is the CHECKPOINTED `(u, v, _w)` frame the sweeps
    * scored ([[louvain]] condenses over it instead of re-aggregating
    * the raw edges); every caller owns its release. The third is
    * `Some((canonical edges, final labeling))` exactly when the sweeps
    * ran DRIVER-LOCALLY — [[louvainImpl]] then condenses the hierarchy
    * in-process instead of re-launching Spark jobs per coarse level
    * (round 16). */
  private def refineImpl(edges: DataFrame, selfMass: Option[DataFrame],
      labels: DataFrame, sweeps: Int,
      weightCol: Option[String], driverMax: Long): (DataFrame, DataFrame,
      Option[(Array[(Long, Long, Long)], Map[Long, Long])]) = {
    require(sweeps >= 0 && sweeps <= 50,
      s"sweeps must be in [0, 50], got $sweeps")
    val lab0 = labels.select(col("node"), col("label"))
    val labChk = lab0.agg(count(lit(1)).as("_n"),
      count_distinct(col("node")).as("_nd"),
      count(when(col("label").isNull, 1)).as("_nullLab")).head()
    require(labChk.getLong(0) == labChk.getLong(1),
      "labels must carry exactly one row per node — duplicates found")
    require(labChk.getLong(2) == 0, "labels must be non-null")
    // decimal-crossing mass check BEFORE any long aggregation can wrap
    // (the communityStats ordering). WEIGHTED: on the PRE-aggregation
    // frame — with weights validated positive, bounding the raw sum
    // bounds every downstream long groupBy sum, and parallel weights
    // SUM during collapse, so the raw total IS the collapsed total
    // (exact, not conservative); the total rides the validation
    // aggregation, one raw-edge scan instead of two (round 15).
    // UNWEIGHTED: on the COLLAPSED frame — parallels collapse to mass
    // 1 (a raw-row bound would falsely refuse a duplicate-heavy edge
    // list), and the collapse itself cannot wrap (it aggregates the
    // literal 1, never a sum). Degree mass counts each edge at both
    // endpoints and self-mass twice, so the bound is on
    // 2·(Σ w + Σ _sw).
    val wTot = weightCol.map(c => validateWeightsTotal(edges, c, None))
    val w = weightCol.map(c => col(c).cast("long")).getOrElse(lit(1L))
    val undRaw = edges.select(
        least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"),
        w.as("_w"))
      .where(col("u") =!= col("v") &&
        col("u").isNotNull && col("v").isNotNull)
    val und = undRaw
      .groupBy(col("u"), col("v"))
      .agg((if (weightCol.isEmpty) lit(1L) else sum(col("_w"))).as("_w"))
      .transform(checkpointed)
    if (labChk.getLong(0) <= driverMax &&
        allLong(und, "u", "v") && allLong(lab0, "node", "label")) {
      // DRIVER-LOCAL SWEEPS (the [[kCoreImpl]] discipline): a
      // sub-threshold canonical edge list runs [[refineLocal]] — the
      // arithmetic the louvain coarse levels already share — instead
      // of paying ~8 driver actions of fixed latency per sweep. Both
      // collects are bounded: the labels by labChk's row count (a
      // whole-corpus labeling over a small edge subgraph must stay
      // distributed), the canonical edges by the CAPPED
      // `limit(driverMax + 1)` collect that also DECIDES the branch
      // (round 16: previously a count action plus a second full
      // collect — one checkpoint-scan action saved per local run, the
      // LPA/pageRank idiom). The mass guard and the no-edge early-out
      // move inside each branch: the local one computes its totals
      // from the collected rows (the weighted total already rode the
      // validation scan; the unweighted collapsed total IS the row
      // count — every parallel group has mass exactly 1), saving the
      // agg action, with the identical require text and ordering
      // (mass guard before coverage).
      val cap = math.min(driverMax, Int.MaxValue - 2L).toInt + 1
      val undArr = und.limit(cap).collect()
      if (undArr.length <= driverMax) {
        val spark = edges.sparkSession
        import spark.implicits._
        val canon = undArr.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        val selfW = selfMass.map(_.select(col("node").cast("long"),
            col("_sw").cast("long")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toMap)
          .getOrElse(Map.empty[Long, Long])
        val rawDecL = wTot match {
          case Some(t) => if (t == null) java.math.BigDecimal.ZERO else t
          case None => java.math.BigDecimal.valueOf(canon.length.toLong)
        }
        var selfDecL = java.math.BigDecimal.ZERO
        selfW.valuesIterator.foreach(v =>
          selfDecL = selfDecL.add(java.math.BigDecimal.valueOf(v)))
        require(rawDecL.add(selfDecL)
            .multiply(java.math.BigDecimal.valueOf(2L)).compareTo(
            java.math.BigDecimal.valueOf(1518500249L)) <= 0, // floor(sqrt(Long.Max/4))
          "edge mass 2m exceeds the exact-long gain bound " +
            "floor(sqrt(Long.MaxValue/4)) — rescale weights")
        val labels0 = lab0.collect().map(r => (r.getLong(0), r.getLong(1)))
        val labSet = new scala.collection.mutable.HashSet[Long]
        labels0.foreach(t => labSet += t._1)
        require(canon.forall(e => labSet(e._1) && labSet(e._2)) &&
            selfW.keysIterator.forall(labSet),
          "labels are missing nodes of the edge set — label the whole graph")
        val out = refineLocal(canon.toSeq, selfW, labels0.toSeq, sweeps)
        return (out.toSeq.toDF("node", "label"), und, Some((canon, out)))
      }
      // else: the canonical edge set exceeds the bound — fall through
      // to the distributed sweeps (the capped rows are discarded)
    }
    val rawDec = wTot.getOrElse(
      und.agg(sum(col("_w").cast("decimal(38,0)"))).head().getDecimal(0))
    val selfDec = selfMass
      .map(_.agg(sum(col("_sw").cast("decimal(38,0)"))).head().getDecimal(0))
      .filter(_ != null)
      .getOrElse(java.math.BigDecimal.ZERO)
    if (rawDec == null) { // no edges: no candidate moves exist
      return (lab0, und, None)
    }
    require(rawDec.add(selfDec)
        .multiply(java.math.BigDecimal.valueOf(2L)).compareTo(
        java.math.BigDecimal.valueOf(1518500249L)) <= 0, // floor(sqrt(Long.Max/4))
      "edge mass 2m exceeds the exact-long gain bound " +
        "floor(sqrt(Long.MaxValue/4)) — rescale weights")
    val eb = und.select(col("u").as("src"), col("v").as("dst"), col("_w"))
      .union(und.select(col("v").as("src"), col("u").as("dst"), col("_w")))
      .transform(checkpointed)
    // fixed per-node degree mass (+ 2·self-mass when condensed) and
    // the total M = 2m (2W weighted) — long sums are safe post-guard
    val dvBase = eb.groupBy(col("src").as("node"))
      .agg(sum(col("_w")).as("_dv"))
    val dv = selfMass.fold(dvBase) { sm =>
        dvBase.join(sm.select(col("node"), col("_sw")),
            Seq("node"), "full_outer")
          .select(col("node"),
            (coalesce(col("_dv"), lit(0L)) +
              lit(2L) * coalesce(col("_sw"), lit(0L))).as("_dv"))
      }
      .transform(checkpointed)
    val m2 = dv.agg(sum(col("_dv")).as("_m")).head().getLong(0)
    // coverage: every edge endpoint must be labeled (the
    // communityStats contract — a partial labeling is a bug upstream)
    val missing = dv.join(lab0, Seq("node"), "left_anti").limit(1).count()
    require(missing == 0,
      "labels are missing nodes of the edge set — label the whole graph")
    var lab = lab0.transform(checkpointed)
    for (_ <- 0 until sweeps) {
      // k_vc: v's edge mass into each neighbor community — the sweep's
      // one edge-scale pass, CHECKPOINTED because three consumers read
      // it (d_c, k_va, candidates); (node, community) rows ≤ edges
      val kvc = checkpointed(eb
        .join(lab.select(col("node").as("dst"), col("label").as("_cl")),
          "dst")
        .groupBy(col("src").as("node"), col("_cl"))
        .agg(sum(col("_w")).as("_k")))
      // community degree mass. Self-loop-free (the public operator):
      // it rides kvc, no second edge pass — Σ_v k_vc = Σ over eb edges
      // with dst ∈ c of w = Σ_{u∈c} d_u = d_c (eb carries both
      // directions, so per-node in-mass = degree mass). With condensed
      // self-mass, k_vc no longer carries it (a self-loop is nobody's
      // neighbor edge), so d_c must sum dv over members — a NODE-scale
      // join + aggregation, still no second edge pass.
      val dc = selfMass match {
        case None => kvc.groupBy(col("_cl").as("label"))
          .agg(sum(col("_k")).as("_dc"))
        case Some(_) => lab.join(dv, Seq("node"))
          .groupBy(col("label")).agg(sum(col("_dv")).as("_dc"))
      }
      // v's own community, own-mass k_va (0 when no intra edge), d_v
      val ka = kvc
        .join(lab.select(col("node"), col("label").as("_la")), Seq("node"))
        .where(col("_cl") === col("_la"))
        .select(col("node"), col("_k").as("_ka"))
      val own = lab
        .join(dv, Seq("node"))
        .join(ka, Seq("node"), "left")
        .select(col("node"), col("label").as("_a"),
          col("_dv"), coalesce(col("_ka"), lit(0L)).as("_ka"))
      // candidate gains: ΔQ·q_den for every neighbor community b ≠ a
      val cand = kvc
        .join(own, Seq("node"))
        .where(col("_cl") =!= col("_a"))
        .join(dc.select(col("label").as("_cl"), col("_dc").as("_dcB")),
          Seq("_cl"))
        .join(dc.select(col("label").as("_a"), col("_dc").as("_dcA")),
          Seq("_a"))
        .select(col("node"), col("_a"), col("_cl").as("_b"),
          (lit(2L) * m2 * (col("_k") - col("_ka")) -
            lit(2L) * col("_dv") *
              (col("_dcB") - col("_dcA") + col("_dv"))).as("_dq"))
        .where(col("_dq") > 0)
      // best proposal per node: max gain, ties to the smallest target
      val prop = cand
        .groupBy(col("node"), col("_a"))
        .agg(min(struct((-col("_dq")).as("_nq"), col("_b").as("_tb")))
          .as("_best"))
        .select(col("node"), col("_a"), col("_best._tb").as("_b"),
          (-col("_best._nq")).as("_dq"))
      // two-sided winner rule: a proposal applies iff it is the
      // top-ranked (max gain, ties to the smallest node) among all
      // proposals touching its source community AND its target
      val touch = prop.select(explode(array(col("_a"), col("_b")))
          .as("_c"), col("node"), col("_dq"))
        .groupBy(col("_c"))
        .agg(min(struct((-col("_dq")).as("_nq"), col("node").as("_n")))
          .as("_top"))
        .select(col("_c"), col("_top._n").as("_winner"))
      val applied = prop
        .join(touch.select(col("_c").as("_a"),
          col("_winner").as("_wa")), Seq("_a"))
        .join(touch.select(col("_c").as("_b"),
          col("_winner").as("_wb")), Seq("_b"))
        .where(col("node") === col("_wa") && col("node") === col("_wb"))
        .select(col("node"), col("_b"))
      val prev = lab
      lab = lab.join(applied, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("_b"), col("label")).as("label"))
        .transform(checkpointed)
      unpersistCheckpoint(prev)
      unpersistCheckpoint(kvc)
    }
    unpersistCheckpoint(eb)
    unpersistCheckpoint(dv)
    (lab, und, None)
  }

  /** MULTI-LEVEL LOUVAIN — the full Blondel et al. (J. Stat. Mech.
    * 2008) coarsening recursion over [[refineCommunities]]: each level
    * runs the provably-monotone local-move sweeps, then CONDENSES the
    * labeling — communities become supernodes, inter-community mass
    * becomes coarse edge weight, internal mass becomes supernode
    * SELF-mass (2·mass of degree via the A_vv convention) — and
    * refines the condensed graph from singleton supernode labels.
    * Because a condensed-graph move is EXACTLY a group move on the
    * original graph (masses are preserved: a supernode's degree is its
    * community's degree mass, the condensed total M is the original
    * M), every level's exact-integer gains equal the original-graph
    * gains of the corresponding group relabeling — so the ORIGINAL
    * graph's [[modularity]] is monotone across levels exactly as it is
    * across sweeps (the law the spec asserts per level). This is what
    * one-level local moves cannot do: merge whole communities (the
    * resolution-limit regime — e.g. a ring of small cliques — merges
    * only at level ≥ 2).
    *
    * Deterministic end to end (levels run the [[refineCommunities]]
    * integer argmins; condensation is pure aggregation), exact-integer
    * arithmetic throughout, engine-portable — the SQL oracle unrolls
    * level 1's sweeps, the condensation, level 2's self-mass sweeps,
    * and the label map-back. FIXED budgets, both an ERROR past their
    * bounds: `levels` in [1, 10] (real hierarchies flatten in 3-5),
    * `sweepsPerLevel` in [0, 50].
    *
    * `edges`/`labels`/`weightCol` contracts as [[refineCommunities]]
    * (labels seed level 1 — LPA output or singletons; self-loops
    * canonicalize away; extra labeled nodes pass through). Output
    * `(node, label)` over the ORIGINAL nodes — labels are level-`levels`
    * community ids (drawn from the label space, each a member node's
    * seed label).
    *
    * Scale shape per level: the [[refineCommunities]] sweeps (one
    * edge-scale pass per sweep) plus ONE condensation pass over the
    * canonical edge list (two label joins + two aggregations) and a
    * node-scale composition join — and each level's graph is no larger
    * than the last (supernodes = communities), so level cost strictly
    * shrinks; checkpoint rotation on the mapping keeps lineage flat.
    * SMALL-COARSE fast path: real hierarchies condense to a few dozen
    * supernodes by level 2, where a distributed coarse sweep's cost is
    * pure fixed overhead — ~15 driver actions (checkpoints, guard
    * handshakes) of a few hundred ms each against a near-empty frame,
    * measured flat under `repartition(1)` because per-JOB latency, not
    * task count, dominates. Below the supernode threshold the coarse
    * sweeps therefore run DRIVER-LOCALLY ([[refineLocal]]) on the
    * collected condensed graph — the identical exact-integer argmin
    * arithmetic, bounded by threshold² rows — while the condensation
    * itself stays one parallel edge-scale aggregation. Three gates pin
    * the two paths' agreement: GraphSpec's random-graph replay
    * equalities, the q_x_graph_louvain / _weighted DuckDB unrolls
    * (hash-exact), and the 10M probe whose 3.3M-supernode coarse level
    * keeps the distributed branch exercised. */
  def louvain(edges: DataFrame, labels: DataFrame, sweepsPerLevel: Int,
      levels: Int, weightCol: Option[String] = None): DataFrame =
    louvainImpl(edges, labels, sweepsPerLevel, levels, weightCol,
      DriverCoarseMax)

  /** [[louvain]] with an explicit driver-local supernode threshold —
    * package-private so the spec can pin EITHER coarse branch on the
    * same small fixture: `driverMax = 0` forces every coarse level
    * through the distributed [[refineImpl]] (the driver-local path is
    * arithmetic shared with the test replay, so only the distributed
    * branch gives the replay equality an independent implementation
    * to bite on), the default exercises the driver-local path. */
  private[graft] def louvainImpl(edges: DataFrame, labels: DataFrame,
      sweepsPerLevel: Int, levels: Int, weightCol: Option[String],
      driverMax: Int): DataFrame = {
    require(levels >= 1 && levels <= 10,
      s"levels must be in [1, 10], got $levels")
    // level 1 returns BOTH its labeling and the canonical weighted
    // edge list its sweeps scored (u, v, _w) — condensation reuses it
    // instead of re-aggregating the raw edges (unweighted collapses
    // parallels to mass 1, so condensed masses match what the sweeps
    // scored by construction)
    // the spec hook's threshold THREADS THROUGH to the sweep level
    // (ADVICE round 14: a custom non-zero driverMax was silently
    // replaced by DriverPeelMax): the DEFAULT supernode bound maps to
    // the family's standard peel bound, any custom value — 0 (forced
    // distributed; the replay equalities then pin the distributed
    // arithmetic against refineLocal's, not refineLocal against
    // itself) or an intermediate probe threshold — is used for BOTH
    // the coarse-level collect and refineImpl's edge-count gate
    val refineMax =
      if (driverMax == DriverCoarseMax) DriverPeelMax else driverMax.toLong
    val (mapping0, und, local1) = refineImpl(edges, None, labels,
      sweepsPerLevel, weightCol, refineMax)
    local1 match {
      case Some((canon, labMap0)) if levels >= 2 =>
        // ROUND 16: when level 1 ran driver-locally, the WHOLE
        // hierarchy stays in-process — the canonical edge list
        // (≤ refineMax rows) and the labeling are already on the
        // driver, so each coarse level is one hash-map condensation
        // plus [[refineLocal]] with ZERO Spark actions, where the
        // distributed levels paid ~4 driver actions of fixed latency
        // each (distinct checkpoint, capped collect, edge-scale
        // condensation collect, map-back checkpoint). The arithmetic
        // is the SAME refineLocal the old driver-local coarse branch
        // ran; the condensation is the same exact integer sum the
        // distributed aggregation computes (order-independent —
        // key-grouped sums, and refineLocal sorts its index). The old
        // branch also bounded the COLLECT of the condensed graph at
        // DriverCoarseMax supernodes; in-process there is no collect —
        // every coarse level is no larger than the level-1 graph that
        // already fit the driver. GraphSpec's replay equalities
        // (driverMax = 0 forces the distributed levels) pin the
        // branches against each other.
        unpersistCheckpoint(und)
        val sparkL = edges.sparkSession
        import sparkL.implicits._
        var labMap: Map[Long, Long] = labMap0
        for (_ <- 2 to levels) {
          val coarse = new scala.collection.mutable.HashMap[(Long, Long), Long]
          canon.foreach { case (u, v, cw) =>
            val lu = labMap(u); val lv = labMap(v)
            val k = if (lu <= lv) (lu, lv) else (lv, lu)
            coarse(k) = coarse.getOrElse(k, 0L) + cw
          }
          val selfW = Map.newBuilder[Long, Long]
          val ce = Seq.newBuilder[(Long, Long, Long)]
          coarse.foreach { case ((a, b), cw) =>
            if (a == b) selfW += (a -> cw) else ce += ((a, b, cw))
          }
          // singleton supernode seed: every community is its own label
          val seeds = labMap.valuesIterator.toSet.toSeq.map((n: Long) => (n, n))
          val refined = refineLocal(ce.result(), selfW.result(), seeds,
            sweepsPerLevel)
          labMap = labMap.map { case (n, l) => n -> refined(l) }
        }
        return labMap.toSeq.toDF("node", "label")
      case _ => ()
    }
    var mapping = mapping0
    if (levels == 1) { unpersistCheckpoint(und); return mapping }
    val spark = edges.sparkSession
    for (_ <- 2 to levels) {
      // condense by the current mapping in ONE canonical aggregation
      // over the checkpointed edge list: a = b rows are supernode
      // self-mass, a < b rows the coarse edges
      val cond = und
        .join(mapping.select(col("node").as("u"), col("label").as("_lu")),
          Seq("u"))
        .join(mapping.select(col("node").as("v"), col("label").as("_lv")),
          Seq("v"))
        .groupBy(least(col("_lu"), col("_lv")).as("a"),
          greatest(col("_lu"), col("_lv")).as("b"))
        .agg(sum(col("_w")).as("w"))
      // ONE distinct materialization per level serves both the path
      // decision (capped collect) and the distributed branch's
      // singleton seeds — re-running the distinct for coarseLabels
      // would pay a second full aggregation exactly on the
      // multi-million-supernode levels (review finding, round 14)
      val distinctLabs = checkpointed(
        mapping.select(col("label").as("node")).distinct())
      val labArr = distinctLabs.limit(driverMax + 1).collect()
        .map(_.getLong(0))
      val refined: DataFrame = if (labArr.length <= driverMax) {
        // driver-local coarse level: collect the condensed graph
        // (≤ threshold² canonical rows) and run the sweeps in-process.
        // Level 1's mass guard bounds every coarse level (condensation
        // preserves M), weights are sums of validated positives, and
        // singleton seeds cover every endpoint by construction — the
        // distributed path's requires hold here by proof, not checks.
        val rows = cond.collect()
        val (self, ce) = rows.partition(r => r.getLong(0) == r.getLong(1))
        val refinedMap = refineLocal(
          ce.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq,
          self.map(r => (r.getLong(0), r.getLong(2))).toMap,
          labArr.map(n => (n, n)).toSeq, sweepsPerLevel)
        import spark.implicits._
        broadcast(refinedMap.toSeq.toDF("node", "label"))
      } else {
        // coarse-scale, consumed twice (edges + self-mass) — checkpoint
        // so the edge-scale condensation join runs once
        val condC = checkpointed(cond)
        val coarseEdges = condC.where(col("a") =!= col("b"))
          .select(col("a").as("src"), col("b").as("dst"), col("w"))
        val selfMass = condC.where(col("a") === col("b"))
          .select(col("a").as("node"), col("w").as("_sw"))
        // singleton supernode seed: every community is its own label
        val coarseLabels = distinctLabs
          .select(col("node"), col("node").as("label"))
        val (r, coarseUnd, _) = refineImpl(coarseEdges, Some(selfMass),
          coarseLabels, sweepsPerLevel, Some("w"), refineMax)
        unpersistCheckpoint(coarseUnd)
        unpersistCheckpoint(condC)
        r
      }
      val prev = mapping
      mapping = checkpointed(mapping
        .join(refined.select(col("node").as("label"),
          col("label").as("_l2")), Seq("label"))
        .select(col("node"), col("_l2").as("label")))
      unpersistCheckpoint(prev)
      unpersistCheckpoint(refined) // the level's coarse labeling rotates out too
      unpersistCheckpoint(distinctLabs)
    }
    unpersistCheckpoint(und)
    mapping
  }

  /** Supernode-count bound for [[louvain]]'s driver-local coarse
    * levels: 1024 caps the collected condensed graph at ~525k
    * canonical rows (~15 MB) worst case; real hierarchies sit around
    * a few dozen supernodes by level 2. */
  private val DriverCoarseMax = 1024

  /** Driver-local replay of [[refineImpl]]'s sweep — EXACTLY the same
    * exact-integer arithmetic: per sweep, each node's best positive
    * ΔQ·q_den proposal to a neighbor community (ties to the smallest
    * target label), applied iff it is the top-ranked proposal (max
    * gain, ties to the smallest node) for BOTH communities it touches.
    * `canon` is the canonical weighted edge list (u < v, weights
    * summed), `selfW` supernode self-mass (2·_sw of degree, the A_vv
    * convention), `labels0` one (node, label) row per node — isolated
    * labeled nodes included; [[louvainImpl]]'s coarse levels seed
    * singletons, [[refineImpl]]'s level-1 branch passes the caller's
    * labeling. Caller contract: every canon endpoint appears in
    * `labels0` (the coverage require upstream). All reductions are
    * key-grouped sums and fully tie-broken argmins, so map iteration
    * order cannot leak into the result; accumulation is mutable-map
    * because the [[DriverPeelMax]] tier admits ~1e6-edge graphs. */
  private def refineLocal(canon: Seq[(Long, Long, Long)],
      selfW: Map[Long, Long], labels0: Seq[(Long, Long)],
      sweeps: Int): Map[Long, Long] = {
    // primitive CSR + dense-index sweeps (LocalGraph, round 15 — the
    // boxed nested-HashMap form priced seconds per sweep at the sf0.1
    // edge count). Node and label indices are sorted, so index order
    // is value order and every tie rule (smallest target community,
    // smallest node) compares identically; the exact-integer gain
    // arithmetic is untouched.
    val nNodes = labels0.length
    val nodeIds = new Array[Long](nNodes)
    val labIds0 = new Array[Long](nNodes)
    var i = 0
    labels0.foreach { case (nd, l) =>
      nodeIds(i) = nd; labIds0(i) = l; i += 1 }
    val ix = LocalGraph.indexOf(nodeIds)
    val lix = LocalGraph.indexOf(labIds0)
    val n = ix.size
    val nLab = lix.size
    // dv: degree mass (+ 2·self-mass); CSR over mirrored canon edges
    val dv = new Array[Long](n)
    selfW.foreach { case (nd, sw) => dv(ix.of(nd)) = 2L * sw }
    val m = canon.length
    val srcs = new Array[Int](2 * m)
    val dsts = new Array[Int](2 * m)
    val ew = new Array[Long](2 * m)
    i = 0
    canon.foreach { e =>
      val ui = ix.of(e._1); val vi = ix.of(e._2)
      srcs(i) = ui; dsts(i) = vi; ew(i) = e._3
      srcs(m + i) = vi; dsts(m + i) = ui; ew(m + i) = e._3
      dv(ui) += e._3; dv(vi) += e._3
      i += 1
    }
    val csr = LocalGraph.buildCsr(n, srcs, dsts, ew)
    var m2 = 0L
    i = 0; while (i < n) { m2 += dv(i); i += 1 }
    val lab = new Array[Int](n)
    labels0.foreach { case (nd, l) => lab(ix.of(nd)) = lix.of(l) }
    var maxDeg = 1
    i = 0
    while (i < n) {
      val d = csr.off(i + 1) - csr.off(i)
      if (d > maxDeg) maxDeg = d
      i += 1
    }
    val kv = new LocalGraph.StampedMap(maxDeg)
    val dc = new Array[Long](nLab)
    // per-sweep proposals (node, a, b, dq) and per-community winners
    val propN = new Array[Int](n)
    val propA = new Array[Int](n)
    val propB = new Array[Int](n)
    val propQ = new Array[Long](n)
    val winQ = new Array[Long](nLab)
    val winN = new Array[Int](nLab)
    for (_ <- 0 until sweeps) {
      java.util.Arrays.fill(dc, 0L)
      i = 0; while (i < n) { dc(lab(i)) += dv(i); i += 1 }
      // best positive proposal per node: max gain, ties to the
      // smallest target community (per-node k_vc grouped in the
      // stamped scratch map — one CSR slice pass per node)
      var nProp = 0
      var v = 0
      while (v < n) {
        var p = csr.off(v)
        val pEnd = csr.off(v + 1)
        if (p < pEnd) {
          kv.clear()
          while (p < pEnd) { kv.add(lab(csr.nbr(p)).toLong, csr.w(p)); p += 1 }
          val a = lab(v)
          val ka = kv.get(a.toLong, 0L)
          var bestB = 0
          var bestDq = 0L
          var any = false
          kv.foreachEntry { (bL, k) =>
            val b = bL.toInt
            if (b != a) {
              val dq = 2L * m2 * (k - ka) -
                2L * dv(v) * (dc(b) - dc(a) + dv(v))
              if (dq > 0 && (!any || dq > bestDq ||
                  (dq == bestDq && b < bestB))) {
                any = true; bestB = b; bestDq = dq
              }
            }
          }
          if (any) {
            propN(nProp) = v; propA(nProp) = a
            propB(nProp) = bestB; propQ(nProp) = bestDq
            nProp += 1
          }
        }
        v += 1
      }
      // two-sided winner rule: top proposal (max gain, ties to the
      // smallest node) for both touched communities
      java.util.Arrays.fill(winN, -1)
      def offer(c: Int, node: Int, dq: Long): Unit =
        if (winN(c) < 0 || dq > winQ(c) ||
            (dq == winQ(c) && node < winN(c))) {
          winQ(c) = dq; winN(c) = node
        }
      i = 0
      while (i < nProp) {
        offer(propA(i), propN(i), propQ(i))
        offer(propB(i), propN(i), propQ(i))
        i += 1
      }
      i = 0
      while (i < nProp) {
        if (winN(propA(i)) == propN(i) && winN(propB(i)) == propN(i))
          lab(propN(i)) = propB(i)
        i += 1
      }
    }
    val out = Map.newBuilder[Long, Long]
    i = 0
    while (i < n) { out += ix.ids(i) -> lix.ids(lab(i)); i += 1 }
    out.result()
  }

  /** The k-CORE of an undirected graph — the (unique) maximal subgraph
    * in which every node has degree >= `k` — by iterative peeling:
    * repeatedly drop nodes whose current degree is below `k` until
    * none remain. The result is order-independent (the k-core is a
    * fixpoint regardless of peel order), so the operator is exact and
    * engine-portable: peeling is IDEMPOTENT at the fixpoint, which
    * lets a SQL oracle unroll a fixed number of peel rounds and agree
    * bit-for-bit whenever convergence happened within them
    * (q_x_graph_kcore). Classic curation signal: the dense core of a
    * link/co-occurrence graph separates hub-grade sources from
    * stragglers (Seidman, "Network structure and minimum degree",
    * Social Networks 1983).
    *
    * Input edges canonicalize like [[triangleCounts]] (undirected,
    * self-loops and duplicate/reverse edges removed). Output
    * `(node, degree)` — the surviving nodes with their degree INSIDE
    * the core; empty when no k-core exists.
    *
    * Scale shape per round: one degree aggregation and two semi-style
    * equi-joins back onto the edge list, localCheckpoint rotation with
    * superseded-block release (the CC discipline). Rounds are bounded
    * by `maxRounds` (an error, not a silent partial result, if
    * exceeded); each round strictly shrinks the edge set, and the
    * edge-count handshake per round is a one-number driver read.
    */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 50): DataFrame =
    kCoreImpl(edges, k, maxRounds, DriverPeelMax)

  /** [[kCore]] with an explicit driver-local threshold — package-
    * private so the spec can pin BOTH branches on one fixture
    * (`driverMax = 0` forces every round through the distributed
    * peel; the default exercises the local finish). */
  private[graft] def kCoreImpl(edges: DataFrame, k: Int, maxRounds: Int,
      driverMax: Long): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxRounds >= 1 && maxRounds <= 500,
      s"maxRounds must be in [1, 500], got $maxRounds")
    var e = edges.select(
        least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .where(col("u") =!= col("v") &&
        col("u").isNotNull && col("v").isNotNull)
      .distinct()
      .transform(checkpointed)
    var rounds = 0
    // only long-id graphs may hand off to the driver-local finish —
    // others run the distributed peel to its own fixpoint
    val localEligible = allLong(e, "u", "v")
    if (localEligible) {
      // sub-threshold graphs go straight to the driver-local peel off
      // ONE capped collect — no count action first (round 16, the
      // capped-decider idiom); above the bound the capped rows are
      // discarded and the distributed rounds run as before
      val arr0 = e
        .limit(math.min(driverMax, Int.MaxValue - 2L).toInt + 1).collect()
      if (arr0.length <= driverMax) {
        val spark = edges.sparkSession
        import spark.implicits._
        unpersistCheckpoint(e)
        val m = arr0.length
        val us = new Array[Long](m); val vs = new Array[Long](m)
        var i = 0
        while (i < m) {
          us(i) = arr0(i).getLong(0); vs(i) = arr0(i).getLong(1); i += 1 }
        val ix = LocalGraph.indexOf(us ++ vs)
        val ua = new Array[Int](m); val va = new Array[Int](m)
        val ew = new Array[Long](m)
        i = 0
        while (i < m) {
          ua(i) = ix.of(us(i)); va(i) = ix.of(vs(i)); ew(i) = 1L; i += 1 }
        val (_, mass, _, localDone) =
          peelLocal(ix.size, ua, va, ew, k.toLong, 0, maxRounds)
        require(localDone, s"k-core did not converge in $maxRounds rounds")
        return (0 until ix.size).collect {
          case v if mass(v) > 0 => (ix.ids(v), mass(v))
        }.toDF("node", "degree")
      }
    }
    var prevEdges = e.count()
    var converged = prevEdges == 0L
    while (!converged && rounds < maxRounds &&
        (prevEdges > driverMax || !localEligible)) {
      val deg = e.select(col("u").as("node"))
        .union(e.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("_deg"))
      val keep = deg.where(col("_deg") >= k).select(col("node"))
      val next = e
        .join(keep.select(col("node").as("u")), "u")
        .join(keep.select(col("node").as("v")), "v")
        .select(col("u"), col("v"))
        .transform(checkpointed)
      val nextEdges = next.count()
      unpersistCheckpoint(e)
      e = next
      // dropping any node removes at least one edge (every node in `e`
      // has degree >= 1), so an unchanged count IS the fixpoint
      converged = nextEdges == prevEdges || nextEdges == 0L
      prevEdges = nextEdges
      rounds += 1
    }
    if (!converged && prevEdges <= driverMax && localEligible) {
      // DRIVER-LOCAL FINISH (the louvain small-coarse discipline): the
      // surviving edge set fits the bounded collect, and a distributed
      // round on it is pure fixed per-job overhead — ~4 driver actions
      // of a few hundred ms each per round, with the k-core tail
      // typically a long cascade of tiny rounds. Identical arithmetic,
      // the SAME round budget (the maxRounds error contract carries),
      // and the k-core is a unique fixpoint, so the branches agree by
      // construction — spec-pinned on random graphs (driverMax = 0 vs
      // default) and the probe tiers keep the distributed branch
      // exercised above the threshold.
      val spark = edges.sparkSession
      import spark.implicits._
      val rows = e.select(col("u").cast("long"), col("v").cast("long"))
        .collect()
      unpersistCheckpoint(e)
      val m = rows.length
      val us = new Array[Long](m); val vs = new Array[Long](m)
      var i = 0
      while (i < m) {
        us(i) = rows(i).getLong(0); vs(i) = rows(i).getLong(1); i += 1 }
      val ix = LocalGraph.indexOf(us ++ vs)
      val ua = new Array[Int](m); val va = new Array[Int](m)
      val ew = new Array[Long](m)
      i = 0
      while (i < m) {
        ua(i) = ix.of(us(i)); va(i) = ix.of(vs(i)); ew(i) = 1L; i += 1 }
      val (_, mass, newRounds, localDone) =
        peelLocal(ix.size, ua, va, ew, k.toLong, rounds, maxRounds)
      rounds = newRounds
      require(localDone, s"k-core did not converge in $maxRounds rounds")
      return (0 until ix.size).collect {
        case v if mass(v) > 0 => (ix.ids(v), mass(v))
      }.toDF("node", "degree")
    }
    require(converged, s"k-core did not converge in $maxRounds rounds")
    // the final checkpoint stays alive — the returned frame reads it
    // (unpersisting here would truncate the lineage under the caller)
    e.select(col("u").as("node"))
      .union(e.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
  }

  /** Canonical-row bound for the iterative peel/relax family's
    * driver-local finish ([[kCore]]/[[sCore]]/[[coreness]]/
    * [[shortestPaths]]): 1e6 canonical rows are ~16-24 MB as
    * SERIALIZED task results, but the in-process working set is
    * boxed — `Array[(Long, Long, Long)]` is unspecialized `Tuple3`
    * (three boxed Longs, ~90 B/row) plus the replay's boxed HashMaps —
    * so the realistic peak driver cost AT the threshold is
    * ~100-300 MB transiently, i.e. a few percent of the default 8 GiB
    * driver heap (the budget this constant is sized against; shrink it
    * for slimmer drivers). Sized so the documented probe tiers
    * (1M+ nodes, >1e6 edges) keep every distributed branch exercised
    * while a sub-million-edge survivor set — a single-task problem —
    * stops paying fixed per-round driver latency. Same budget class as
    * [[DriverCoarseMax]]'s ~525k collected rows. */
  private[graft] val DriverPeelMax = 1000000L

  /** The driver-local branches collect node ids as longs and rebuild
    * the result with long columns — so they only take graphs whose
    * node columns already ARE longs (the family's id contract and
    * every gate/probe fixture). Any other id type (ints, strings,
    * decimals) stays on the type-agnostic distributed path, keeping
    * the output schema branch-independent. */
  private def allLong(df: DataFrame, names: String*): Boolean =
    names.forall(n => df.schema(n).dataType ==
      org.apache.spark.sql.types.LongType)

  /** Driver-local peel to the fixpoint on int-indexed primitive arrays
    * (LocalGraph, round 15 — the boxed per-round HashMap degree maps
    * priced seconds per gate): per round, aggregate each node's
    * incident mass (`ew` all-ones = degree, weights = strength),
    * compact the edge arrays in place to survivors with mass >=
    * `threshold` at BOTH endpoints, stop when nothing peeled (or
    * everything did) — the identical recurrence as the distributed
    * rounds and the previous boxed loop. Returns (surviving edge
    * count, per-node mass over survivors, rounds consumed, converged).
    */
  private def peelLocal(n: Int, ua: Array[Int], va: Array[Int],
      ew: Array[Long], threshold: Long, rounds0: Int,
      maxRounds: Int): (Int, Array[Long], Int, Boolean) = {
    var mCur = ua.length
    var rounds = rounds0
    val mass = new Array[Long](n)
    var localDone = false
    while (!localDone && rounds < maxRounds) {
      java.util.Arrays.fill(mass, 0L)
      var i = 0
      while (i < mCur) {
        mass(ua(i)) += ew(i); mass(va(i)) += ew(i); i += 1
      }
      var k = 0
      i = 0
      while (i < mCur) {
        if (mass(ua(i)) >= threshold && mass(va(i)) >= threshold) {
          ua(k) = ua(i); va(k) = va(i); ew(k) = ew(i); k += 1
        }
        i += 1
      }
      localDone = k == mCur || k == 0
      mCur = k
      rounds += 1
    }
    java.util.Arrays.fill(mass, 0L)
    var i = 0
    while (i < mCur) { mass(ua(i)) += ew(i); mass(va(i)) += ew(i); i += 1 }
    (mCur, mass, rounds, localDone)
  }

  /** WEIGHTED k-core — the s-CORE (Eidsaa/Almaas, "s-core network
    * decomposition", Phys. Rev. E 2013): the maximal subgraph in which
    * every node's STRENGTH (sum of incident edge weights) is >= `s`,
    * by the same iterative peel as [[kCore]]. On a co-occurrence
    * projection ([[bipartiteProjection]]) this is the natural core:
    * ties are weighted, so "supported by >= s units of co-occurrence
    * mass" beats "has >= k neighbors" as the density signal.
    *
    * Weights follow the [[labelPropagation]] canonicalization —
    * positive integers, parallel/reverse duplicates SUM, total mass
    * bounded by one decimal-crossing check (fractional/non-positive/
    * overflow are errors, never silent). The s-core is a unique
    * fixpoint (peel order irrelevant), so the output is exact and a
    * SQL oracle unrolls the peel rounds. Output `(node, strength)` —
    * strength INSIDE the core; empty when no s-core exists.
    *
    * Scale shape per round = [[kCore]]: one strength aggregation, two
    * semi-joins, checkpoint rotation, a one-number edge-count
    * handshake; each round strictly shrinks the edge set. */
  def sCore(edges: DataFrame, s: Long, weightCol: String,
      maxRounds: Int = 50): DataFrame =
    sCoreImpl(edges, s, weightCol, maxRounds, DriverPeelMax)

  /** [[sCore]] with an explicit driver-local threshold — the
    * [[kCoreImpl]] spec hook. */
  private[graft] def sCoreImpl(edges: DataFrame, s: Long, weightCol: String,
      maxRounds: Int, driverMax: Long): DataFrame = {
    require(s >= 1, s"s must be >= 1, got $s")
    require(maxRounds >= 1 && maxRounds <= 500,
      s"maxRounds must be in [1, 500], got $maxRounds")
    // the mass total rides the validation aggregation (one raw scan, r15)
    val tot = validateWeightsTotal(edges, weightCol, None)
    require(tot == null ||
      tot.compareTo(java.math.BigDecimal.valueOf(Long.MaxValue)) <= 0,
      "total edge weight exceeds Long.MaxValue — rescale weights")
    val undRaw = edges.select(
        least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"),
        col(weightCol).cast("long").as("_w"))
      .where(col("u") =!= col("v") &&
        col("u").isNotNull && col("v").isNotNull)
    var e = undRaw.groupBy(col("u"), col("v"))
      .agg(sum(col("_w")).as("_w"))
      .transform(checkpointed)
    var rounds = 0
    val localEligible = allLong(e, "u", "v")
    if (localEligible) {
      // capped-decider fast path (round 16, the [[kCoreImpl]] shape):
      // one capped collect replaces the count action and the second
      // full collect for sub-threshold graphs
      val arr0 = e
        .limit(math.min(driverMax, Int.MaxValue - 2L).toInt + 1).collect()
      if (arr0.length <= driverMax) {
        val spark = edges.sparkSession
        import spark.implicits._
        unpersistCheckpoint(e)
        val m = arr0.length
        val us = new Array[Long](m); val vs = new Array[Long](m)
        val ew = new Array[Long](m)
        var i = 0
        while (i < m) {
          us(i) = arr0(i).getLong(0); vs(i) = arr0(i).getLong(1)
          ew(i) = arr0(i).getLong(2); i += 1 }
        val ix = LocalGraph.indexOf(us ++ vs)
        val ua = new Array[Int](m); val va = new Array[Int](m)
        i = 0
        while (i < m) { ua(i) = ix.of(us(i)); va(i) = ix.of(vs(i)); i += 1 }
        val (_, mass, _, localDone) =
          peelLocal(ix.size, ua, va, ew, s, 0, maxRounds)
        require(localDone, s"s-core did not converge in $maxRounds rounds")
        return (0 until ix.size).collect {
          case v if mass(v) > 0 => (ix.ids(v), mass(v))
        }.toDF("node", "strength")
      }
    }
    var prevEdges = e.count()
    var converged = prevEdges == 0L
    while (!converged && rounds < maxRounds &&
        (prevEdges > driverMax || !localEligible)) {
      val strength = e.select(col("u").as("node"), col("_w"))
        .union(e.select(col("v").as("node"), col("_w")))
        .groupBy("node").agg(sum(col("_w")).as("_s"))
      val keep = strength.where(col("_s") >= s).select(col("node"))
      val next = e
        .join(keep.select(col("node").as("u")), "u")
        .join(keep.select(col("node").as("v")), "v")
        .select(col("u"), col("v"), col("_w"))
        .transform(checkpointed)
      val nextEdges = next.count()
      unpersistCheckpoint(e)
      e = next
      converged = nextEdges == prevEdges || nextEdges == 0L
      prevEdges = nextEdges
      rounds += 1
    }
    if (!converged && prevEdges <= driverMax && localEligible) {
      // driver-local finish — the [[kCoreImpl]] discipline with
      // strengths in place of degrees; the s-core fixpoint is unique,
      // the round budget carries, weights were validated up front
      val spark = edges.sparkSession
      import spark.implicits._
      val rows = e.select(col("u").cast("long"), col("v").cast("long"),
        col("_w")).collect()
      unpersistCheckpoint(e)
      val m = rows.length
      val us = new Array[Long](m); val vs = new Array[Long](m)
      val ew = new Array[Long](m)
      var i = 0
      while (i < m) {
        us(i) = rows(i).getLong(0); vs(i) = rows(i).getLong(1)
        ew(i) = rows(i).getLong(2); i += 1
      }
      val ix = LocalGraph.indexOf(us ++ vs)
      val ua = new Array[Int](m); val va = new Array[Int](m)
      i = 0
      while (i < m) { ua(i) = ix.of(us(i)); va(i) = ix.of(vs(i)); i += 1 }
      val (_, mass, newRounds, localDone) =
        peelLocal(ix.size, ua, va, ew, s, rounds, maxRounds)
      rounds = newRounds
      require(localDone, s"s-core did not converge in $maxRounds rounds")
      return (0 until ix.size).collect {
        case v if mass(v) > 0 => (ix.ids(v), mass(v))
      }.toDF("node", "strength")
    }
    require(converged, s"s-core did not converge in $maxRounds rounds")
    e.select(col("u").as("node"), col("_w"))
      .union(e.select(col("v").as("node"), col("_w")))
      .groupBy("node").agg(sum(col("_w")).as("strength"))
  }

  /** LOCAL CLUSTERING COEFFICIENTS as EXACT RATIONALS — per node, the
    * fraction of its neighbor pairs that are themselves linked
    * (Watts/Strogatz, "Collective dynamics of small-world networks",
    * Nature 1998): `cc = 2·triangles / (deg·(deg−1))`, reported as
    * `(node, triangles, degree, cc_num, cc_den)` with
    * cc_num = 2·triangles and cc_den = deg·(deg−1) — the exact-
    * rational discipline, so the cross-engine gate hash-matches and
    * the caller picks the display precision. Degree-0/1 nodes report
    * (0, 0): no pair to close, the conventional zero.
    *
    * Rides [[triangleCounts]] (the degree-oriented wedge shape — no
    * hot reducer) plus one degree aggregation and one equi-join.
    * Overflow is an ERROR up front: deg² needs deg ≤ √Long.MaxValue,
    * checked with a one-number max-degree handshake (a graph past
    * ~3e9-degree hubs has no computable wedge space anyway). */
  def clusteringCoefficients(edges: DataFrame): DataFrame = {
    val und = edges.select(
        least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .where(col("u") =!= col("v") &&
        col("u").isNotNull && col("v").isNotNull)
      .distinct()
    val deg = und.select(col("u").as("node"))
      .union(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    val degChk = deg.agg(coalesce(max(col("degree")), lit(0L))).head()
    require(degChk.getLong(0) <= 3037000499L, // floor(sqrt(Long.MaxValue))
      s"max degree ${degChk.getLong(0)} too large for exact deg² arithmetic")
    triangleCounts(edges)
      .join(deg, Seq("node"))
      .select(col("node"), col("triangles"), col("degree"),
        (col("triangles") * 2L).as("cc_num"),
        (col("degree") * (col("degree") - 1L)).as("cc_den"))
  }

  /** FULL CORENESS DECOMPOSITION — every node labeled with its core
    * number (the largest k such that the node survives in the k-core),
    * by parallel peeling with threshold jumps (the distributed form of
    * Batagelj–Zaveršnik, "An O(m) algorithm for cores decomposition of
    * networks", 2003; Montresor et al. distribute the same peel): at
    * threshold t, every node whose current degree is below t peels,
    * cascades run t at a time, and nodes removed while peeling at
    * threshold t have coreness exactly t - 1 (they sat in the
    * (t-1)-core fixpoint but not the t-core). The peel order within a
    * threshold is irrelevant (each k-core is a unique fixpoint), so
    * the labels are exact and engine-portable — a closed-form oracle
    * gates them (q_x_graph_coreness), and a [[kCore]] consistency law
    * (coreness(v) >= k ⟺ v ∈ k-core) is spec-checked on random graphs.
    *
    * THRESHOLD JUMPS keep the driver loop short: when nothing peels at
    * t (the t-core fixpoint), the next threshold is min-degree + 1
    * directly — skipping the empty thresholds in between, so the
    * number of driver rounds tracks the number of distinct peel EVENTS
    * (≈ the number of distinct core levels plus cascade depth), not
    * the maximum degree. Curation use: coreness grades every node at
    * once where [[kCore]] answers one k — the standard dense-subgraph
    * quality tier for link/co-occurrence corpora.
    *
    * Input canonicalizes like [[kCore]] (undirected, self-loops and
    * duplicate/reverse edges dropped). Output `(node, coreness)`, one
    * row per node of the edge set, coreness >= 1. Scale shape per
    * round: one degree aggregation, a one-row min-degree read, two
    * semi-style equi-joins shrinking the edge list, localCheckpoint
    * rotation with superseded-block release (the [[kCore]]
    * discipline); every round removes at least one node, and
    * `maxRounds` bounds the loop with an error, not a silent partial
    * result.
    */
  def coreness(edges: DataFrame, maxRounds: Int = 200): DataFrame =
    corenessImpl(edges, maxRounds, DriverPeelMax)

  /** [[coreness]] with an explicit driver-local threshold — the
    * [[kCoreImpl]] spec hook. The trigger is the INITIAL canonical
    * edge count: the peel only shrinks the edge set, so one up-front
    * bound admits the whole decomposition (coreness walks MANY more
    * rounds than a single k-core — every distinct core level plus
    * cascade depth — so fixed per-round driver latency compounds
    * hardest here). */
  private[graft] def corenessImpl(edges: DataFrame, maxRounds: Int,
      driverMax: Long): DataFrame = {
    require(maxRounds >= 1 && maxRounds <= 2000,
      s"maxRounds must be in [1, 2000], got $maxRounds")
    var e = edges.select(
        least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .where(col("u") =!= col("v") &&
        col("u").isNotNull && col("v").isNotNull)
      .distinct()
      .transform(checkpointed)
    if (allLong(e, "u", "v")) {
      // driver-local decomposition — the identical threshold-jump
      // arithmetic on the collected canonical edge list (alive set ≤
      // 2·edges by construction); the same round budget and error.
      // ROUND 16: the branch decides off ONE capped collect, before
      // the distributed path's alive-set checkpoint + two counts ever
      // run (they were pure prelude cost for a sub-threshold graph).
      // primitive-array decomposition (LocalGraph, round 15): the same
      // threshold-jump recurrence on int indices — per round one
      // degree pass, one min over alive, one in-place edge compaction
      val rows = e
        .limit(math.min(driverMax, Int.MaxValue - 2L).toInt + 1).collect()
      if (rows.length <= driverMax) {
      val spark = edges.sparkSession
      import spark.implicits._
      unpersistCheckpoint(e)
      val m = rows.length
      val us = new Array[Long](m); val vs = new Array[Long](m)
      var i = 0
      while (i < m) {
        us(i) = rows(i).getLong(0); vs(i) = rows(i).getLong(1); i += 1 }
      val ix = LocalGraph.indexOf(us ++ vs)
      val n = ix.size
      val ua = new Array[Int](m); val va = new Array[Int](m)
      i = 0
      while (i < m) { ua(i) = ix.of(us(i)); va(i) = ix.of(vs(i)); i += 1 }
      val aliveFlag = new Array[Boolean](n)
      java.util.Arrays.fill(aliveFlag, true)
      var numAlive = n
      var mCur = m
      val deg = new Array[Long](n)
      val outN = new Array[Long](n)
      val outC = new Array[Long](n)
      var nOut = 0
      var k = 1L
      var rounds = 0
      while (numAlive > 0 && rounds < maxRounds) {
        java.util.Arrays.fill(deg, 0L)
        i = 0
        while (i < mCur) { deg(ua(i)) += 1L; deg(va(i)) += 1L; i += 1 }
        var minDeg = Long.MaxValue
        var v = 0
        while (v < n) {
          if (aliveFlag(v) && deg(v) < minDeg) minDeg = deg(v)
          v += 1
        }
        val t = math.max(k, minDeg + 1)
        v = 0
        while (v < n) {
          if (aliveFlag(v) && deg(v) < t) {
            outN(nOut) = ix.ids(v); outC(nOut) = t - 1; nOut += 1
            aliveFlag(v) = false; numAlive -= 1
          }
          v += 1
        }
        var kk = 0
        i = 0
        while (i < mCur) {
          if (deg(ua(i)) >= t && deg(va(i)) >= t) {
            ua(kk) = ua(i); va(kk) = va(i); kk += 1
          }
          i += 1
        }
        mCur = kk
        k = t
        rounds += 1
      }
      require(numAlive == 0,
        s"coreness did not finish peeling in $maxRounds rounds")
      return (0 until nOut).map(j => (outN(j), outC(j)))
        .toDF("node", "coreness")
      }
      // else: above the bound — the capped rows are discarded and the
      // distributed threshold-jump rounds run as before
    }
    var alive = e.select(col("u").as("node"))
      .union(e.select(col("v").as("node"))).distinct()
      .transform(checkpointed)
    var nAlive = alive.count()
    // labels accumulate as materialized per-round slices; the final
    // union is a plain read of bounded-many checkpoints (maxRounds),
    // never an iterated lineage
    val slices = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var k = 1L
    var rounds = 0
    while (nAlive > 0 && rounds < maxRounds) {
      val deg = e.select(col("u").as("node"))
        .union(e.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("_deg"))
      // alive nodes absent from the edge list mid-cascade have degree 0
      val degAll = alive.join(deg, Seq("node"), "left")
        .select(col("node"), coalesce(col("_deg"), lit(0L)).as("_deg"))
        .transform(checkpointed)
      val minDeg = degAll.agg(min(col("_deg"))).head.getLong(0)
      // the jump: below the current threshold mid-cascade keep t = k;
      // at a fixpoint (minDeg >= k) go straight to the threshold that
      // peels the min-degree nodes
      val t = math.max(k, minDeg + 1)
      val removed = degAll.where(col("_deg") < t)
        .select(col("node"), lit(t - 1).as("coreness"))
        .transform(checkpointed)
      val kept = degAll.where(col("_deg") >= t).select(col("node"))
      val nextE = e
        .join(kept.select(col("node").as("u")), "u")
        .join(kept.select(col("node").as("v")), "v")
        .select(col("u"), col("v"))
        .transform(checkpointed)
      val nextAlive = kept.transform(checkpointed)
      slices += removed
      val (prevE, prevAlive) = (e, alive)
      e = nextE
      alive = nextAlive
      nAlive = alive.count()
      unpersistCheckpoint(prevE)
      unpersistCheckpoint(prevAlive)
      unpersistCheckpoint(degAll)
      k = t
      rounds += 1
    }
    require(nAlive == 0,
      s"coreness did not finish peeling in $maxRounds rounds")
    unpersistCheckpoint(e)
    unpersistCheckpoint(alive)
    if (slices.isEmpty) e.select(col("u").as("node"), lit(0L).as("coreness"))
    else slices.reduce(_ union _)
  }

  /** Single/multi-source SHORTEST PATHS over positive integer edge
    * weights — exact Bellman-Ford relaxation driven by an improvement
    * frontier (only nodes whose distance improved last round relax
    * their out-edges this round), so quiescent regions of the graph
    * cost nothing after they settle. Distances are plain longs: with
    * positive integer weights the recurrence
    *
    *   dist₀(v)   = 0 for v ∈ sources
    *   distᵢ₊₁(v) = min(distᵢ(v), min_{(u,v,w) ∈ E} distᵢ(u) + w)
    *
    * is a deterministic integer fixpoint any engine replays
    * bit-for-bit (Bellman 1958; the frontier form is the classic
    * queue-driven refinement). Curation use: hop/weighted distance
    * from a trusted seed set grades documents by link proximity.
    *
    * Output `(node, dist)` — REACHABLE nodes only (sources at 0);
    * unreachable nodes are absent, not null. `weightCol` must be
    * positive integers (null/<=0 is an error, not a silent drop);
    * omitted = hop-count BFS. `directed = false` relaxes each edge
    * both ways. Convergence must land within `maxRounds` (an error,
    * not a silent partial result, if exceeded — with positive weights
    * the fixpoint arrives within the longest shortest-path hop
    * count). Overflow is an ERROR by construction: the max edge
    * weight is bounded so `maxRounds · max(w)` stays inside Long.
    *
    * `withPredecessors = true` adds a `pred` column — path provenance
    * for audit/debug ("WHY is this document 3 hops from the seeds?"):
    * pred(v) = the smallest u over all TIGHT in-edges
    * (dist(u) + w(u,v) = dist(v)), a pure function of the final
    * distances (smallest-predecessor tie rule, deterministic in any
    * engine), computed as ONE post-pass equi-join of the edge list
    * against the converged distances — never threaded through the
    * iteration. Sources (dist = 0) carry a NULL pred: with positive
    * weights no in-edge can be tight at 0. Following pred pointers
    * from any node walks one exact shortest path back to a source.
    *
    * Scale shape per round: the edge list is hash-partitioned on src
    * ONCE up front (a checkpointed exchange), so each round's
    * frontier-relax join reshuffles only the frontier — settled
    * regions of the graph never move again; the improved-distance
    * merge is a full-outer equi-join of two frames both already
    * hash-partitioned on node (the aggregation/checkpoint partitioning
    * carries through), so it plans exchange-free. One min-aggregation
    * per round onto dst is the only full-width shuffle;
    * localCheckpoint rotation with superseded-block release and a
    * one-number frontier-count handshake per round (the
    * [[kCore]]/[[Dedup.connectedComponents]] discipline).
    *
    * AQE NOTE: the loop plans with `spark.sql.adaptive.enabled=false`
    * — on an ISOLATED session (`newSession()` over the same context;
    * shuffle-partition count copied from the caller), never by
    * flipping the caller's shared conf. Under AQE a localCheckpoint's
    * LogicalRDD reports UnknownPartitioning — every reuse above would
    * silently degrade to a full re-exchange of the edge AND distance
    * frames each round (plan-asserted in GraphSpec). The loop's
    * shapes are fixed-size equi-joins and aggregations that gain
    * nothing from runtime re-planning, so partitioning reuse wins;
    * queries planned concurrently on the caller's session are
    * untouched (GraphSpec asserts the caller conf survives a run),
    * and two overlapping shortestPaths calls cannot race a
    * save/restore — each owns its session. The returned frame is
    * re-bound to the CALLER's session, so downstream planning uses
    * the caller's own conf again.
    */
  def shortestPaths(edges: DataFrame, sources: DataFrame,
      weightCol: Option[String] = None, directed: Boolean = true,
      maxRounds: Int = 50, withPredecessors: Boolean = false): DataFrame =
    ssspImpl(edges, sources, weightCol, directed, maxRounds,
      withPredecessors, DriverPeelMax)

  /** [[shortestPaths]] with an explicit driver-local threshold — the
    * [[kCoreImpl]] spec hook. The trigger counts CANONICAL (pre-
    * direction-expansion) rows against the bound, measured on the
    * already-checkpointed edge list so the distributed path pays no
    * extra scan. */
  private[graft] def ssspImpl(edges: DataFrame, sources: DataFrame,
      weightCol: Option[String], directed: Boolean,
      maxRounds: Int, withPredecessors: Boolean,
      driverMax: Long): DataFrame = {
    require(maxRounds >= 1 && maxRounds <= 500,
      s"maxRounds must be in [1, 500], got $maxRounds")
    weightCol.foreach(c => validateWeights(edges, c, Some(maxRounds)))
    val w = weightCol.map(c => col(c).cast("long")).getOrElse(lit(1L))
    val fwd = edges.select(col("src"), col("dst"), w.as("_w"))
      .where(col("src").isNotNull && col("dst").isNotNull)
    val srcCol = sources.columns.head
    if (allLong(fwd, "src", "dst") && allLong(sources, srcCol)) {
      // DRIVER-LOCAL RELAXATION — the [[kCoreImpl]] discipline: the
      // same frontier Bellman-Ford recurrence (a unique integer
      // fixpoint), the same round budget and convergence error, the
      // same smallest-tight-in-edge pred rule. ROUND 16: the branch
      // decides BEFORE the repartitioned checkpoint, with the capped
      // `limit(driverMax + 1)` collect the LPA/pageRank paths got in
      // round 15 — previously the local path paid the full-edge
      // repartition exchange + checkpoint + two count scans only to
      // discard them (the documented trade), and a corpus-scale call
      // paid nothing extra either way (a capped limit short-circuits;
      // it never scans the full edge set). The direction expansion is
      // mirrored IN-PROCESS, so undirected graphs also collect half
      // the rows the old branch did. Sources gate on their DISTINCT
      // count now (the relaxation only ever saw distinct seeds), also
      // capped. Spec-pinned against the distributed branch
      // (driverMax = 0) on random graphs.
      val spark = edges.sparkSession
      import spark.implicits._
      val cap = math.min(driverMax, Int.MaxValue - 2L).toInt + 1
      val fwdRows = fwd.limit(cap).collect()
      if (fwdRows.length <= driverMax) {
        val srcArr = sources.select(col(srcCol).as("node"))
          .where(col("node").isNotNull).distinct()
          .limit(cap).collect().map(_.getLong(0))
        if (srcArr.length <= driverMax) {
      require(srcArr.nonEmpty, "shortestPaths over an empty source set")
      val m0 = fwdRows.length
      val m = if (directed) m0 else 2 * m0
      val us = new Array[Long](m); val vsL = new Array[Long](m)
      val wArr = new Array[Long](m)
      var i = 0
      while (i < m0) {
        us(i) = fwdRows(i).getLong(0); vsL(i) = fwdRows(i).getLong(1)
        wArr(i) = fwdRows(i).getLong(2)
        if (!directed) {
          us(m0 + i) = vsL(i); vsL(m0 + i) = us(i); wArr(m0 + i) = wArr(i)
        }
        i += 1
      }
      // index over endpoints AND sources (a source outside the edge
      // set still reports dist 0, exactly as the distributed merge)
      val ix = LocalGraph.indexOf(us ++ vsL ++ srcArr)
      val n = ix.size
      val esi = new Array[Int](m); val edi = new Array[Int](m)
      i = 0
      while (i < m) { esi(i) = ix.of(us(i)); edi(i) = ix.of(vsL(i)); i += 1 }
      val csr = LocalGraph.buildCsr(n, esi, edi, wArr)
      val NoDist = Long.MaxValue
      val dist = new Array[Long](n)
      java.util.Arrays.fill(dist, NoDist)
      var frontier = new Array[Int](n)
      var fSize = 0
      srcArr.foreach { s =>
        val si = ix.of(s)
        if (dist(si) != 0L) { dist(si) = 0L; frontier(fSize) = si; fSize += 1 }
      }
      // candidate improvements, generation-stamped so no O(n) clear
      val cand = new Array[Long](n)
      val candGen = new Array[Int](n)
      val touched = new Array[Int](n)
      var gen = 0
      var nextFrontier = new Array[Int](n)
      var rounds = 0
      var converged = false
      while (!converged && rounds < maxRounds) {
        gen += 1
        var nTouched = 0
        var fi = 0
        while (fi < fSize) {
          val u = frontier(fi)
          val du = dist(u)
          var p = csr.off(u)
          val pEnd = csr.off(u + 1)
          while (p < pEnd) {
            val v = csr.nbr(p)
            val nd = du + csr.w(p)
            if (candGen(v) != gen) {
              candGen(v) = gen; cand(v) = nd
              touched(nTouched) = v; nTouched += 1
            } else if (nd < cand(v)) cand(v) = nd
            p += 1
          }
          fi += 1
        }
        var nImproved = 0
        var t = 0
        while (t < nTouched) {
          val v = touched(t)
          if (cand(v) < dist(v)) {
            dist(v) = cand(v)
            nextFrontier(nImproved) = v; nImproved += 1
          }
          t += 1
        }
        if (nImproved == 0) converged = true
        else {
          val tmp = frontier; frontier = nextFrontier; nextFrontier = tmp
          fSize = nImproved
          rounds += 1
        }
      }
      require(converged,
        s"shortestPaths did not converge in $maxRounds rounds")
      return if (!withPredecessors)
        (0 until n).collect { case v if dist(v) != NoDist =>
          (ix.ids(v), dist(v)) }.toDF("node", "dist")
      else {
        // smallest tight in-edge over the converged distances
        val pred = new Array[Long](n)
        val hasPred = new Array[Boolean](n)
        i = 0
        while (i < m) {
          val u = esi(i); val v = edi(i)
          if (dist(u) != NoDist && dist(v) == dist(u) + wArr(i) &&
              (!hasPred(v) || ix.ids(u) < pred(v))) {
            pred(v) = ix.ids(u); hasPred(v) = true
          }
          i += 1
        }
        (0 until n).collect { case v if dist(v) != NoDist =>
          (ix.ids(v), dist(v), if (hasPred(v)) Some(pred(v)) else None)
        }.toDF("node", "dist", "pred")
      }
        }
        // else: the distinct seed set exceeds the driver bound — fall
        // through to the distributed loop (the collected edge rows are
        // discarded; a seed set this large dwarfs them anyway)
      }
    }
    val caller = edges.sparkSession
    val isolated = caller.newSession()
    isolated.conf.set("spark.sql.adaptive.enabled", "false")
    // newSession starts from the CONTEXT conf — carry over the one
    // runtime setting that shapes every loop exchange
    isolated.conf.set("spark.sql.shuffle.partitions",
      caller.conf.get("spark.sql.shuffle.partitions"))
    def onIsolated(df: DataFrame): DataFrame =
      org.apache.spark.sql.graft.CheckpointStats
        .withMeasuredStats(df.localCheckpoint(true), isolated)
    val eRaw = if (directed) fwd else fwd.union(
      fwd.select(col("dst").as("src"), col("src").as("dst"), col("_w")))
    // partition the (static) edge list on the join key ONCE: every
    // round's frontier-relax join then reuses this layout and shuffles
    // only the frontier — without it each round re-exchanges the FULL
    // edge list, the dominant cost once the frontier shrinks. The
    // repartition must PLAN under the isolated (AQE-off) session too:
    // an AdaptiveSparkPlan checkpoint reports UnknownPartitioning and
    // the reuse never arms.
    val e = org.apache.spark.sql.graft.CheckpointStats
      .rebind(eRaw.repartition(col("src")), isolated)
      .transform(onIsolated)
    var dist = org.apache.spark.sql.graft.CheckpointStats
      .rebind(
        sources.select(col(srcCol).as("node"))
          .where(col("node").isNotNull).distinct()
          .withColumn("dist", lit(0L)),
        isolated)
      .transform(onIsolated)
    require(dist.count() > 0, "shortestPaths over an empty source set")
    var frontier = dist
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      val cand = frontier
        .join(e, frontier("node") === e("src"))
        .select(col("dst").as("node"), (col("dist") + col("_w")).as("_nd"))
        .groupBy("node").agg(min(col("_nd")).as("_nd"))
      val improved = cand.join(dist, Seq("node"), "left")
        .where(col("dist").isNull || col("_nd") < col("dist"))
        .select(col("node"), col("_nd").as("dist"))
        .transform(checkpointed)
      val nImproved = improved.count()
      if (nImproved == 0L) {
        unpersistCheckpoint(improved)
        converged = true
      } else {
        // improved strictly beats the standing entry (or is new), so
        // a full-outer merge taking the improved value where present
        // equals the min-merge — and both sides arrive hash-partitioned
        // on node (checkpoint/aggregation partitioning carries
        // through), so unlike a union+groupBy this plans WITHOUT
        // re-exchanging the whole standing distance frame each round
        val next = dist.withColumnRenamed("dist", "_old")
          .join(improved, Seq("node"), "full")
          .select(col("node"),
            coalesce(col("dist"), col("_old")).as("dist"))
          .transform(checkpointed)
        val prevDist = dist
        val prevFrontier = frontier
        dist = next
        frontier = improved
        unpersistCheckpoint(prevDist)
        if (prevFrontier ne prevDist) unpersistCheckpoint(prevFrontier)
        rounds += 1
      }
    }
    require(converged, s"shortestPaths did not converge in $maxRounds rounds")
    // the last improved frame is superseded at convergence (frontier
    // ne dist on both paths: the converged round leaves frontier as
    // the PRIOR round's improvement) — release its blocks too
    if (frontier ne dist) unpersistCheckpoint(frontier)
    val result = if (!withPredecessors) {
      // dist is its own checkpoint — the partitioned edge copy's
      // blocks can release now
      unpersistCheckpoint(e)
      dist
    } else {
      // provenance post-pass: pred(v) = min src over TIGHT in-edges
      // dist(src) + w = dist(v) — one equi-join of the (already
      // partitioned) edge list against the converged distances, with
      // the smallest-predecessor tie rule making the column a pure
      // function of the distances. Sources (dist = 0) have no tight
      // in-edge (w > 0), so the left join leaves their pred NULL.
      val du = dist.select(col("node").as("src"), col("dist").as("_du"))
      val tight = e.join(du, "src")
        .select(col("dst").as("node"), (col("_du") + col("_w")).as("_cd"),
          col("src").as("_p"))
        .join(dist, Seq("node"))
        .where(col("_cd") === col("dist"))
        .groupBy("node").agg(min(col("_p")).as("pred"))
      val out = dist.join(tight, Seq("node"), "left")
        .select(col("node"), col("dist"), col("pred"))
        // materialize under the isolated session — the caller must
        // never replan the loop-shaped lineage under its own conf
        .transform(checkpointed)
      unpersistCheckpoint(e)
      unpersistCheckpoint(dist)
      out
    }
    // hand the materialized result back on the CALLER's session so
    // downstream operators plan with the caller's conf (AQE included)
    org.apache.spark.sql.graft.CheckpointStats.rebind(result, caller)
  }

  /** Per-node triangle counts (exact) by degree orientation — the
    * MapReduce-era fix for "the curse of the last reducer" (Suri &
    * Vassilvitskii, WWW 2011): orient each undirected edge from its
    * lower-(degree, id) endpoint to its higher one, form wedges only
    * at each triangle's MINIMUM vertex under that order, and close
    * them against the oriented edge set. A hub of degree D generates
    * O(D²) wedges naively; oriented, every vertex's out-degree is
    * bounded by O(√|E|), so the wedge join cannot be sunk by one hot
    * node. Output `(node, triangles)` — one row per vertex, zeros
    * included; self-loops and duplicate/reverse edges are
    * canonicalized away first.
    *
    * Shape: a degree aggregation, the orientation join, one
    * wedge self-join on the apex, one closing equi-join on the
    * (b, c) pair, and the final explode + count. All equi-joins,
    * all exact. */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val und = edges.select(
        least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .where(col("u") =!= col("v") &&
        col("u").isNotNull && col("v").isNotNull)
      .distinct()
    val nodes = und.select(col("u").as("node"))
      .union(und.select(col("v").as("node"))).distinct()
    val deg = und.select(col("u").as("node"))
      .union(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("_deg"))
    // orient x -> y iff (deg(x), x) < (deg(y), y): a strict total
    // order, so each undirected edge gets exactly one direction
    val withDeg = und
      .join(deg.select(col("node").as("u"), col("_deg").as("_du")), "u")
      .join(deg.select(col("node").as("v"), col("_deg").as("_dv")), "v")
    val oriented = withDeg.select(
        when(col("_du") < col("_dv") ||
          (col("_du") === col("_dv") && col("u") < col("v")),
          struct(col("u").as("x"), col("v").as("y")))
          .otherwise(struct(col("v").as("x"), col("u").as("y"))).as("_e"))
      .select(col("_e.x").as("x"), col("_e.y").as("y"))
      .transform(checkpointed)
    // wedges at the apex a (the triangle's minimum vertex): out-pairs
    // (b, c) with key(b) < key(c) — equivalently b -> c oriented, so
    // closing is ONE equi-join against the oriented edges
    val keyed = oriented
      .join(deg.select(col("node").as("y"), col("_deg").as("_dy")), "y")
    val wedges = keyed.select(col("x").as("a"), col("y").as("b"),
        col("_dy").as("_db"))
      .join(keyed.select(col("x").as("a"), col("y").as("c"),
        col("_dy").as("_dc")), "a")
      .where(col("_db") < col("_dc") ||
        (col("_db") === col("_dc") && col("b") < col("c")))
    val tris = wedges
      .join(oriented.select(col("x").as("b"), col("y").as("c")), Seq("b", "c"))
      .select(col("a"), col("b"), col("c"))
    val perNode = tris
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    nodes.join(perNode, Seq("node"), "left")
      .select(col("node"), coalesce(col("triangles"), lit(0L)).as("triangles"))
  }

  /** BIPARTITE CO-OCCURRENCE PROJECTION — from bipartite edges
    * `(src=anchor side, dst=projected side)`, the weighted graph on
    * the dst side where `w(a, b)` = number of distinct anchors linking
    * to BOTH a and b (customers → the co-purchase graph on products;
    * documents → the co-citation graph on domains). The classic
    * construction feeding [[labelPropagation]]'s `weightCol` and
    * weighted [[pageRankFixedPoint]] — "group products into
    * co-purchase communities" is this projection plus one LPA call.
    *
    * `maxAnchorDegree` is the scale bound: an anchor of degree d emits
    * d·(d−1)/2 pairs, so one hot anchor (the crawler that links
    * everything) makes the projection quadratic. Anchors with MORE
    * distinct dst neighbors than the cap are EXCLUDED from pair
    * generation entirely — the standard, deterministic practice
    * (ubiquitous anchors carry no co-occurrence signal; cf. the idf
    * intuition and StringJoin's capBuckets), an explicit parameter of
    * the semantics that any oracle replays exactly. The default
    * `Int.MaxValue` is the exact uncapped projection.
    *
    * Edges canonicalize to distinct non-null (src, dst) pairs;
    * multiplicities do NOT stack (an anchor vouches for a pair once).
    * Output `(a, b, w)` with `a < b`, only pairs with w ≥ 1.
    *
    * Shape: one degree aggregation, one semi-style cap filter, ONE
    * self-equi-join on the anchor key (no cartesian — the pair space
    * is per-anchor), one count aggregation. All shuffles are on the
    * anchor/pair keys; the cap bounds the join's fan-out per key. */
  def bipartiteProjection(edges: DataFrame,
      maxAnchorDegree: Int = Int.MaxValue): DataFrame = {
    require(maxAnchorDegree >= 1,
      s"maxAnchorDegree must be >= 1, got $maxAnchorDegree")
    val e = edges.select(col("src"), col("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
    val kept = e.groupBy(col("src"))
      .agg(count(lit(1)).as("_deg"))
      .where(col("_deg") <= maxAnchorDegree)
      .select(col("src"))
    val eK = e.join(kept, Seq("src"), "left_semi")
    eK.select(col("src"), col("dst").as("a"))
      .join(eK.select(col("src"), col("dst").as("b")), "src")
      .where(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("w"))
  }

  /** LINK PREDICTION by common-neighbor counting — for every
    * NON-adjacent node pair at distance 2 in the undirected graph, the
    * number of shared neighbors `cn` and the neighborhood-Jaccard
    * score as an EXACT RATIONAL `jac_num / jac_den`
    * (= cn / (deg(a) + deg(b) − cn)) — the two classic unsupervised
    * predictors (Liben-Nowell/Kleinberg, "The link prediction problem
    * for social networks", CIKM 2003). Integer-exact end to end, so
    * the cross-engine gate hash-matches; the caller divides for
    * display or ranks on (cn, jac) directly.
    *
    * Returns the global top-`k` candidate pairs under the TOTAL order
    * (cn DESC, a ASC, b ASC) — deterministic, engine-portable.
    *
    * `maxHubDegree` is the scale bound, the [[bipartiteProjection]]
    * cap applied to wedge APEXES: a shared neighbor of degree d sits
    * on d·(d−1)/2 candidate pairs, so hubs make the wedge space
    * quadratic — apexes above the cap are excluded from wedge
    * generation (they contribute the least-specific evidence; the idf
    * intuition again). Degrees in `jac_den` stay the TRUE degrees —
    * the cap only prunes which pairs surface and caps their cn
    * evidence, a documented, deterministic part of the semantics.
    * Default `Int.MaxValue` = exact.
    *
    * Edges canonicalize like [[triangleCounts]]. Shape: one degree
    * aggregation, one wedge self-join on the apex (fan-out bounded by
    * the cap), one pair aggregation, one ANTI join against the edge
    * set (candidates must be non-adjacent), two degree joins, then a
    * TakeOrderedAndProject top-k — no cartesian, no windows. */
  def linkPredict(edges: DataFrame, k: Int,
      maxHubDegree: Int = Int.MaxValue): DataFrame = {
    require(k >= 1 && k <= 1000000, s"k must be in [1, 1e6], got $k")
    require(maxHubDegree >= 1,
      s"maxHubDegree must be >= 1, got $maxHubDegree")
    val und = edges.select(
        least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .where(col("u") =!= col("v") &&
        col("u").isNotNull && col("v").isNotNull)
      .distinct()
    val adj = und.select(col("u").as("node"), col("v").as("nbr"))
      .union(und.select(col("v").as("node"), col("u").as("nbr")))
    val deg = adj.groupBy(col("node")).agg(count(lit(1)).as("_deg"))
    // wedges a — apex — b with a < b; apexes above the cap excluded
    val apexOk = deg.where(col("_deg") <= maxHubDegree)
      .select(col("node").as("apex"))
    val adjK = adj.select(col("nbr").as("apex"), col("node"))
      .join(apexOk, Seq("apex"), "left_semi")
    val pairs = adjK.select(col("apex"), col("node").as("a"))
      .join(adjK.select(col("apex"), col("node").as("b")), "apex")
      .where(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("cn"))
      // candidates are NON-edges: drop pairs already linked
      .join(und.select(col("u").as("a"), col("v").as("b")),
        Seq("a", "b"), "left_anti")
    pairs
      .join(deg.select(col("node").as("a"), col("_deg").as("_da")), "a")
      .join(deg.select(col("node").as("b"), col("_deg").as("_db")), "b")
      .select(col("a"), col("b"), col("cn"),
        col("cn").as("jac_num"),
        (col("_da") + col("_db") - col("cn")).as("jac_den"))
      .orderBy(col("cn").desc, col("a"), col("b"))
      .limit(k)
  }

  /** STRONGLY CONNECTED COMPONENTS of a DIRECTED graph — the classic
    * web-graph structure signal (Broder et al., "Graph structure in
    * the web", WWW 2000: the bowtie's SCC core vs the IN/OUT fringes
    * is a first-class crawl-quality feature). Deterministic
    * trim-then-color decomposition (Orzan's coloring scheme, as in
    * McSherry/Isard/Murray and Slota/Rajamanickam/Madduri's Multistep;
    * every step here is an exact set recurrence, so the output is
    * engine-portable and a closure-based SQL oracle agrees exactly):
    *
    *   repeat until empty:
    *     TRIM   — nodes with no in-edge or no out-edge are singleton
    *              SCCs; peel them (and their edges) to fixpoint
    *     COLOR  — propagate `color(v) = min({v} ∪ in-reachable set)`
    *              forward to fixpoint
    *     EXTRACT— roots are nodes with color(v) = v; the SCC of root c
    *              is every v with color c that REACHES c through
    *              color-c nodes (backward BFS within the color class;
    *              all color classes in parallel)
    *     remove extracted SCCs and repeat on the remainder
    *
    * Output `(node, scc_id)` with scc_id = the SCC's minimum node id,
    * one row per edge-endpoint node. Self-loops are dropped (a
    * self-loop never merges SCCs); parallel edges collapse.
    *
    * Round budget: `maxRounds` bounds the TOTAL number of driver
    * rounds across all phases (each round = one Spark action handshake
    * + localCheckpoint rotation, the [[kCore]] discipline) — exceeded
    * is an ERROR, never a silent partial decomposition. Color rounds
    * per outer pass ≈ the graph's forward diameter; backward-BFS
    * rounds ≈ the largest SCC's diameter; OUTER passes = the depth of
    * the condensation DAG in the worst case (a chain of k SCCs where
    * each pass only certifies the globally-minimal one takes k passes
    * — a graph property, not an operator property, exactly like a
    * ring's diameter under [[shortestPaths]]; real link graphs are
    * bowtie-shaped and decompose in a handful of passes, the trim
    * clearing the IN/OUT fringes in bulk).
    *
    * Scale shape per round: equi-joins on src/dst plus one-number
    * change handshakes — no windows, no cartesian, no driver data. */
  def stronglyConnectedComponents(edges: DataFrame,
      maxRounds: Int = 100): DataFrame = {
    require(maxRounds >= 1 && maxRounds <= 10000,
      s"maxRounds must be in [1, 10000], got $maxRounds")
    val spark = edges.sparkSession
    import spark.implicits._
    val base = edges.select(col("src"), col("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
    var e = base.where(col("src") =!= col("dst"))
      .distinct()
      .transform(checkpointed)
    var done = Seq.empty[DataFrame]
    var rounds = 0
    def tick(phase: String): Unit = {
      rounds += 1
      require(rounds <= maxRounds,
        s"SCC did not converge within $maxRounds driver rounds " +
          s"(in $phase) — a condensation chain this deep needs a " +
          "larger maxRounds")
    }
    // node set from the PRE-self-loop edges: a node whose only edge is
    // a self-loop is still an endpoint — it trims out as a singleton
    var nodesLeft = base.select(col("src").as("node"))
      .union(base.select(col("dst").as("node"))).distinct()
      .transform(checkpointed)
    var leftCount = nodesLeft.count()
    while (leftCount > 0) {
      // TRIM to fixpoint: a node missing from dst has no in-edge, a
      // node missing from src has no out-edge — either way no cycle
      // passes through it: a singleton SCC. Peeling exposes the next
      // fringe tier, so loop until stable.
      var trimming = true
      while (trimming && leftCount > 0) {
        tick("trim")
        val hasIn = e.select(col("dst").as("node")).distinct()
        val hasOut = e.select(col("src").as("node")).distinct()
        val cyclic = nodesLeft
          .join(hasIn, Seq("node"), "left_semi")
          .join(hasOut, Seq("node"), "left_semi")
          .transform(checkpointed)
        val cyclicCount = cyclic.count()
        if (cyclicCount == leftCount) {
          trimming = false
          unpersistCheckpoint(cyclic)
        } else {
          val trimmed = nodesLeft.join(cyclic, Seq("node"), "left_anti")
            .select(col("node"), col("node").as("scc_id"))
            .transform(checkpointed)
          done :+= trimmed
          val prevN = nodesLeft
          val prevE = e
          nodesLeft = cyclic
          e = e.join(nodesLeft.select(col("node").as("src")),
              Seq("src"), "left_semi")
            .join(nodesLeft.select(col("node").as("dst")),
              Seq("dst"), "left_semi")
            .select(col("src"), col("dst"))
            .transform(checkpointed)
          unpersistCheckpoint(prevN)
          unpersistCheckpoint(prevE)
          leftCount = cyclicCount
        }
      }
      if (leftCount > 0) {
        // COLOR: forward min propagation to fixpoint —
        // color(v) = min({v} ∪ {u : u reaches v})
        var color = nodesLeft.select(col("node"), col("node").as("color"))
          .transform(checkpointed)
        var changed = 1L
        while (changed > 0) {
          tick("color")
          val incoming = color.select(col("node").as("src"), col("color"))
            .join(e, "src")
            .groupBy(col("dst").as("node"))
            .agg(min(col("color")).as("_inc"))
          val next = color.join(incoming, Seq("node"), "left")
            .select(col("node"),
              least(col("color"), coalesce(col("_inc"), col("color")))
                .as("color"),
              (col("_inc").isNotNull && col("_inc") < col("color"))
                .as("_chg"))
            .transform(checkpointed)
          changed = next.where(col("_chg")).limit(1).count()
          // rotate the BARE checkpoint frames — unpersistCheckpoint
          // matches a LogicalRDD root, so a select-over-checkpoint
          // here would silently leak one frame per round
          val prevC = color
          color = next
          unpersistCheckpoint(prevC)
        }
        // EXTRACT: backward BFS from each root within its color class
        // — frontier-shaped: each round joins the edges against only
        // the NEWLY added members, not the whole set
        var member = color.where(col("color") === col("node"))
          .select(col("node"), col("color"))
          .transform(checkpointed)
        var frontier = member
        var frontierCount = member.count()
        while (frontierCount > 0) {
          tick("extract")
          // u joins when some edge u -> v lands on a frontier member v
          // of u's own color class
          val viaEdge = e
            .join(frontier.select(col("node").as("dst"), col("color")),
              "dst")
            .select(col("src").as("node"), col("color"))
          val added = viaEdge
            .join(color, Seq("node", "color"), "left_semi")
            .join(member, Seq("node"), "left_anti")
            .distinct()
            .transform(checkpointed)
          frontierCount = added.count()
          if (frontier.ne(member)) unpersistCheckpoint(frontier)
          if (frontierCount > 0) {
            val prevM = member
            member = member.union(added).transform(checkpointed)
            unpersistCheckpoint(prevM)
          }
          frontier = added
        }
        if (frontier.ne(member)) unpersistCheckpoint(frontier)
        val scc = member.select(col("node"), col("color").as("scc_id"))
          .transform(checkpointed)
        done :+= scc
        unpersistCheckpoint(color)
        unpersistCheckpoint(member)
        val prevN = nodesLeft
        val prevE = e
        nodesLeft = nodesLeft.join(scc, Seq("node"), "left_anti")
          .transform(checkpointed)
        e = e.join(nodesLeft.select(col("node").as("src")),
            Seq("src"), "left_semi")
          .join(nodesLeft.select(col("node").as("dst")),
            Seq("dst"), "left_semi")
          .select(col("src"), col("dst"))
          .transform(checkpointed)
        unpersistCheckpoint(prevN)
        unpersistCheckpoint(prevE)
        leftCount = nodesLeft.count()
      }
    }
    unpersistCheckpoint(e)
    unpersistCheckpoint(nodesLeft)
    if (done.isEmpty) Seq.empty[(Long, Long)].toDF("node", "scc_id")
    else done.reduce(_ union _)
  }

  /** BOWTIE DECOMPOSITION of a directed graph around its largest SCC
    * (Broder et al., "Graph structure in the web", WWW 2000 — the
    * canonical census of a crawl's link structure). Takes the edge
    * list and a [[stronglyConnectedComponents]] labeling (computed
    * once, reused here) and assigns every node a region:
    *
    *   core         — the largest SCC (ties broken by smallest scc_id)
    *   in           — reaches the core, not in it
    *   out          — reachable from the core, not in it
    *   tube         — neither, same weak component: on an in→out
    *                  bypass (reachable from IN and reaches OUT)
    *   tendril      — neither, same weak component: hangs off one side
    *                  (reachable from IN xor reaches OUT)
    *   other        — same weak component, no directed relation to
    *                  IN/OUT (e.g. a tendril of a tendril)
    *   disconnected — a different weak component entirely
    *
    * IN and OUT are provably disjoint (a node in both would be in the
    * core's SCC). Every step is an exact set recurrence — four
    * frontier BFS passes (forward/backward from the core, forward
    * from IN, backward from OUT), one [[Dedup.connectedComponents]]
    * run for the weak components, and flag joins — so a closure-based
    * SQL oracle agrees exactly.
    *
    * `scc` must label every edge-endpoint node exactly once (the
    * [[communityStats]] coverage contract; extra nodes are ignored).
    * `maxRounds` bounds the TOTAL driver rounds across the four BFS
    * passes (≈ 4 × diameter) — exceeded is an error. Output
    * `(node, region)`. */
  def bowtieRegions(edges: DataFrame, scc: DataFrame,
      maxRounds: Int = 100): DataFrame =
    bowtieImpl(edges, scc, maxRounds, DriverPeelMax)

  /** [[bowtieRegions]] with an explicit driver-local threshold — the
    * [[kCoreImpl]] spec hook (`driverMax = 0` forces the distributed
    * BFS/CC composition). */
  private[graft] def bowtieImpl(edges: DataFrame, scc: DataFrame,
      maxRounds: Int, driverMax: Long): DataFrame = {
    require(maxRounds >= 1 && maxRounds <= 10000,
      s"maxRounds must be in [1, 10000], got $maxRounds")
    val base = edges.select(col("src"), col("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
    val e = base.where(col("src") =!= col("dst"))
      .distinct()
      .transform(checkpointed)
    val labL = scc.select(col("node"), col("scc_id"))
    if (allLong(e, "src", "dst") && allLong(labL, "node", "scc_id")) {
      // DRIVER-LOCAL COMPOSITION (round 16, the [[kCoreImpl]]
      // discipline): the distributed form is ~50 driver actions of
      // fixed latency (four frontier BFS loops with a checkpoint + a
      // count per level, a star-round CC, five flag frames) against a
      // graph that — below the bound — one thread classifies in
      // milliseconds. Three capped collects (self-loop-free digraph,
      // self-loop nodes, the FULL scc labeling) decide the branch; the
      // BFS levels, the round budget and its error, the CC star-round
      // replay WITH ITS OWN budget ([[Dedup.ccLocal]] — extracted from
      // connectedComponentsImpl so both branches share exact budget/
      // labeling semantics), every contract require (same messages),
      // and the region precedence chain are replayed exactly. Regions
      // are functions of reachability sets — unique fixpoints — so the
      // branches agree by construction; a GraphSpec equality pins them
      // on random digraphs (driverMax = 0 vs default).
      val cap = math.min(driverMax, Int.MaxValue - 2L).toInt + 1
      val eArr = e.limit(cap).collect()
      lazy val selfArr = base.where(col("src") === col("dst"))
        .select(col("src")).distinct().limit(cap).collect()
      lazy val labArr = labL.limit(cap).collect()
      if (eArr.length <= driverMax && selfArr.length <= driverMax &&
          labArr.length <= driverMax) {
        val spark = edges.sparkSession
        import spark.implicits._
        unpersistCheckpoint(e)
        val m = eArr.length
        val us = new Array[Long](m); val vs = new Array[Long](m)
        var i = 0
        while (i < m) {
          us(i) = eArr(i).getLong(0); vs(i) = eArr(i).getLong(1); i += 1 }
        val ix = LocalGraph.indexOf(
          us ++ vs ++ selfArr.map(_.getLong(0)))
        val n = ix.size
        require(n > 0, "bowtie over an empty edge set")
        // the scc contract, replayed with the distributed errors
        val seen = new scala.collection.mutable.HashSet[Long]
        var dup = false; var nullLab = false
        val sccOf = new Array[Long](n)
        val hasLab = new Array[Boolean](n)
        labArr.foreach { r =>
          if (r.isNullAt(1)) nullLab = true
          // a null node is a row but no distinct node — the
          // distributed count vs count_distinct check fails on it too
          if (r.isNullAt(0)) dup = true
          else {
            val nd = r.getLong(0)
            if (!seen.add(nd)) dup = true
            if (!r.isNullAt(1)) {
              val j = java.util.Arrays.binarySearch(ix.ids, nd)
              if (j >= 0) { sccOf(j) = r.getLong(1); hasLab(j) = true }
            }
          }
        }
        require(!dup,
          "scc must carry exactly one row per node — duplicates found")
        require(!nullLab, "scc_id must be non-null")
        var covered = true
        i = 0
        while (i < n) { if (!hasLab(i)) covered = false; i += 1 }
        require(covered, "scc labeling is missing nodes of the edge set")
        // the largest SCC, ties to the smallest id — over GRAPH nodes
        val sccCount = new scala.collection.mutable.HashMap[Long, Long]
        i = 0
        while (i < n) {
          sccCount(sccOf(i)) = sccCount.getOrElse(sccOf(i), 0L) + 1L
          i += 1
        }
        var coreId = 0L; var coreC = -1L
        sccCount.foreach { case (id, c) =>
          if (c > coreC || (c == coreC && id < coreId)) {
            coreId = id; coreC = c
          }
        }
        val isCore = new Array[Boolean](n)
        i = 0
        while (i < n) { isCore(i) = sccOf(i) == coreId; i += 1 }
        // CSRs both ways for the four BFS reaches
        val esi = new Array[Int](m); val edi = new Array[Int](m)
        val ones = new Array[Long](m)
        i = 0
        while (i < m) {
          esi(i) = ix.of(us(i)); edi(i) = ix.of(vs(i)); ones(i) = 1L
          i += 1
        }
        val fwdCsr = LocalGraph.buildCsr(n, esi, edi, ones)
        val bwdCsr = LocalGraph.buildCsr(n, edi, esi, ones)
        var rounds = 0
        // frontier BFS: seeds ∪ reachable; level counting and the
        // budget error replicate the distributed tick() exactly (one
        // round per frontier expansion, including the final empty one)
        def reach(seed: Array[Boolean],
            csr: LocalGraph.Csr): Array[Boolean] = {
          val member = seed.clone()
          var frontier = new Array[Int](n)
          var next = new Array[Int](n)
          var fc = 0
          var v = 0
          while (v < n) { if (member(v)) { frontier(fc) = v; fc += 1 }; v += 1 }
          while (fc > 0) {
            rounds += 1
            require(rounds <= maxRounds,
              s"bowtie BFS did not converge within $maxRounds driver rounds")
            var nAdded = 0
            var fi = 0
            while (fi < fc) {
              val u = frontier(fi)
              var p = csr.off(u)
              val pEnd = csr.off(u + 1)
              while (p < pEnd) {
                val t = csr.nbr(p)
                if (!member(t)) {
                  member(t) = true; next(nAdded) = t; nAdded += 1
                }
                p += 1
              }
              fi += 1
            }
            val tmp = frontier; frontier = next; next = tmp
            fc = nAdded
          }
          member
        }
        val fwdCore = reach(isCore, fwdCsr)
        val bwdCore = reach(isCore, bwdCsr)
        val inN = new Array[Boolean](n); val outN = new Array[Boolean](n)
        i = 0
        while (i < n) {
          outN(i) = fwdCore(i) && !isCore(i)
          inN(i) = bwdCore(i) && !isCore(i)
          i += 1
        }
        val fwdIn = reach(inN, fwdCsr)
        val bwdOut = reach(outN, bwdCsr)
        // weak components over e's canonical orientation (u > v) —
        // the SAME star-round budget + union-find as the distributed
        // Dedup.connectedComponents call (default maxRounds = 50)
        val canonSet = new scala.collection.mutable.HashSet[(Long, Long)]
        i = 0
        while (i < m) {
          canonSet += ((math.max(us(i), vs(i)), math.min(us(i), vs(i))))
          i += 1
        }
        val cc = Dedup.ccLocal(canonSet.toArray, 50)
        var coreWcc = Long.MaxValue
        var coreMin = Long.MaxValue
        i = 0
        while (i < n) {
          if (isCore(i)) {
            val id = ix.ids(i)
            cc.get(id).foreach(g => if (g < coreWcc) coreWcc = g)
            if (id < coreMin) coreMin = id
          }
          i += 1
        }
        // a core with no surviving edge (singleton in a self-loop-only
        // graph) weak-groups as itself
        if (coreWcc == Long.MaxValue) coreWcc = coreMin
        val out = new Array[(Long, String)](n)
        i = 0
        while (i < n) {
          val id = ix.ids(i)
          val grp = cc.getOrElse(id, id)
          out(i) = (id,
            if (isCore(i)) "core"
            else if (inN(i)) "in"
            else if (outN(i)) "out"
            else if (grp != coreWcc) "disconnected"
            else if (fwdIn(i) && bwdOut(i)) "tube"
            else if (fwdIn(i) || bwdOut(i)) "tendril"
            else "other")
          i += 1
        }
        return out.toSeq.toDF("node", "region")
      }
      // else: some dimension exceeds the bound — distributed
    }
    val nodes = base.select(col("src").as("node"))
      .union(base.select(col("dst").as("node"))).distinct()
      .transform(checkpointed)
    val nodeCount = nodes.count()
    require(nodeCount > 0, "bowtie over an empty edge set")
    val lab = scc.select(col("node"), col("scc_id"))
    val chk = lab.agg(count(lit(1)).as("_n"),
      count_distinct(col("node")).as("_nd"),
      count(when(col("scc_id").isNull, 1)).as("_null")).head()
    require(chk.getLong(0) == chk.getLong(1),
      "scc must carry exactly one row per node — duplicates found")
    require(chk.getLong(2) == 0, "scc_id must be non-null")
    val onGraph = lab.join(nodes, Seq("node"), "left_semi")
      .transform(checkpointed)
    require(onGraph.count() == nodeCount,
      "scc labeling is missing nodes of the edge set")
    // the largest SCC, ties to the smallest id — a one-row handshake
    val coreId = onGraph.groupBy(col("scc_id"))
      .agg(count(lit(1)).as("_c"))
      .orderBy(col("_c").desc, col("scc_id")).limit(1)
      .head().get(0)
    val core = onGraph.where(col("scc_id") === lit(coreId))
      .select(col("node")).transform(checkpointed)
    // the labeling's job is done (validated + core extracted) —
    // release its blocks before the BFS passes start holding theirs
    unpersistCheckpoint(onGraph)
    var rounds = 0
    def tick(): Unit = {
      rounds += 1
      require(rounds <= maxRounds,
        s"bowtie BFS did not converge within $maxRounds driver rounds")
    }
    // frontier BFS over e — returns seeds ∪ reachable, checkpointed
    def reach(seeds: DataFrame, forward: Boolean): DataFrame = {
      var member = seeds.select(col("node")).transform(checkpointed)
      var frontier = member
      var fc = member.count()
      while (fc > 0) {
        tick()
        val step =
          if (forward)
            e.join(frontier.select(col("node").as("src")), "src")
              .select(col("dst").as("node"))
          else
            e.join(frontier.select(col("node").as("dst")), "dst")
              .select(col("src").as("node"))
        val added = step.distinct()
          .join(member, Seq("node"), "left_anti")
          .transform(checkpointed)
        fc = added.count()
        if (frontier.ne(member)) unpersistCheckpoint(frontier)
        if (fc > 0) {
          val prevM = member
          member = member.union(added).transform(checkpointed)
          unpersistCheckpoint(prevM)
        }
        frontier = added
      }
      if (frontier.ne(member)) unpersistCheckpoint(frontier)
      member
    }
    val fwdCore = reach(core, forward = true)
    val bwdCore = reach(core, forward = false)
    val outN = fwdCore.join(core, Seq("node"), "left_anti")
      .transform(checkpointed)
    val inN = bwdCore.join(core, Seq("node"), "left_anti")
      .transform(checkpointed)
    unpersistCheckpoint(fwdCore)
    unpersistCheckpoint(bwdCore)
    val fwdIn = reach(inN, forward = true)
    val bwdOut = reach(outN, forward = false)
    // weak components over the symmetrized edges; a node whose only
    // edge was a self-loop has no pair — its own singleton component.
    // cc is materialized as a checkpoint so the edge frame's blocks
    // can release before the final assembly.
    val cc = Dedup.connectedComponents(
        e.select(col("src").as("id_a"), col("dst").as("id_b")))
      .transform(checkpointed)
    unpersistCheckpoint(e)
    val coreWccRow = cc.join(core, Seq("node"), "left_semi")
      .agg(min(col("group_id"))).head()
    // a core with no surviving edge (singleton in a self-loop-only
    // graph) weak-groups as itself
    val coreWcc =
      if (coreWccRow.isNullAt(0))
        core.agg(min(col("node"))).head().get(0)
      else coreWccRow.get(0)
    // flag assembly as ONE tag union + hash aggregation (map-side
    // combinable) instead of five separate joins — at 10M nodes the
    // join chain held six sort/hash buffers at once and starved
    // execution memory under the default heap
    def tag(df: DataFrame, t: String): DataFrame =
      df.select(col("node"), lit(t).as("_t"))
    val tags = tag(core, "c")
      .union(tag(inN, "i")).union(tag(outN, "o"))
      .union(tag(fwdIn, "f")).union(tag(bwdOut, "b"))
      .groupBy(col("node"))
      .agg(max(col("_t") === "c").as("_core"),
        max(col("_t") === "i").as("_in"),
        max(col("_t") === "o").as("_out"),
        max(col("_t") === "f").as("_fi"),
        max(col("_t") === "b").as("_bo"))
    val grp = coalesce(col("group_id"), col("node"))
    nodes
      .join(tags, Seq("node"), "left")
      .join(cc, Seq("node"), "left")
      .select(col("node"),
        when(coalesce(col("_core"), lit(false)), "core")
          .when(coalesce(col("_in"), lit(false)), "in")
          .when(coalesce(col("_out"), lit(false)), "out")
          .when(grp =!= lit(coreWcc), "disconnected")
          .when(coalesce(col("_fi"), lit(false)) &&
            coalesce(col("_bo"), lit(false)), "tube")
          .when(coalesce(col("_fi"), lit(false)) ||
            coalesce(col("_bo"), lit(false)), "tendril")
          .otherwise("other").as("region"))
  }

  /** HITS hubs-and-authorities (Kleinberg, "Authoritative sources in a
    * hyperlinked environment", JACM 1999) in the EXACT unnormalized
    * form: the classic iteration divides by a global norm each sweep —
    * a single scalar that never changes the RANKING — so with a fixed
    * iteration count the raw mutual recursion
    *
    *   auth₀ = hub₀ = 1
    *   authᵢ(v) = Σ_{(u,v) ∈ E} hubᵢ₋₁(u)
    *   hubᵢ(v)  = Σ_{(v,w) ∈ E} authᵢ(w)
    *
    * is a pure INTEGER recurrence (the values are path counts), and a
    * SQL oracle unrolls the sweeps bit for bit — the exactness
    * discipline applied to the second classic link-analysis ranking.
    * Callers display `score / max(score)`; the ordering is identical
    * to normalized HITS at the same iteration count.
    *
    * Counts grow ~(max degree)^(2i), so overflow is an ERROR up front,
    * never a wrapped score: each sweep's sums are re-checked against
    * Long range through one decimal(38,0) aggregate (the
    * [[labelPropagation]] crossing-check idiom, one number per sweep).
    * Edges canonicalize to distinct non-null pairs (self-loops KEPT —
    * a self-link is a real hub-authority edge in HITS). Output
    * `(node, hub, authority)`, one row per endpoint.
    *
    * Scale shape per sweep: two equi-joins and two hash aggregations,
    * localCheckpoint rotation — the PageRank shape without the
    * dangling bookkeeping. */
  def hits(edges: DataFrame, iterations: Int): DataFrame =
    hitsImpl(edges, iterations, DriverPeelMax)

  /** [[hits]] with an explicit driver-local threshold — the
    * [[kCoreImpl]] spec hook. */
  private[graft] def hitsImpl(edges: DataFrame, iterations: Int,
      driverMax: Long): DataFrame = {
    require(iterations >= 1 && iterations <= 20,
      s"iterations must be in [1, 20], got $iterations")
    val e = edges.select(col("src"), col("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
      .transform(checkpointed)
    if (allLong(e, "src", "dst") && e.count() <= driverMax) {
      // DRIVER-LOCAL SWEEPS — the same integer mutual recursion;
      // overflow maps to the SAME error through exact arithmetic
      // (the distributed branch's decimal max-check admits a value iff
      // every per-node sum fits a long, which is exactly when the
      // exact ops don't throw — sums of non-negatives have no
      // intermediate-overflow-then-recover case).
      // primitive-array mutual recursion (LocalGraph, round 15)
      val spark = edges.sparkSession
      import spark.implicits._
      val rows = e.collect()
      unpersistCheckpoint(e)
      val m = rows.length
      val us = new Array[Long](m); val vsL = new Array[Long](m)
      var i = 0
      while (i < m) {
        us(i) = rows(i).getLong(0); vsL(i) = rows(i).getLong(1); i += 1 }
      val ix = LocalGraph.indexOf(us ++ vsL)
      val n = ix.size
      val esi = new Array[Int](m); val edi = new Array[Int](m)
      i = 0
      while (i < m) { esi(i) = ix.of(us(i)); edi(i) = ix.of(vsL(i)); i += 1 }
      val hub = new Array[Long](n)
      val auth = new Array[Long](n)
      java.util.Arrays.fill(hub, 1L)
      java.util.Arrays.fill(auth, 1L)
      val acc = new Array[Long](n)
      def exactSums(fromHub: Boolean, what: String): Unit = {
        java.util.Arrays.fill(acc, 0L)
        try {
          var j = 0
          while (j < m) {
            if (fromHub) acc(edi(j)) = Math.addExact(acc(edi(j)), hub(esi(j)))
            else acc(esi(j)) = Math.addExact(acc(esi(j)), auth(edi(j)))
            j += 1
          }
        } catch { case _: ArithmeticException => require(false,
          s"HITS $what counts exceed Long range — fewer iterations") }
      }
      for (_ <- 0 until iterations) {
        exactSums(fromHub = true, "authority")
        System.arraycopy(acc, 0, auth, 0, n)
        exactSums(fromHub = false, "hub")
        System.arraycopy(acc, 0, hub, 0, n)
      }
      return (0 until n).map(v => (ix.ids(v), hub(v), auth(v)))
        .toDF("node", "hub", "authority")
    }
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .transform(checkpointed)
    var scores = nodes.select(col("node"),
        lit(1L).as("hub"), lit(1L).as("authority"))
      .transform(checkpointed)
    def overflowCheck(df: DataFrame, c: String, what: String): Unit = {
      val m = df.agg(max(col(c).cast("decimal(38,0)"))).head().getDecimal(0)
      require(m == null ||
        m.compareTo(java.math.BigDecimal.valueOf(Long.MaxValue)) <= 0,
        s"HITS $what counts exceed Long range — fewer iterations")
    }
    for (_ <- 0 until iterations) {
      // auth(v) = Σ hub(u) over in-edges — summed wide as decimal,
      // range-checked, THEN narrowed to long
      val authDec = scores.select(col("node").as("src"), col("hub"))
        .join(e, "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(col("hub").cast("decimal(38,0)")).as("_a"))
      val auth = nodes.join(authDec, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("_a"), lit(0)).as("_a"))
        .transform(checkpointed)
      overflowCheck(auth, "_a", "authority")
      val hubDec = auth.select(col("node").as("dst"),
          col("_a").cast("long").as("_av"))
        .join(e, "dst")
        .groupBy(col("src").as("node"))
        .agg(sum(col("_av").cast("decimal(38,0)")).as("_h"))
      val next = nodes.join(hubDec, Seq("node"), "left")
        .join(auth, Seq("node"))
        .select(col("node"),
          coalesce(col("_h"), lit(0)).as("_h"),
          col("_a"))
        .transform(checkpointed)
      overflowCheck(next, "_h", "hub")
      val prev = scores
      scores = next.select(col("node"),
          col("_h").cast("long").as("hub"),
          col("_a").cast("long").as("authority"))
        .transform(checkpointed)
      unpersistCheckpoint(prev)
      unpersistCheckpoint(auth)
      unpersistCheckpoint(next)
    }
    unpersistCheckpoint(e)
    unpersistCheckpoint(nodes)
    scores
  }

  /** DETERMINISTIC RANDOM WALKS — the DeepWalk/node2vec corpus
    * generator (Perozzi et al. KDD 2014; Grover/Leskovec KDD 2016)
    * with the sampling made engine-portable: at position k the walk at
    * node v steps to the neighbor whose RANK (dense 0-based, neighbors
    * ordered by id) equals
    *
    *   hex52(md5(seed:start:wnum:k:v)) mod out-degree(v)
    *
    * — the repo's md5 keyed-uniform idiom ([[Sampling.shuffleKey]] /
    * assignSplits), so every step is uniform over the neighbors,
    * reproducible under any engine with md5, and a SQL oracle replays
    * the walks token for token. Walks STOP at a node with no
    * out-neighbor (the standard truncation); self-loops are dropped;
    * `directed = false` walks the symmetrized edge set.
    *
    * Output `(start, wnum, step, node)` — one row per visited
    * position, step 0 = the start itself; `walksPerNode` walks per
    * start node, distinguished by `wnum` inside the hash key.
    *
    * Scale shape: the ranked adjacency builds ONCE (a row_number
    * window per src — the one-time index-build cost, like TextIndex
    * posting construction; a mega-hub serializes its own partition for
    * that one pass), then every step is TWO equi-joins (degree, then
    * (src, rank) — fan-out exactly 1 per live walk) with checkpoint
    * rotation. Cost per step ∝ live walks, never edge count. */
  def randomWalks(edges: DataFrame, walkLength: Int,
      walksPerNode: Int = 1, seed: String = "walk",
      directed: Boolean = true): DataFrame = {
    require(walkLength >= 1 && walkLength <= 100,
      s"walkLength must be in [1, 100], got $walkLength")
    require(walksPerNode >= 1 && walksPerNode <= 100,
      s"walksPerNode must be in [1, 100], got $walksPerNode")
    require(!seed.contains(":"), "seed must not contain ':'")
    val e0 = edges.select(col("src"), col("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
    val e = (if (directed) e0
      else e0.union(e0.select(col("dst").as("src"), col("src").as("dst"))))
      .distinct()
      .transform(checkpointed)
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("_deg"))
      .transform(checkpointed)
    val adj = e.select(col("src"), col("dst"),
        (row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("src")).orderBy(col("dst"))) - 1)
          .cast("long").as("_rk"))
      .transform(checkpointed)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    var cur = nodes.select(col("node").as("start"),
        explode(sequence(lit(0), lit(walksPerNode - 1))).as("wnum"))
      .select(col("start"), col("wnum").cast("long").as("wnum"),
        col("start").as("node"))
      .transform(checkpointed)
    var out = Seq(cur.select(col("start"), col("wnum"),
      lit(0L).as("step"), col("node")))
    for (k <- 1 to walkLength) {
      val key = concat_ws(":", lit(seed), col("start"), col("wnum"),
        lit(k - 1), col("node"))
      val next = cur
        .join(deg.select(col("src").as("node"), col("_deg")), "node")
        .select(col("start"), col("wnum"), col("node").as("src"),
          pmod(conv(substring(md5(key), 1, 13), 16, 10).cast("long"),
            col("_deg")).as("_rk"))
        .join(adj, Seq("src", "_rk"))
        .select(col("start"), col("wnum"), col("dst").as("node"))
        .transform(checkpointed)
      // every step frame IS part of the output — no rotation here;
      // each checkpoint lives as long as the returned walks do
      out :+= next.select(col("start"), col("wnum"),
        lit(k.toLong).as("step"), col("node"))
      cur = next
    }
    // the setup frames fed only the (eagerly materialized) step
    // checkpoints — release them
    unpersistCheckpoint(e)
    unpersistCheckpoint(deg)
    unpersistCheckpoint(adj)
    out.reduce(_ union _)
  }

  /** node2vec BIASED WALKS (Grover/Leskovec, KDD 2016) — the
    * second-order extension of [[randomWalks]], deterministic and
    * engine-portable. From position k ≥ 2 the walk at `cur` (having
    * arrived from `prev`) weighs each neighbor by its node2vec class:
    *
    *   wReturn — nbr == prev            (node2vec 1/p, the backtrack)
    *   wNear   — (prev, nbr) is an edge (distance 1 from prev)
    *   wFar    — otherwise              (node2vec 1/q, the excursion)
    *
    * as POSITIVE INTEGER weights (scale node2vec's (1/p, 1, 1/q) by a
    * common factor — e.g. p = 2, q = 1/2 is (wReturn, wNear, wFar) =
    * (1, 2, 4)). The pick is the neighbor whose cumulative-weight
    * interval (neighbors ordered by id) contains
    * `hex52(md5(seed:start:wnum:k:prev:cur)) mod totalWeight` — the
    * md5 keyed idiom again, so each step samples the exact node2vec
    * distribution quantized to the integer weights, and a SQL oracle
    * replays every token. The FIRST step (no prev) is uniform,
    * matching [[randomWalks]]. Dead ends truncate; `directed = false`
    * walks the symmetrized edge set (the published setting; for
    * directed input, "distance 1" means the edge prev → nbr exists).
    *
    * Output `(start, wnum, step, node)`. Scale shape per step:
    * adjacency fan-out deg(cur) per live walk, one membership
    * left-join against the edge set on (prev, nbr), and a cumulative
    * window PARTITIONED BY WALK — bounded by max degree, never a hot
    * key. Cost per step ∝ Σ deg(cur) over live walks (the price of
    * second-order bias; [[randomWalks]] stays the O(1)-per-walk
    * first-order path). */
  def biasedRandomWalks(edges: DataFrame, walkLength: Int,
      walksPerNode: Int = 1, seed: String = "walk",
      wReturn: Long = 1L, wNear: Long = 1L, wFar: Long = 1L,
      directed: Boolean = false): DataFrame = {
    require(walkLength >= 1 && walkLength <= 100,
      s"walkLength must be in [1, 100], got $walkLength")
    require(walksPerNode >= 1 && walksPerNode <= 100,
      s"walksPerNode must be in [1, 100], got $walksPerNode")
    require(!seed.contains(":"), "seed must not contain ':'")
    require(wReturn >= 1 && wNear >= 1 && wFar >= 1,
      "class weights must be positive integers")
    require(wReturn.max(wNear).max(wFar) <= 1000000L,
      "class weights above 1e6 — rescale (hex52 mod needs headroom)")
    val e0 = edges.select(col("src"), col("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
    val e = (if (directed) e0
      else e0.union(e0.select(col("dst").as("src"), col("src").as("dst"))))
      .distinct()
      .transform(checkpointed)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    // state carries (start, wnum, prev, node); step 1 is uniform
    var cur = nodes.select(col("node").as("start"),
        explode(sequence(lit(0), lit(walksPerNode - 1))).as("wnum"))
      .select(col("start"), col("wnum").cast("long").as("wnum"),
        lit(null).cast("long").as("prev"), col("start").as("node"))
      .transform(checkpointed)
    var out = Seq(cur.select(col("start"), col("wnum"),
      lit(0L).as("step"), col("node")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("start"), col("wnum")).orderBy(col("_nbr"))
    for (k <- 1 to walkLength) {
      val key = concat_ws(":", lit(seed), col("start"), col("wnum"),
        lit(k - 1), coalesce(col("prev").cast("string"), lit("-")),
        col("node"))
      val cands = cur
        .join(e.select(col("src").as("node"), col("dst").as("_nbr")),
          "node")
        .join(e.select(col("src").as("prev"), col("dst").as("_nbr"),
          lit(true).as("_near")), Seq("prev", "_nbr"), "left")
        .select(col("start"), col("wnum"), col("prev"),
          col("node"), col("_nbr"),
          when(col("prev").isNull, lit(1L)) // step 1: uniform
            .when(col("_nbr") === col("prev"), lit(wReturn))
            .when(coalesce(col("_near"), lit(false)), lit(wNear))
            .otherwise(lit(wFar)).as("_w"))
      val picked = cands
        .withColumn("_cum", sum(col("_w")).over(w))
        .withColumn("_tot",
          sum(col("_w")).over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("start"), col("wnum"))))
        .withColumn("_idx",
          pmod(conv(substring(md5(key), 1, 13), 16, 10).cast("long"),
            col("_tot")))
        .where(col("_idx") >= col("_cum") - col("_w") &&
          col("_idx") < col("_cum"))
      val next = picked
        .select(col("start"), col("wnum"),
          col("node").as("prev"), col("_nbr").as("node"))
        .transform(checkpointed)
      out :+= next.select(col("start"), col("wnum"),
        lit(k.toLong).as("step"), col("node"))
      cur = next
    }
    unpersistCheckpoint(e)
    out.reduce(_ union _)
  }

  /** SKIP-GRAM PAIR EXTRACTION — the training-data product of the walk
    * corpus (DeepWalk's co-occurrence step: every (center, context)
    * node pair within `window` positions on the same walk, the input
    * word2vec/SGNS consumes). Takes a [[randomWalks]] /
    * [[biasedRandomWalks]] output `(start, wnum, step, node)` and
    * emits `(center, context, offset)` rows with
    * `1 ≤ |offset| ≤ window` (offset = context step − center step;
    * both directions emitted, the standard symmetric window), plus
    * the pair MULTIPLICITY summed across the whole corpus as `cnt` —
    * the aggregate form SGNS samplers and PMI matrices want.
    *
    * Pure composition: one self-equi-join on the walk key
    * (start, wnum) with a step-band predicate — per-walk fan-out ≤
    * 2·window, no windows, no cartesian — and one count aggregation.
    * Exact, so the gate chains the walks oracle into a self-join. */
  def skipGramPairs(walks: DataFrame, window: Int): DataFrame = {
    require(window >= 1 && window <= 100,
      s"window must be in [1, 100], got $window")
    val l = walks.select(col("start"), col("wnum"),
      col("step").as("_cs"), col("node").as("center"))
    val r = walks.select(col("start"), col("wnum"),
      col("step").as("_xs"), col("node").as("context"))
    l.join(r, Seq("start", "wnum"))
      .where(col("_xs") =!= col("_cs") &&
        abs(col("_xs") - col("_cs")) <= window)
      .groupBy(col("center"), col("context"),
        (col("_xs") - col("_cs")).as("offset"))
      .agg(count(lit(1)).as("cnt"))
  }
}
