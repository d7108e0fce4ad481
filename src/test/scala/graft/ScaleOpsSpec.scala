package graft

import graft.model.{CellOp, OpType}
import graft.operators.{AsOfJoin, Skew}
import graft.sources.CellLogStore
import graft.streaming.Observers
import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scale mechanics: salting, bucketed co-located joins, session windows,
  * custom keyed state.
  */
class ScaleOpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  test("counter fold completes on a deep history: 1M ADDs on one column") {
    // the pre-fast-path fold would collect_list a 1M-element array into a
    // single aggregation buffer; the sum path streams it through a hash
    // aggregate with O(1) state
    val log = spark.range(1000000L).select(
      lit("hot").as("row_key"), lit("cf").as("cf"), lit("c").as("qualifier"),
      (col("id") % 1000L).as("ts"), lit(OpType.Add).as("op"),
      graft.functions.cellfunctions.be64_encode(lit(1L)).as("value"),
      col("id").as("seq"))
    val out = graft.operators.Resolve.resolve(log,
      opsPresent = Some(Set(OpType.Add))).collect()
    assert(out.length == 1)
    assert(graft.functions.Codecs.decodeBE64(out(0).getAs[Array[Byte]]("value"))
      == 1000000L)
  }

  test("MIXED fold completes on a deep history: 1M interleaved ops, one column") {
    // the buffered fold would collect_list 1M (ts,seq,op,value) structs
    // into one aggregation buffer; the streaming sorted-group fold keeps
    // O(1) state. Interleave PutIfAbsent so no counter fast path applies.
    val log = spark.range(1000000L).select(
      lit("hot").as("row_key"), lit("cf").as("cf"), lit("c").as("qualifier"),
      lit(1L).as("ts"),
      when(col("id") === 0L, lit(OpType.PutIfAbsent))
        .otherwise(lit(OpType.Add)).as("op"),
      when(col("id") === 0L,
          graft.functions.cellfunctions.be64_encode(lit(5L)))
        .otherwise(graft.functions.cellfunctions.be64_encode(lit(1L)))
        .as("value"),
      col("id").as("seq"))
    val out = graft.operators.Resolve.resolve(log,
      opsPresent = Some(Set(OpType.Add, OpType.PutIfAbsent))).collect()
    assert(out.length == 1)
    // fold order is (ts, seq): PutIfAbsent seeds 5, then 999999 ADDs
    assert(graft.functions.Codecs.decodeBE64(out(0).getAs[Array[Byte]]("value"))
      == 1000004L)
  }

  test("connected components converge on a 1000-node path in O(log n) rounds") {
    import spark.implicits._
    // a path graph is the slow case for naive propagation (diameter n);
    // large-star/small-star must still converge inside the round bound
    val edges = (0L until 999L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val before = spark.sparkContext.getPersistentRDDs.size
    val groups = graft.operators.Dedup.connectedComponents(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(groups.length == 1000)
    assert(groups.forall(_._2 == 0L))
    // superseded rounds must unpersist their checkpoint blocks — a dead
    // unpersist would leave ~1 pinned edge-set per round here
    val leaked = spark.sparkContext.getPersistentRDDs.size - before
    assert(leaked <= 2, s"$leaked checkpointed edge sets still pinned")
  }

  test("store layout is tablet-style: disjoint per-file key ranges, blooms present") {
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("graft-layout").toString
    val batch = spark.range(100000L).select(
      format_string("user%08d", col("id")).as("row_key"),
      lit("cf").as("cf"), lit("q").as("qualifier"),
      lit(0L).as("ts"), lit(OpType.Value).as("op"),
      encode(col("id").cast("string"), "UTF-8").as("value"),
      col("id").as("seq"))
    // a Spark-path append range-clusters over the shuffle partitions
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try CellLogStore.append(batch, dir)
    finally spark.conf.set("spark.sql.shuffle.partitions", "4")

    val conf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    val files = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(_.getPath.getName.endsWith(".parquet"))
    assert(files.length == 8)
    val ranges = files.map { f =>
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf))
      try {
        val cols = rd.getFooter.getBlocks.asScala.map(_.getColumns.asScala
          .find(_.getPath.toDotString == "row_key").get)
        // the bloom-filter write option must have taken effect
        assert(cols.forall(_.getBloomFilterOffset >= 0),
          s"${f.getPath.getName}: no bloom filter on row_key")
        val stats = cols.map(_.getStatistics)
        (stats.map(s => new String(s.getMinBytes, "UTF-8")).min,
          stats.map(s => new String(s.getMaxBytes, "UTF-8")).max)
      } finally rd.close()
    }.sortBy(_._1)
    // range-clustered layout: per-file key ranges must not interleave —
    // this is what makes parquet min/max stats behave like tablet ranges
    ranges.sliding(2).foreach {
      case Array((_, hiA), (loB, _)) => assert(hiA <= loB,
        s"file ranges overlap: $hiA > $loB")
      case _ =>
    }
    // a 5%-of-keyspace scan must touch few files, not all of them
    val (lo, hi) = ("user00010000", "user00015000")
    val touched = ranges.count { case (mn, mx) => mx >= lo && mn < hi }
    assert(touched <= 2, s"5% range scan touches $touched of 8 files")

    // every file the engine writes carries a key bloom sized to its
    // rows: small flat appends (driver and Spark path), bucketed appends
    // (driver and Spark path) and a bucketed compaction; KV appends and
    // compactions, flat and bucketed
    import spark.implicits._
    def small(n: Int, seq0: Long) = (0 until n).map(i => CellOp(
      f"s$i%05d", "cf", "q", 1L, OpType.Value, "v".getBytes, seq0 + i))
    CellLogStore.append(small(40, 1000000L).toDF(), dir)
    CellLogStore.append(small(60, 2000000L).toDF().repartition(2), dir)
    val bdir = Files.createTempDirectory("graft-layout-bkt").toString
    val bt = Graft.createTable(spark, bdir, graft.model.TableDesc(buckets = 4),
      Some(Set(OpType.Value)))
    bt.put(small(80, 0L))
    bt.put(small(80, 100L).toDF().repartition(3))
    val cdir = Files.createTempDirectory("graft-layout-bkt-c").toString
    bt.compact(cdir)
    val kvDirs = Seq(0, 4).flatMap { buckets =>
      val kdir = Files.createTempDirectory("graft-layout-kv").toString
      val kv = Graft.createKvTable(spark, kdir, buckets = buckets)
      kv.put((0 until 80).map(i => (f"k$i%05d", "v".getBytes, 0L)), 1L)
      val kcdir = Files.createTempDirectory("graft-layout-kv-c").toString
      kv.compact(kcdir)
      Seq(kdir, kcdir).map(_ -> "key")
    }
    val audited = Seq(dir, bdir, cdir).map(_ -> "row_key") ++ kvDirs
    audited.foreach { case (d, keyCol) =>
      val fs2 = new org.apache.hadoop.fs.Path(d).getFileSystem(conf)
      val written = fs2.listStatus(new org.apache.hadoop.fs.Path(d))
        .filter(_.getPath.getName.endsWith(".parquet"))
      assert(written.nonEmpty, d)
      written.foreach { f =>
        val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf))
        try {
          rd.getFooter.getBlocks.asScala.foreach { block =>
            val key = block.getColumns.asScala
              .find(_.getPath.toDotString == keyCol).get
            assert(key.getBloomFilterOffset >= 0,
              s"${f.getPath}: no bloom filter on $keyCol")
            val bytes = rd.readBloomFilter(key).getBitsetSize
            if (block.getRowCount <= 100)
              assert(bytes <= 64 * 1024,
                s"${f.getPath}: $bytes-byte bloom for ${block.getRowCount} rows")
          }
        } finally rd.close()
      }
    }
  }

  test("salted join matches plain join on a skewed key") {
    import spark.implicits._
    // 10k rows of one hot key + a tail
    val fact = ((1 to 10000).map(i => ("hot", i)) ++
      (1 to 100).map(i => (s"k$i", i))).toDF("key", "v")
    val dim = (Seq(("hot", "H")) ++ (1 to 100).map(i => (s"k$i", s"d$i")))
      .toDF("key", "name")
    val plain = fact.join(dim, "key").groupBy("key").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val salted = Skew.saltedJoin(fact, dim, "key", salts = 8)
      .groupBy("key").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(salted == plain)
  }

  test("salted as-of join is exact: matches the single-window join on a hot key") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    // one hot key carrying most rows + normal keys + a right-less key
    val left = ((1 to 4000).map(_ => ("hot", rng.nextInt(100000).toLong * 2)) ++
      (1 to 200).map(i => (s"k${i % 20}", rng.nextInt(100000).toLong * 2)) ++
      (1 to 10).map(i => ("nomatch", i.toLong * 2)))
      .toDF("key", "ts")
    val right = ((1 to 1500).map(_ => ("hot", rng.nextInt(100000).toLong * 2 + 1,
        rng.nextInt(1000))) ++
      (1 to 100).map(i => (s"k${i % 20}", rng.nextInt(100000).toLong * 2 + 1,
        rng.nextInt(1000))))
      .toDF("key", "rts", "rv")
      .groupBy("key", "rts").agg(max("rv").as("rv")) // unique (key, ts)
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("key", "ts", "rv")
      .collect().map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) -1 else r.getInt(2))).sorted
    val plain = canon(AsOfJoin.join(left, right, "key", "ts", "rts", Seq("rv")))
    val salted = canon(AsOfJoin.joinSalted(left, right, "key", "ts", "rts",
      Seq("rv"), buckets = 16))
    assert(plain.length == left.count())
    assert(salted.sameElements(plain))
  }

  test("as-of tolerance: stale matches null out, both variants agree with a driver model") {
    import spark.implicits._
    val rng = new scala.util.Random(13)
    val left = ((1 to 2000).map(_ => ("hot", rng.nextInt(10000).toLong * 2)) ++
      (1 to 200).map(i => (s"k${i % 10}", rng.nextInt(10000).toLong * 2)))
      .toDF("key", "ts")
    val right = ((1 to 600).map(_ => ("hot", rng.nextInt(10000).toLong * 2 + 1,
        rng.nextInt(1000))) ++
      (1 to 100).map(i => (s"k${i % 10}", rng.nextInt(10000).toLong * 2 + 1,
        rng.nextInt(1000))))
      .toDF("key", "rts", "rv")
      .groupBy("key", "rts").agg(max("rv").as("rv"))
    val tol = 500L
    // driver model: newest right at-or-before, discarded when stale
    val rightRows = right.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    val byKey = rightRows.groupBy(_._1)
    val model = left.collect().map { r =>
      val (k, t) = (r.getString(0), r.getLong(1))
      val m = byKey.getOrElse(k, Array.empty).filter(_._2 <= t)
        .sortBy(_._2).lastOption
      (k, t, m.filter(_._2 >= t - tol).map(_._3).getOrElse(-1))
    }.sorted
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("key", "ts", "rv")
      .collect().map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) -1 else r.getInt(2))).sorted
    val plain = canon(AsOfJoin.join(left, right, "key", "ts", "rts",
      Seq("rv"), toleranceUs = tol))
    val salted = canon(AsOfJoin.joinSalted(left, right, "key", "ts", "rts",
      Seq("rv"), buckets = 16, toleranceUs = tol))
    assert(plain.sameElements(model))
    assert(salted.sameElements(model))
    // tolerance actually bit: some matches exist, some were discarded
    val unbounded = canon(AsOfJoin.join(left, right, "key", "ts", "rts", Seq("rv")))
    assert(plain.count(_._3 >= 0) > 0)
    assert(plain.count(_._3 >= 0) < unbounded.count(_._3 >= 0))
  }

  test("as-of tolerance gates each carried value on its SUPPLYING row") {
    import spark.implicits._
    // the newest match (ts=100) carries a null value; the value itself
    // comes from ts=0 — 110µs stale. A gate keyed on the newest match
    // alone would leak the stale 7 through.
    val left = Seq(("a", 110L)).toDF("key", "ts")
    val right = Seq(("a", 0L, Some(7)), ("a", 100L, None))
      .toDF("key", "rts", "rv")
    def rv(tol: Long) = AsOfJoin.join(left, right, "key", "ts", "rts",
        Seq("rv"), toleranceUs = tol)
      .collect().map(r => if (r.isNullAt(2)) None else Some(r.getInt(2)))
      .head
    assert(rv(50L).isEmpty)        // supplier 110µs stale -> null
    assert(rv(200L).contains(7))   // within tolerance -> carried
  }

  test("salted two-phase aggregation matches direct aggregation") {
    import spark.implicits._
    val df = ((1 to 5000).map(_ => ("hot", 1L)) ++
      (1 to 50).map(i => (s"k$i", i.toLong))).toDF("key", "v")
    val direct = df.groupBy("key").agg(sum("v").as("s"), count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val salted = Skew.saltedAgg(df, col("key"), salts = 8,
        Seq(Skew.SaltableAgg.Sum("v", "s"), Skew.SaltableAgg.Count("c")))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(salted == direct)
  }

  test("bucketed tables join without an exchange (co-located join)") {
    import spark.implicits._
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      (1 to 1000).map(i => (i.toLong, s"a$i")).toDF("k", "a")
        .write.mode("overwrite").bucketBy(4, "k").sortBy("k")
        .saveAsTable("bucketed_a")
      (1 to 1000).map(i => (i.toLong, s"b$i")).toDF("k", "b")
        .write.mode("overwrite").bucketBy(4, "k").sortBy("k")
        .saveAsTable("bucketed_b")
      val joined = spark.table("bucketed_a").join(spark.table("bucketed_b"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan)
      assert(joined.count() == 1000)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS bucketed_a")
      spark.sql("DROP TABLE IF EXISTS bucketed_b")
    }
  }

  test("session windows close after the gap; keyed state counts run") {
    import spark.implicits._
    val dir = Files.createTempDirectory("sess-log").toString
    val min = 60L * 1000000L
    // r1: two sessions (burst at 0-2min, burst at 30min); r2: one
    val cells = Seq(0L, min, 2 * min, 30 * min).zipWithIndex.map { case (ts, i) =>
      CellOp("r1", "ev", "q", ts, OpType.Value, Array[Byte](1), i.toLong)
    } ++ Seq(CellOp("r2", "ev", "q", 5 * min, OpType.Value, Array[Byte](1), 10L))
    CellLogStore.append(cells.toDF(), dir)

    val q = Observers.sessionCounts(
        Observers.cellLogStream(spark, dir), gap = "10 minutes",
        watermark = "1 minute")
      .writeStream.format("memory").queryName("sessions")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val sessions = spark.sql("SELECT row_key, cnt FROM sessions ORDER BY session_start")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(sessions == Seq(("r1", 3L), ("r2", 1L), ("r1", 1L)))

    val q2 = Observers.runningCellCounts(spark,
        Observers.cellLogStream(spark, dir))
      .writeStream.format("memory").queryName("running")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination()
    val counts = spark.sql("SELECT * FROM running").collect()
      .map(r => (r.getString(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).max).toMap
    assert(counts == Map("r1" -> 4L, "r2" -> 1L))
  }
}
