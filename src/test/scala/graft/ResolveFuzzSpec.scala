package graft

import graft.functions.Codecs
import graft.model._
import graft.operators.{CellFold, Resolve}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

/** Differential fuzz: Spark resolve vs an independent in-memory
  * reference resolver, over seeded-random logs mixing every op type,
  * delete granularity, ttl/min/max-version knobs and snapshots
  * (the property-test plan of SURVEY.md §5).
  */
class ResolveFuzzSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import OpType._

  /** Straight-line reimplementation of the documented resolve semantics
    * (SURVEY.md §2.4) — no Spark, no sharing with the production code.
    */
  private def refResolve(
      ops: Seq[CellOp],
      desc: TableDesc,
      nowUs: Long,
      snapshot: Option[Long]): Set[(String, String, String, Long, Option[Seq[Byte]])] = {

    val bounded = ops.filter(o => snapshot.forall(o.seq <= _))
    def killed(c: CellOp): Boolean = bounded.exists { d =>
      d.seq > c.seq && (d.op match {
        case DelRow => d.row_key == c.row_key && c.ts <= d.ts
        case DelColumn => d.row_key == c.row_key && d.cf == c.cf && c.ts <= d.ts
        case DelQualifiers => d.row_key == c.row_key && d.cf == c.cf &&
          d.qualifier == c.qualifier && c.ts <= d.ts
        case DelQualifier => d.row_key == c.row_key && d.cf == c.cf &&
          d.qualifier == c.qualifier && d.ts == c.ts
        case _ => false
      })
    }
    val alive = bounded.filter(c => dataOps.contains(c.op) && !killed(c))

    alive.groupBy(c => (c.row_key, c.cf, c.qualifier)).flatMap {
      case ((row, cf, qual), cells) =>
        val spec = desc.spec(cf)
        val newestFirst = cells.sortBy(c => (-c.ts, -c.seq))
        val ttlUs = spec.ttlSec * 1000000L
        val surviving = newestFirst.zipWithIndex.filter { case (c, i) =>
          ttlUs == 0L || c.ts + ttlUs > nowUs || i < spec.minVersions
        }.map(_._1)
        if (surviving.isEmpty) Nil
        else if (surviving.exists(c => atomics.contains(c.op))) {
          // chronological fold into one merged cell
          // decodeBE64/decodeLE64 are total (non-8-byte buffers -> 0),
          // so a fold over a mixed-type column treats a malformed base
          // as empty — mirrored here
          var state: Array[Byte] = null
          surviving.sortBy(c => (c.ts, c.seq)).foreach { c =>
            c.op match {
              case Value => state = c.value
              // a sum past the long range raises
              case Add => state = if (c.value == null) null
                else Codecs.encodeBE64(Math.addExact(
                  if (state == null) 0L else Codecs.decodeBE64(state),
                  Codecs.decodeBE64(c.value)))
              case AddInt64 => state = if (c.value == null) null
                else Codecs.encodeLE64(Math.addExact(
                  if (state == null) 0L else Codecs.decodeLE64(state),
                  Codecs.decodeLE64(c.value)))
              case PutIfAbsent => if (state == null) state = c.value
              // a null operand nulls the state (expression concat
              // propagates null) — the poison must not kill the fold
              case Append => state = if (c.value == null) null
                else (if (state == null) Array.emptyByteArray else state) ++ c.value
            }
          }
          Seq((row, cf, qual, surviving.map(_.ts).max,
            Option(state).map(_.toSeq)))
        } else {
          surviving.take(spec.maxVersions)
            .map(c => (row, cf, qual, c.ts, Option(c.value).map(_.toSeq)))
        }
    }.toSet
  }

  private def randomLog(rng: scala.util.Random, n: Int): Seq[CellOp] = {
    val seqs = rng.shuffle((1L to n.toLong).toList)
    (0 until n).map { i =>
      val row = s"r${rng.nextInt(3)}"
      val cf = s"cf${rng.nextInt(2)}"
      val qual = s"q${rng.nextInt(2)}"
      val ts = (rng.nextInt(5) + 1).toLong * 1000000L
      val op = rng.nextInt(100) match {
        case x if x < 40 => Value
        case x if x < 50 => DelRow
        case x if x < 58 => DelColumn
        case x if x < 66 => DelQualifiers
        case x if x < 72 => DelQualifier
        case x if x < 82 => Add
        case x if x < 88 => AddInt64
        case x if x < 94 => PutIfAbsent
        case _           => Append
      }
      val value: Array[Byte] = op match {
        // ~1 in 8 non-counter data ops carries a NULL operand — the
        // poison-cell class the streaming fold must survive (null
        // propagates through the fold state, as in the expression
        // semantics). Counter operands stay well-formed: an Add(null)
        // is malformed input on which the null-reset fold and the
        // map-side-sum fast path legitimately diverge (the reference
        // cannot express a null operand at all).
        case Value | PutIfAbsent | Append =>
          if (rng.nextInt(8) == 0) null else s"v$i".getBytes("UTF-8")
        case Add => Codecs.encodeBE64(rng.nextInt(100).toLong - 50)
        case AddInt64 => Codecs.encodeLE64(rng.nextInt(100).toLong - 50)
        case _ => null
      }
      CellOp(row, cf, qual, ts, op, value, seqs(i))
    }
  }

  test("spark resolve == reference resolver on 40 random logs") {
    import spark.implicits._
    val rng = new scala.util.Random(20260812L)
    (1 to 40).foreach { trial =>
      val n = 10 + rng.nextInt(40)
      val log = randomLog(rng, n)
      val desc = TableDesc(
        CfSpec(
          maxVersions = 1 + rng.nextInt(3),
          minVersions = rng.nextInt(2),
          ttlSec = if (rng.nextBoolean()) 0L else 3L),
        cfs = if (rng.nextBoolean()) Map("cf1" -> CfSpec(maxVersions = 2)) else Map.empty)
      val nowUs = 6000000L
      val snapshot = if (rng.nextInt(4) == 0) Some(n.toLong / 2) else None

      // alternate tombstone strategies (window / join): both must match
      // the reference exactly. A log clustered on row_key takes the
      // window; the probe's small delete count takes the join.
      val got = Resolve.resolve(
          if (trial % 3 == 0) log.toDF().repartition(col("row_key")) else log.toDF(),
          desc, nowUs, snapshot)
        .collect().map { r =>
          (r.getString(0), r.getString(1), r.getString(2), r.getLong(3),
            Option(r.getAs[Array[Byte]]("value")).map(_.toSeq))
        }.toSet
      val want = refResolve(log, desc, nowUs, snapshot)
      assert(got == want,
        s"trial $trial mismatch (n=$n desc=$desc snap=$snapshot)\n" +
          s"only-spark: ${got -- want}\nonly-ref: ${want -- got}")
    }
  }

  test("bucketed and flat layouts resolve identically on random logs") {
    import spark.implicits._
    val rng = new scala.util.Random(20260813L)
    (1 to 3).foreach { trial =>
      val log = randomLog(rng, 30 + rng.nextInt(30))
      val desc = TableDesc(CfSpec(maxVersions = 1 + rng.nextInt(3)))
      // split into two appends: the bucketed path must stay correct
      // across multi-commit logs (multiple files per bucket)
      val (b1, b2) = log.splitAt(log.size / 2)
      def build(desc: TableDesc): GraftTable = {
        val dir = java.nio.file.Files
          .createTempDirectory(s"fuzz-layout$trial").toString
        val t = Graft.createTable(spark, dir, desc)
        t.put(b1.toDF()); t.put(b2.toDF())
        t
      }
      def cellSet(t: GraftTable): Set[(String, String, String, Long, Option[Seq[Byte]])] =
        t.cells(nowUs = 6000000L).collect().map { r =>
          (r.getString(0), r.getString(1), r.getString(2), r.getLong(3),
            Option(r.getAs[Array[Byte]]("value")).map(_.toSeq))
        }.toSet
      val flat = cellSet(build(desc))
      val bucketed = cellSet(build(desc.copy(buckets = 8)))
      assert(flat == bucketed, s"trial $trial layout divergence\n" +
        s"only-flat: ${flat -- bucketed}\nonly-bucketed: ${bucketed -- flat}")
    }
  }

  /** Restricted-op generator exercising the counter folds (the pure
    * sum and the streamed fold): mixes of {Add}, {AddInt64}, {Value, Add},
    * {Value, AddInt64}, optionally with deletes, and VALUE seeds that are
    * canonical 8-byte ints half the time and arbitrary strings the other
    * half (the general fold passes a trailing VALUE's bytes through
    * verbatim — every form must too).
    */
  private def counterMixLog(rng: scala.util.Random, n: Int,
      mix: Seq[Int]): Seq[CellOp] = {
    val seqs = rng.shuffle((1L to n.toLong).toList)
    (0 until n).map { i =>
      val op = mix(rng.nextInt(mix.size))
      val value: Array[Byte] = op match {
        case Value =>
          if (rng.nextBoolean()) Codecs.encodeBE64(rng.nextInt(1000).toLong)
          else s"seed$i".getBytes("UTF-8")
        case Add => Codecs.encodeBE64(rng.nextInt(100).toLong - 50)
        case AddInt64 => Codecs.encodeLE64(rng.nextInt(100).toLong - 50)
        case _ => null
      }
      CellOp(s"r${rng.nextInt(3)}", s"cf${rng.nextInt(2)}", s"q${rng.nextInt(2)}",
        (rng.nextInt(5) + 1).toLong * 1000000L, op, value, seqs(i))
    }
  }

  test("counter fast paths == reference resolver on restricted-op logs") {
    import spark.implicits._
    val rng = new scala.util.Random(826L)
    val mixes: Seq[Seq[Int]] = Seq(
      Seq(Add), Seq(AddInt64),
      Seq(Value, Add), Seq(Value, AddInt64),
      Seq(Value, Add, DelRow), Seq(Value, AddInt64, DelQualifiers))
    (1 to 30).foreach { trial =>
      val mix = mixes(trial % mixes.size)
      val n = 10 + rng.nextInt(40)
      val log = counterMixLog(rng, n, mix)
      val desc = TableDesc(CfSpec(maxVersions = 1 + rng.nextInt(3)))
      val snapshot = if (trial % 4 == 0) Some(n.toLong / 2) else None
      val got = Resolve.resolve(log.toDF(), desc, snapshotSeq = snapshot,
          opsPresent = Some(mix.toSet))
        .collect().map { r =>
          (r.getString(0), r.getString(1), r.getString(2), r.getLong(3),
            Option(r.getAs[Array[Byte]]("value")).map(_.toSeq))
        }.toSet
      val want = refResolve(log, desc, Long.MaxValue, snapshot)
      assert(got == want,
        s"trial $trial mix=$mix mismatch (n=$n snap=$snapshot)\n" +
          s"only-spark: ${got -- want}\nonly-ref: ${want -- got}")
    }
  }

  /** [[CellFold.row]] over every row of `log`, as reference tuples. */
  private def foldRows(log: Seq[CellOp], desc: TableDesc, nowUs: Long,
      snapshot: Option[Long], present: Option[Set[Int]] = None)
      : Set[(String, String, String, Long, Option[Seq[Byte]])] =
    log.groupBy(_.row_key).toSeq.flatMap { case (row, ops) =>
      CellFold.row(ops.map(o => CellFold.Op(o.cf, o.qualifier, o.ts, o.op, o.value, o.seq)),
          desc, nowUs, snapshot, present)
        .map(c => (row, c.cf, c.qualifier, c.ts, Option(c.value).map(_.toSeq)))
    }.toSet

  /** The knobs of the first fuzz test: version caps, min_versions, TTL
    * and a per-CF cap. */
  private def randomDesc(rng: scala.util.Random): TableDesc = TableDesc(
    CfSpec(
      maxVersions = 1 + rng.nextInt(3),
      minVersions = rng.nextInt(2),
      ttlSec = if (rng.nextBoolean()) 0L else 3L),
    cfs = if (rng.nextBoolean()) Map("cf1" -> CfSpec(maxVersions = 2)) else Map.empty)

  test("CellFold == reference resolver on random and counter-mix logs") {
    val rng = new scala.util.Random(20261018L)
    (1 to 200).foreach { trial =>
      val n = 10 + rng.nextInt(40)
      val log = randomLog(rng, n)
      val desc = randomDesc(rng)
      val snapshot = if (rng.nextInt(4) == 0) Some(n.toLong / 2) else None
      val got = foldRows(log, desc, 6000000L, snapshot)
      val want = refResolve(log, desc, 6000000L, snapshot)
      assert(got == want, s"trial $trial (n=$n desc=$desc snap=$snapshot)\n" +
        s"only-fold: ${got -- want}\nonly-ref: ${want -- got}")
    }
    val mixes: Seq[Seq[Int]] = Seq(
      Seq(Add), Seq(AddInt64), Seq(Value, Add), Seq(Value, AddInt64),
      Seq(Value, Add, DelRow), Seq(Value, AddInt64, DelQualifiers))
    (1 to 60).foreach { trial =>
      val mix = mixes(trial % mixes.size)
      val n = 10 + rng.nextInt(40)
      val log = counterMixLog(rng, n, mix)
      val desc = TableDesc(CfSpec(maxVersions = 1 + rng.nextInt(3)))
      val snapshot = if (trial % 4 == 0) Some(n.toLong / 2) else None
      val got = foldRows(log, desc, Long.MaxValue, snapshot, Some(mix.toSet))
      val want = refResolve(log, desc, Long.MaxValue, snapshot)
      assert(got == want, s"trial $trial mix=$mix (n=$n snap=$snapshot)\n" +
        s"only-fold: ${got -- want}\nonly-ref: ${want -- got}")
    }
    // a declared op-set drops ops outside it, as resolve's steps do
    val log = Seq(
      CellOp("r", "cf", "q", 1L, Value, "a".getBytes, 1L),
      CellOp("r", "cf", "q", 2L, DelRow, null, 2L))
    assert(foldRows(log, TableDesc(), Long.MaxValue, None).isEmpty)
    assert(foldRows(log, TableDesc(), Long.MaxValue, None, Some(Set(Value))).size == 1)
    // a TTL whose microseconds overflow raises, on both folds
    val overflowing = TableDesc(CfSpec(ttlSec = Long.MaxValue / 1000))
    val live = log.take(1)
    intercept[ArithmeticException](foldRows(live, overflowing, Long.MaxValue, None))
    import spark.implicits._
    val e = intercept[Exception](Resolve.resolve(live.toDF(), overflowing).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[ArithmeticException]), e)
  }

  test("bucketed get: driver collect == distributed get == resolve, by key mode") {
    val session = spark
    import session.implicits._
    val rng = new scala.util.Random(20261019L)
    type Cells = Set[(String, String, Long, Option[Seq[Byte]], Long)]
    def cells(rows: Array[org.apache.spark.sql.Row]): Cells = rows.map { r =>
      (r.getString(1), r.getString(2), r.getLong(3),
        Option(r.getAs[Array[Byte]]("value")).map(_.toSeq), r.getLong(5))
    }.toSet
    for (mode <- Seq("string", "binary", "hashed"); trial <- 1 to 4) {
      val log = randomLog(rng, 30 + rng.nextInt(40))
      val base = randomDesc(rng)
      val desc = mode match {
        case "binary" => base.copy(buckets = 2, rawKeyBinary = true)
        case "hashed" => base.copy(buckets = 2, hashKeys = true)
        case _ => base.copy(buckets = 2)
      }
      // a binary key that is not UTF-8
      def binKey(row: String): Array[Byte] = Array[Byte](-1, 0) ++ row.getBytes("UTF-8")
      val dir = java.nio.file.Files.createTempDirectory(s"fuzz-get-$mode").toString
      val t = Graft.createTable(spark, dir, desc,
        ops = if (trial % 2 == 0) Some((0 to 8).toSet) else None)
      // three appends: several files per bucket
      log.grouped(log.size / 3 + 1).foreach { part =>
        t.put(if (mode != "binary") part.toDF()
          else part.map(o => (binKey(o.row_key), o.cf, o.qualifier, o.ts, o.op, o.value, o.seq))
            .toDF("row_key", "cf", "qualifier", "ts", "op", "value", "seq"))
      }
      Seq("r0", "r1", "r2", "absent").foreach { row =>
        val frame = if (mode == "binary") t.get(binKey(row)) else t.get(row)
        val key = if (mode == "binary") lit(binKey(row)) else lit(t.storageKey(row))
        val driver = cells(frame.collect())
        val what = s"$mode trial $trial row $row desc=$desc"
        assert(driver == cells(frame.rdd.collect()), what)
        assert(driver.size == frame.count(), what)
        assert(driver == cells(t.cells().where(col("row_key") === key).collect()), what)
        val want = refResolve(log.filter(_.row_key == row), desc, Long.MaxValue, None)
        assert(driver.map(c => (c._1, c._2, c._3, c._4)) ==
          want.map(c => (c._2, c._3, c._4, c._5)), what)
      }
    }
  }

  test("bucketed snapshot get: driver collect == rdd == count == reference, by key mode") {
    val session = spark
    import session.implicits._
    val rng = new scala.util.Random(20261020L)
    type Cells = Set[(String, String, Long, Option[Seq[Byte]])]
    def cells(rows: Array[org.apache.spark.sql.Row]): Cells = rows.map { r =>
      (r.getString(1), r.getString(2), r.getLong(3),
        Option(r.getAs[Array[Byte]]("value")).map(_.toSeq))
    }.toSet
    for (mode <- Seq("string", "binary", "hashed"); trial <- 1 to 3) {
      val log = randomLog(rng, 30 + rng.nextInt(40))
      val base = randomDesc(rng)
      val desc = mode match {
        case "binary" => base.copy(buckets = 2, rawKeyBinary = true)
        case "hashed" => base.copy(buckets = 2, hashKeys = true)
        case _ => base.copy(buckets = 2)
      }
      def binKey(row: String): Array[Byte] = Array[Byte](-1, 0) ++ row.getBytes("UTF-8")
      val dir = java.nio.file.Files.createTempDirectory(s"fuzz-snap-$mode").toString
      val t = Graft.createTable(spark, dir, desc,
        ops = if (trial % 2 == 0) Some((0 to 8).toSet) else None)
      log.grouped(log.size / 3 + 1).foreach { part =>
        t.put(if (mode != "binary") part.toDF()
          else part.map(o => (binKey(o.row_key), o.cf, o.qualifier, o.ts, o.op, o.value, o.seq))
            .toDF("row_key", "cf", "qualifier", "ts", "op", "value", "seq"))
      }
      for (row <- Seq("r0", "r1", "r2", "absent"); _ <- 1 to 3) {
        val snap = rng.nextLong(log.size + 2L)
        val key = if (mode == "binary") lit(binKey(row)) else lit(t.storageKey(row))
        val frame = t.snapshot(snap).where(col("row_key") === key)
        val what = s"$mode trial $trial row $row snapshot $snap desc=$desc"
        val (driver, jobs) = JobCount.during(spark)(cells(frame.collect()))
        assert(jobs == 0, s"$what: driver collect ran $jobs jobs")
        assert(driver == cells(frame.rdd.collect()), what)
        assert(driver.size == frame.count(), what)
        val want = refResolve(log.filter(_.row_key == row), desc, Long.MaxValue, Some(snap))
        assert(driver == want.map(c => (c._2, c._3, c._4, c._5)), what)
      }
    }
  }

  /** Spark resolve, as reference tuples. `strategy` "window" reads the
    * log clustered on row_key, which takes the window tombstone
    * strategy; any other value reads it as is (a small log: join). */
  private def sparkCells(log: Seq[CellOp], desc: TableDesc = TableDesc(),
      ops: Option[Set[Int]] = None, strategy: String = "auto")
      : Set[(String, String, String, Long, Option[Seq[Byte]])] = {
    import spark.implicits._
    val input = if (strategy == "window") log.toDF().repartition(col("row_key")) else log.toDF()
    Resolve.resolve(input, desc, opsPresent = ops)
      .collect().map { r =>
        (r.getString(0), r.getString(1), r.getString(2), r.getLong(3),
          Option(r.getAs[Array[Byte]]("value")).map(_.toSeq))
      }.toSet
  }

  test("a cell at ts = Long.MinValue survives a tombstone of another row") {
    val log = Seq(
      CellOp("r", "cf", "q", Long.MinValue, Value, "v".getBytes, 1L),
      CellOp("s", "cf", "q", 5L, Value, "w".getBytes, 2L),
      CellOp("s", "", "", 9L, DelRow, null, 3L),
      CellOp("t", "cf", "q", Long.MinValue, Value, "x".getBytes, 4L),
      CellOp("t", "cf", "", Long.MinValue, DelColumn, null, 5L))
    val want = refResolve(log, TableDesc(), Long.MaxValue, None)
    assert(want.map(_._1) == Set("r"))
    Seq("window", "join").foreach { strategy =>
      assert(sparkCells(log, strategy = strategy) == want, strategy)
    }
    // a bucketed get: the driver fold and the distributed plan agree
    val dir = java.nio.file.Files.createTempDirectory("fuzz-min-ts").toString
    val t = Graft.createTable(spark, dir, TableDesc(buckets = 2),
      Some(Set(Value, DelRow, DelColumn)))
    t.put(log)
    Seq("r", "s", "t").foreach { k =>
      assert(t.get(k).collect().length == t.get(k).count(), k)
    }
    assert(t.get("r").count() == 1)
  }

  test("counter fast paths == CellFold on null operands and overflow") {
    import spark.implicits._
    val be = Codecs.encodeBE64 _
    val le = Codecs.encodeLE64 _
    // a null operand resets the fold to null; later adds count from zero
    val logs: Seq[(Set[Int], Seq[CellOp])] = Seq(
      Set(Add) -> Seq(CellOp("r", "cf", "q", 1L, Add, be(5L), 1L),
        CellOp("r", "cf", "q", 2L, Add, null, 2L)),
      Set(Add) -> Seq(CellOp("r", "cf", "q", 1L, Add, be(5L), 1L),
        CellOp("r", "cf", "q", 2L, Add, null, 2L),
        CellOp("r", "cf", "q", 3L, Add, be(3L), 3L),
        CellOp("r", "cf", "p", 1L, Add, be(7L), 4L)),
      Set(AddInt64) -> Seq(CellOp("r", "cf", "q", 2L, AddInt64, null, 1L),
        CellOp("r", "cf", "q", 1L, AddInt64, le(4L), 2L)),
      Set(Value, Add) -> Seq(CellOp("r", "cf", "q", 1L, Value, be(10L), 1L),
        CellOp("r", "cf", "q", 2L, Add, be(1L), 2L),
        CellOp("r", "cf", "q", 3L, Add, null, 3L)),
      Set(Value, AddInt64) -> Seq(CellOp("r", "cf", "q", 1L, Value, le(10L), 1L),
        CellOp("r", "cf", "q", 2L, AddInt64, null, 2L),
        CellOp("r", "cf", "q", 3L, AddInt64, le(6L), 3L)))
    logs.foreach { case (ops, log) =>
      val want = refResolve(log, TableDesc(), Long.MaxValue, None)
      assert(sparkCells(log, ops = Some(ops)) == want, log)
      assert(foldRows(log, TableDesc(), Long.MaxValue, None, Some(ops)) == want, log)
    }
    // the probe case: a 2-bucket {Add} table, collected and distributed
    val dir = java.nio.file.Files.createTempDirectory("fuzz-null-add").toString
    val t = Graft.createTable(spark, dir, TableDesc(buckets = 2), Some(Set(Add)))
    t.put(logs.head._2)
    val collected = t.get("r").collect().map(r => Option(r.getAs[Array[Byte]]("value")))
    val distributed = t.get("r").rdd.collect().map(r => Option(r.getAs[Array[Byte]]("value")))
    assert(collected.toSeq == Seq(None) && distributed.toSeq == Seq(None))
    // a sum past the long range raises in every form
    def raises(body: => Any): Boolean = {
      val e = intercept[Throwable](body)
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[ArithmeticException])
    }
    Seq(Set(Add) -> Seq(CellOp("r", "cf", "q", 1L, Add, be(Long.MaxValue), 1L),
        CellOp("r", "cf", "q", 2L, Add, be(1L), 2L)),
      Set(Value, Add) -> Seq(CellOp("r", "cf", "q", 1L, Value, be(Long.MaxValue), 1L),
        CellOp("r", "cf", "q", 2L, Add, be(1L), 2L)),
      Set(AddInt64, Append) -> Seq(
        CellOp("r", "cf", "q", 1L, AddInt64, le(Long.MaxValue), 1L),
        CellOp("r", "cf", "q", 2L, AddInt64, le(1L), 2L))).foreach { case (ops, log) =>
      assert(raises(sparkCells(log, ops = Some(ops))), log)
      assert(raises(foldRows(log, TableDesc(), Long.MaxValue, None, Some(ops))), log)
      assert(raises(refResolve(log, TableDesc(), Long.MaxValue, None)), log)
    }
    // random counter mixes with null operands
    val rng = new scala.util.Random(20261020L)
    val mixes = Seq(Seq(Add), Seq(AddInt64), Seq(Value, Add), Seq(Value, AddInt64))
    (1 to 16).foreach { trial =>
      val mix = mixes(trial % mixes.size)
      val log = counterMixLog(rng, 10 + rng.nextInt(30), mix).map(o =>
        if (o.op != Value && rng.nextInt(5) == 0) o.copy(value = null) else o)
      val want = refResolve(log, TableDesc(), Long.MaxValue, None)
      assert(sparkCells(log, ops = Some(mix.toSet)) == want, s"trial $trial mix=$mix")
      assert(foldRows(log, TableDesc(), Long.MaxValue, None, Some(mix.toSet)) == want,
        s"trial $trial mix=$mix")
    }
    // the null-reset pass keeps the pure sum one map-side-combined aggregate
    val plan = Resolve.resolve(logs.head._2.toDF(), opsPresent = Some(Set(Add)))
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_sum") && !plan.contains("Window"), plan)
  }

  test("bucketed {Value, Add} table with a null operand: every read agrees with the reference") {
    val be = Codecs.encodeBE64 _
    val log = Seq(
      CellOp("r", "cf", "q", 1L, Value, be(10L), 1L),
      CellOp("r", "cf", "q", 2L, Add, be(1L), 2L),
      CellOp("r", "cf", "q", 3L, Add, null, 3L),
      CellOp("r", "cf", "q", 4L, Add, be(4L), 4L),
      CellOp("r", "cf", "p", 1L, Add, be(7L), 5L),
      CellOp("r", "cf", "v", 1L, Value, "plain".getBytes, 6L),
      CellOp("s", "cf", "q", 1L, Value, be(3L), 7L),
      CellOp("s", "cf", "q", 2L, Add, be(2L), 8L),
      CellOp("s", "cf", "n", 1L, Add, null, 9L))
    val dir = java.nio.file.Files.createTempDirectory("fuzz-value-add").toString
    val t = Graft.createTable(spark, dir, TableDesc(buckets = 2), Some(Set(Value, Add)))
    t.put(log)
    def cells(rows: Array[org.apache.spark.sql.Row]) = rows.map { r =>
      (r.getString(0), r.getString(1), r.getString(2), r.getLong(3),
        Option(r.getAs[Array[Byte]]("value")).map(_.toSeq))
    }.toSet
    Seq("r", "s", "absent").foreach { k =>
      val driver = cells(t.get(k).collect())
      assert(driver == cells(t.get(k).rdd.collect()), k)
      assert(driver == cells(t.cells().where(col("row_key") === k).collect()), k)
      assert(driver == refResolve(log.filter(_.row_key == k), TableDesc(), Long.MaxValue, None), k)
    }
    // the streamed fold reads the bucketed scan with no exchange
    val plan = t.cells().queryExecution.executedPlan.toString
    assert(plan.contains("MapGroups"), plan)
    assert(!plan.contains("Exchange hashpartitioning"), plan)
  }
}
