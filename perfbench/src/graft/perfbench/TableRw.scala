package graft.perfbench

import scala.collection.immutable.TreeMap
import scala.collection.mutable
import scala.util.Random

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThanOrEqual, LessThan}
import org.apache.spark.sql.types._

import graft.sources.{ManifestStore => M, Materialized}

final case class RwRow(key: Long, grp: Int, v: Long, note: String) {
  def hash: Long = Fingerprint.hash64(s"$key|$grp|$v|$note")
  def toRow: Row = Row(key, grp, v, note)
}

object RwRow {
  val schema: StructType = StructType(Seq(
    StructField("key", LongType, nullable = false),
    StructField("grp", IntegerType, nullable = false),
    StructField("val", LongType, nullable = false),
    StructField("note", StringType, nullable = false)))

  def of(r: Row): RwRow =
    RwRow(r.getAs[Long]("key"), r.getAs[Int]("grp"), r.getAs[Long]("val"), r.getAs[String]("note"))

  /** (row count, wrapping hash sum): the order-insensitive summary every
    * table read is compared on.
    */
  def summary(rows: Iterable[RwRow]): (Long, Long) =
    (rows.size.toLong, rows.foldLeft(0L)(_ + _.hash))
}

/** In-memory model of the table: the live rows by key, and the summary of
  * every committed version, so reads of any version can be checked
  * without keeping that version's rows.
  */
final class Shadow {
  private var live = TreeMap.empty[Long, RwRow]
  private var hashSum = 0L
  val versions = mutable.LinkedHashMap.empty[Long, (Long, Long)]

  def rows: TreeMap[Long, RwRow] = live
  def summary: (Long, Long) = (live.size.toLong, hashSum)

  private def put(r: RwRow): Unit = {
    live.get(r.key).foreach(o => hashSum -= o.hash)
    live += r.key -> r
    hashSum += r.hash
  }

  private def remove(k: Long): Unit = live.get(k).foreach { o =>
    hashSum -= o.hash
    live -= k
  }

  /** Insert-or-replace by key; returns the rows changed. */
  def upsert(rs: Seq[RwRow]): Int = { rs.foreach(put); rs.size }

  def deleteRange(a: Long, b: Long): Int = {
    val ks = range(a, b).map(_.key).toSeq
    ks.foreach(remove)
    ks.size
  }

  def updateRange(a: Long, b: Long)(f: RwRow => RwRow): Int = {
    val rs = range(a, b).toSeq
    rs.foreach(r => put(f(r)))
    rs.size
  }

  def range(a: Long, b: Long): Iterable[RwRow] = live.range(a, b).values

  def commit(version: Long): Unit = versions(version) = summary

  /** Replace the live rows with what the table holds (after a failed
    * write, whose effect the model cannot know).
    */
  def resync(rows: Seq[RwRow], version: Long): Unit = {
    live = TreeMap(rows.map(r => r.key -> r): _*)
    hashSum = rows.foldLeft(0L)(_ + _.hash)
    commit(version)
  }

  /** Group-by-`grp` count and sum of `val`, as the maintained view holds it. */
  def groups: Map[Int, (Long, Long)] =
    live.values.groupBy(_.grp).map { case (g, rs) => g -> (rs.size.toLong, rs.map(_.v).sum) }
}

/** One op of the `table_rw` stream. */
sealed trait RwOp {
  def kind: String
  def write: Boolean = true
  /** Drawn from a deck, as opposed to scheduled maintenance. */
  def inDeck: Boolean = this != RwOp.Compact && this != RwOp.Vacuum
}
object RwOp {
  final case class Append(rows: Seq[RwRow]) extends RwOp { val kind = "append" }
  final case class Upsert(rows: Seq[RwRow], mor: Boolean) extends RwOp {
    val kind: String = if (mor) "upsert_mor" else "upsert_cow"
  }
  final case class Delete(a: Long, b: Long, mor: Boolean) extends RwOp {
    val kind: String = if (mor) "delete_mor" else "delete_cow"
  }
  /** `stmt` is one of merge, update, delete. */
  final case class SqlDml(stmt: String, a: Long, b: Long, rows: Seq[RwRow]) extends RwOp {
    val kind = "sql_dml"
  }
  final case class StreamBatch(batchId: Long, rows: Seq[RwRow], redelivery: Boolean)
      extends RwOp { val kind = "stream_batch" }
  final case class ReadPoint(key: Long) extends RwOp {
    val kind = "read_point"; override val write = false
  }
  final case class ReadRange(a: Long, b: Long) extends RwOp {
    val kind = "read_range"; override val write = false
  }
  final case class ReadVersion(v: Long) extends RwOp {
    val kind = "read_version"; override val write = false
  }
  final case class Changes(from: Long) extends RwOp {
    val kind = "changes"; override val write = false
  }
  case object IvmRefresh extends RwOp { val kind = "ivm_refresh" }
  case object Compact extends RwOp { val kind = "compact" }
  case object Vacuum extends RwOp { val kind = "vacuum" }

  val allKinds: Seq[String] = RwGen.DeckKinds.distinct ++ Seq("compact", "vacuum")
}

/** The seeded op stream. Each op is drawn from the model's state, so the
  * whole stream is a function of the seed as long as the table answers
  * correctly. Kinds come in decks: every [[RwGen.Deck]]-sized block runs
  * [[RwGen.DeckKinds]] in that order, so every run measures the same mix
  * along the same sequence of paths, and the first block, the warm-up,
  * touches every path; the seed picks the rows, keys and versions. `compact`
  * and `vacuum` are scheduled every [[RwGen.CompactEvery]] and
  * [[RwGen.VacuumEvery]] writes.
  */
final class RwGen(seed: Long) {
  import RwGen._
  private val rnd = new Random(seed)
  private var nextKey = 0L
  private var nextBatch = 0L
  private var lastBatch: Option[(Long, Seq[RwRow])] = None
  private var sinceCompact = 0
  private var sinceVacuum = 0
  private var streamOps = 0
  private var dmlOps = 0
  private var opNo = 0
  private var deck: List[String] = Nil

  /** True between decks: every kind of the last deck has been drawn. */
  def deckDone: Boolean = deck.isEmpty

  /** Rows with fresh keys (the table is keyed: appends never collide). */
  def fresh(n: Int): Seq[RwRow] = (0 until n).map { _ =>
    nextKey += 1
    RwRow(nextKey - 1, rnd.nextInt(Groups), rnd.nextInt(1000000).toLong, s"o$opNo")
  }

  /** One of the last [[RwGen.KeyWindow]] issued keys, skewed towards the
    * most recent ones.
    */
  def skewedKey(): Long =
    if (nextKey == 0) 0L
    else nextKey - 1 -
      math.floor(math.min(nextKey, KeyWindow) * math.pow(rnd.nextDouble(), 3)).toLong

  private def updates(n: Int): Seq[RwRow] = {
    val old = Iterator.continually(skewedKey()).take(n * 3 / 4).toSeq.distinct
      .map(k => RwRow(k, rnd.nextInt(Groups), rnd.nextInt(1000000).toLong, s"o$opNo"))
    old ++ fresh(n - old.size)
  }

  private def pick(): String = {
    if (deck.isEmpty) deck = DeckKinds.toList
    val k = deck.head
    deck = deck.tail
    k
  }

  /** `readable` are the versions a read may name, oldest first; `cowFloor`
    * the newest copy-on-write commit, which the change feed cannot span,
    * so `changes` reads the longest feed it can: from there.
    */
  def next(readable: Seq[Long], cowFloor: Long): RwOp = {
    opNo += 1
    val op =
      if (sinceCompact >= CompactEvery) { sinceCompact = 0; RwOp.Compact }
      else if (sinceVacuum >= VacuumEvery) { sinceVacuum = 0; RwOp.Vacuum }
      else pick() match {
        case "append" => RwOp.Append(fresh(AppendRows))
        case "upsert_cow" => RwOp.Upsert(updates(UpsertRows), mor = false)
        case "upsert_mor" => RwOp.Upsert(updates(UpsertRows), mor = true)
        case "delete_cow" => val a = skewedKey(); RwOp.Delete(a, a + DeleteWidth, mor = false)
        case "delete_mor" => val a = skewedKey(); RwOp.Delete(a, a + DeleteWidth, mor = true)
        case "sql_dml" =>
          val a = skewedKey()
          dmlOps += 1
          Seq("merge", "update", "delete")(dmlOps % 3) match {
            case "merge" => RwOp.SqlDml("merge", 0, 0, updates(UpsertRows))
            case s => RwOp.SqlDml(s, a, a + DeleteWidth, Nil)
          }
        case "stream_batch" =>
          streamOps += 1
          lastBatch match {
            case Some((id, rows)) if streamOps % RedeliverEvery == 0 =>
              RwOp.StreamBatch(id, rows, redelivery = true)
            case _ =>
              nextBatch += 1
              val rows = fresh(BatchRows)
              lastBatch = Some(nextBatch -> rows)
              RwOp.StreamBatch(nextBatch, rows, redelivery = false)
          }
        case "read_point" => RwOp.ReadPoint(skewedKey())
        case "read_range" => val a = skewedKey(); RwOp.ReadRange(a, a + RangeWidth)
        case "read_version" => RwOp.ReadVersion(readable(rnd.nextInt(readable.size)))
        case "changes" => RwOp.Changes(readable.find(_ >= cowFloor).get)
        case "ivm_refresh" => RwOp.IvmRefresh
      }
    op match {
      case RwOp.Compact | RwOp.Vacuum | RwOp.IvmRefresh =>
      case o if o.write => sinceCompact += 1; sinceVacuum += 1
      case _ =>
    }
    op
  }
}

object RwGen {
  /** The kinds of one deck, in the order they run: 13 writes (the view
    * refreshes included) and 8 reads, interleaved. The first view refresh
    * follows the deck's copy-on-write commits, which the change feed cannot
    * span, so it rebuilds the view; the second follows only appends and
    * merge-on-read commits, so it maintains the view incrementally.
    * Shuffling the kinds instead made whole runs of one seed faster or
    * slower than another's: which kinds precede a view refresh or a change
    * feed read decides how much they do.
    */
  val DeckKinds: Seq[String] = Seq("append", "read_point", "upsert_cow", "read_range",
    "delete_cow", "ivm_refresh", "read_version", "stream_batch", "read_point", "upsert_mor",
    "changes", "sql_dml", "read_range", "append", "delete_mor", "read_point", "upsert_mor",
    "read_version", "sql_dml", "stream_batch", "ivm_refresh")
  val Deck: Int = DeckKinds.size
  val Groups = 16
  val KeyWindow = 2000L
  val InitialRows = 2000
  val AppendRows = 200
  val BatchRows = 100
  val UpsertRows = 40
  val DeleteWidth = 12L
  val RangeWidth = 200L
  val RedeliverEvery = 3L
  val CompactEvery = 20
  val VacuumEvery = 30
  /** Versions vacuum keeps: more than the 40 snapshots ManifestStore
    * caches, so reads of old versions miss that cache and recent ones hit.
    */
  val KeepVersions = 56
  /** Compaction target, small enough that the table stays several files. */
  val CompactFileBytes: Long = 32L << 10
}

/** The `table_rw` workload: one client runs a seeded mix of writes and
  * reads against one growing manifest table and checks every read, and
  * a final full read from a fresh session, against the [[Shadow]].
  */
final class TableRw(seed: Long) {
  private val appId = "perfbench-stream"
  private val viewAppId = "perfbench-ivm"
  var root: String = _
  var viewRoot: String = _
  var shadow = new Shadow
  private var gen = new RwGen(seed)
  private var oldestReadable = 0L
  private var cowFloor = 0L
  private var ivmBase = -1L
  private var setups = 0
  private var views = 0
  /** Bytes of the data and deletion-vector files the writes added to the
    * table, and the rows they changed (recorded only when `trackWrites` is
    * on). Files are told apart by the snapshot's own file list.
    */
  var trackWrites = false
  var bytesWritten = 0L
  var rowsChanged = 0L
  private var knownFiles = Set.empty[String]

  private def df(spark: SparkSession, rows: Seq[RwRow]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.map(_.toRow): _*), RwRow.schema)

  private def latest(spark: SparkSession): Long = M.latestSnapshot(spark, root).get.version

  /** Register the table for SQL DML in the current session's catalog. */
  def register(spark: SparkSession): Unit = {
    spark.sql("DROP TABLE IF EXISTS perfbench_rw")
    spark.sql(s"CREATE TABLE perfbench_rw USING `graft-manifest` OPTIONS (path '$root')")
  }

  /** One setup: a new table holding the initial rows, and a fresh model
    * and op stream. Earlier setups' tables stay on disk, unused.
    */
  def prepare(ctx: Ctx): Unit = {
    val spark = ctx.spark
    setups += 1
    root = s"${ctx.scratch}/table_rw/t$setups"
    shadow = new Shadow
    gen = new RwGen(seed)
    oldestReadable = 0L; cowFloor = 0L; ivmBase = -1L
    val init = gen.fresh(RwGen.InitialRows)
    val v = M.append(spark, df(spark, init), root)
    shadow.upsert(init)
    shadow.commit(v)
    register(spark)
  }

  def readable: Seq[Long] = shadow.versions.keys.filter(_ >= oldestReadable).toSeq

  def nextOp(): RwOp = gen.next(readable, cowFloor)

  def deckDone: Boolean = gen.deckDone

  def run(ctx: Ctx, op: RwOp): OpResult = {
    val group = op match {
      case _: RwOp.StreamBatch => "streaming.batch"
      case o => s"sources.${o.kind}"
    }
    val r = ctx.op(op.kind, group, op.write)(exec(ctx, op))
    if (!r.ok && op.write && op != RwOp.IvmRefresh) {
      val spark = ctx.spark
      shadow.resync(M.read(spark, root).collect().map(RwRow.of).toSeq, latest(spark))
    }
    r
  }

  private def committed(spark: SparkSession, v: Long, changed: Int): () => Unit = {
    if (v < 0) throw new Mismatch("the write was abandoned with no concurrent writer")
    shadow.commit(v)
    () => if (trackWrites) track(spark, changed)
  }

  private def track(spark: SparkSession, changed: Int): Unit = {
    val files = M.latestSnapshot(spark, root).get.files
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val added = files.filterNot(f => knownFiles(f.path))
    val addedDvs = files.flatMap(_.dv.map(_.path)).filterNot(knownFiles).distinct
    bytesWritten += added.map(_.bytes).sum +
      addedDvs.map(p => fs.getFileStatus(new Path(new Path(root), p)).getLen).sum
    knownFiles ++= added.map(_.path) ++ addedDvs
    rowsChanged += changed
  }

  private def filtersOf(a: Long, b: Long): Seq[Filter] =
    Seq(GreaterThanOrEqual("key", a), LessThan("key", b))

  private def expectRows(what: String, got: Array[Row], want: Iterable[RwRow]): Unit = {
    val g = RwRow.summary(got.map(RwRow.of))
    val w = RwRow.summary(want)
    if (g != w) throw new Mismatch(s"$what: got ${g._1} rows, expected ${w._1} (or row hashes differ)")
  }

  private def exec(ctx: Ctx, op: RwOp): () => Unit = {
    val spark = ctx.spark
    import RwOp._
    op match {
      case Append(rows) =>
        val v = M.append(spark, df(spark, rows), root)
        committed(spark, v, shadow.upsert(rows))
      case Upsert(rows, mor) =>
        val (_, _, v) =
          if (mor) M.upsertByKeyMergeOnRead(spark, root, df(spark, rows), Seq("key"))
          else M.upsertByKey(spark, root, df(spark, rows), Seq("key"))
        if (!mor) cowFloor = math.max(cowFloor, v)
        committed(spark, v, shadow.upsert(rows))
      case Delete(a, b, mor) =>
        val (_, _, v) =
          if (mor) M.deleteWhereMergeOnRead(spark, root, filtersOf(a, b))
          else M.deleteWhere(spark, root, filtersOf(a, b))
        if (!mor) cowFloor = math.max(cowFloor, v)
        committed(spark, v, shadow.deleteRange(a, b))
      case SqlDml(stmt, a, b, rows) =>
        val changed = stmt match {
          case "merge" =>
            df(spark, rows).createOrReplaceTempView("perfbench_rw_src")
            spark.sql("""MERGE INTO perfbench_rw t USING perfbench_rw_src s ON t.key = s.key
                        |WHEN MATCHED THEN UPDATE SET *
                        |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
            shadow.upsert(rows)
          case "update" =>
            spark.sql(s"UPDATE perfbench_rw SET val = val + 1 WHERE key >= $a AND key < $b")
              .collect()
            shadow.updateRange(a, b)(r => r.copy(v = r.v + 1))
          case "delete" =>
            spark.sql(s"DELETE FROM perfbench_rw WHERE key >= $a AND key < $b").collect()
            shadow.deleteRange(a, b)
        }
        committed(spark, latest(spark), changed)
      case StreamBatch(id, rows, redelivery) =>
        val v = M.appendBatch(spark, df(spark, rows), root, appId, id)
        committed(spark, v, if (redelivery) 0 else shadow.upsert(rows))
      case ReadPoint(k) =>
        val got = M.readWhere(spark, root, Seq(EqualTo("key", k))).collect()
        val want = shadow.rows.get(k)
        () => expectRows(s"read_point key=$k", got, want)
      case ReadRange(a, b) =>
        val got = M.readWhere(spark, root, filtersOf(a, b)).collect()
        val want = shadow.range(a, b).toSeq
        () => expectRows(s"read_range [$a,$b)", got, want)
      case ReadVersion(v) =>
        val got = M.readVersion(spark, root, v).collect()
        val want = shadow.versions(v)
        () => {
          val g = RwRow.summary(got.map(RwRow.of))
          if (g != want) throw new Mismatch(s"read_version v=$v: got ${g._1} rows, expected ${want._1}")
        }
      case Changes(from) =>
        val (cur, feed) = M.readChangesSince(spark, root, from)
        val rows = feed.collect()
        () => {
          val ct = M.ChangeTypeCol
          var n = 0L
          var h = 0L
          rows.foreach { r =>
            val sign = r.getAs[String](ct) match {
              case "insert" => 1
              case "delete" => -1
              case other => throw new Mismatch(s"changes: unexpected change type $other")
            }
            n += sign; h += sign * RwRow.of(r).hash
          }
          val (n1, h1) = shadow.versions(cur)
          val (n0, h0) = shadow.versions(from)
          if (n != n1 - n0 || h != h1 - h0)
            throw new Mismatch(s"changes since v$from: net $n rows, expected ${n1 - n0}")
        }
      case IvmRefresh =>
        // the change feed refuses to span copy-on-write commits and
        // vacuumed versions, so the view is rebuilt from scratch after them
        if (ivmBase < 0 || ivmBase < cowFloor || ivmBase < oldestReadable) {
          views += 1
          viewRoot = s"${ctx.scratch}/table_rw/view$setups-$views"
        }
        ivmBase = Materialized.maintainSums(spark, root, viewRoot, Seq("grp"), Seq("val"),
          appId = viewAppId)
        val got = M.read(spark, viewRoot).where("n > 0").collect()
        val want = shadow.groups
        () => {
          val g = got.map(r => r.getAs[Int]("grp") -> (r.getAs[Long]("n"), r.getAs[Long]("sum_val")))
            .toMap
          if (g != want) throw new Mismatch(s"ivm_refresh: view ${g.size} groups != model ${want.size}")
        }
      case Compact =>
        M.compact(spark, root, targetFileBytes = RwGen.CompactFileBytes)
        committed(spark, latest(spark), 0)
      case Vacuum =>
        M.vacuum(spark, root, keepVersions = RwGen.KeepVersions, minAgeMs = 0L)
        val l = latest(spark)
        oldestReadable = math.max(oldestReadable, l - RwGen.KeepVersions + 1)
        () => ()
    }
  }

  /** Final check: a full read from a new session, with ManifestStore's
    * snapshot caches cleared. The session shares the SparkContext:
    * ManifestStore keeps deletion-vector broadcasts in a JVM-wide cache that
    * outlives a stopped SparkContext, so a merge-on-read table read after a
    * context restart in the same JVM fails on the stale broadcast.
    */
  def finalRead(ctx: Ctx): Array[Row] = {
    ctx.spark = ctx.spark.newSession()
    M.clearCachesForTest()
    val got = M.read(ctx.spark, root).collect()
    expectRows("final full read", got, shadow.rows.values)
    got
  }

  /** Table bytes on disk over the parquet bytes of the live rows alone. */
  def spaceAmp(ctx: Ctx, live: Array[Row]): Double = {
    val spark = ctx.spark
    val copy = s"${ctx.scratch}/table_rw/live_copy"
    spark.createDataFrame(java.util.Arrays.asList(live: _*), RwRow.schema)
      .coalesce(1).write.parquet(copy)
    TableRw.listFiles(spark, root).values.sum.toDouble /
      TableRw.listFiles(spark, copy).values.sum
  }

  def liveBytesPerRow(ctx: Ctx, live: Array[Row]): Double = {
    val copy = s"${ctx.scratch}/table_rw/live_copy"
    TableRw.listFiles(ctx.spark, copy).values.sum.toDouble / math.max(1, live.length)
  }

  def logBytes(spark: SparkSession): Long =
    TableRw.listFiles(spark, root).filter(_._1.contains("/_manifests/")).values.sum

  def primeTracking(spark: SparkSession): Unit = {
    val files = M.latestSnapshot(spark, root).get.files
    knownFiles = (files.map(_.path) ++ files.flatMap(_.dv.map(_.path))).toSet
    bytesWritten = 0L; rowsChanged = 0L
    trackWrites = true
  }
}

object TableRw {
  /** Every file under `dir` with its size, checksum sidecars excluded. */
  def listFiles(spark: SparkSession, dir: String): Map[String, Long] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Map.empty
    val it = fs.listFiles(p, true)
    var out = Map.empty[String, Long]
    while (it.hasNext) {
      val f = it.next()
      if (!f.getPath.getName.endsWith(".crc")) out += f.getPath.toString -> f.getLen
    }
    out
  }
}
