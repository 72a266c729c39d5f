package graftbench

import scala.collection.immutable.TreeMap
import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.log.{ChangeDataFeedHelper, OperationMetricHelper}
import graft.operators.{GraftMerge, TableOps}
import graft.tables.{GraftLog, GraftTable}

/** The read side of `ingest_cdc`: reads over a table with a long history.
  *
  * Set-up builds an orders table range-clustered by key into many files,
  * with the change data feed on, and commits a seeded history of appends,
  * merges and range deletes to it that crosses several checkpoints. The
  * timed phase is read-only: Zipf-skewed point lookups through
  * `spark.read.format("graft")`, SQL range aggregates over
  * ``graft.`/path` ``, time-travel reads at older versions, change-feed
  * reads, log metric reads and an `AvailableNow` stream catch-up. graft
  * keeps no snapshot cache, so every read replays checkpoint plus log tail
  * and then skips files. A driver-side model of every version is the
  * oracle for every result.
  */
final class LakeReads(c: Ctx) extends Part(c) {
  import LakeReads._
  import spark.implicits._

  private val initialRows = 12000
  private val initialFiles = 12
  /** History after the create: 21 commits, so reads cross the checkpoints at 10 and 20. */
  private val commits = 21
  private val appendRows = 300
  private val mergeUpdates = 80
  private val mergeInserts = 20
  private val deleteWidth = 40
  private val rangeWidth = 300
  private val travelWidth = 400

  val cycle: Seq[String] = Seq("point", "point", "range", "travel", "cdf", "metrics", "stream")

  private val path = s"${ctx.root}/orders"
  def tables: Seq[String] = Seq(path)

  /** The table's content at each version. */
  private val versions = mutable.ArrayBuffer.empty[TreeMap[Long, Order]]
  /** (deleted, inserted, updated, source rows) per version, as the log metrics report them. */
  private val opMetrics = mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
  private var nextKey = 0L
  private var hot: Array[Long] = Array.empty
  private var zipfCdf: Array[Double] = Array.empty
  private var liveFiles = 1

  /** What each op must return: its independently known answer rows, shaped
    * like the op's result, keyed by the op's parameters so repeated reads
    * share one.
    */
  private val expect = mutable.HashMap.empty[Int, Expected]
  private val got = mutable.HashMap.empty[Int, Consume.Digest]
  private val gotMetrics = mutable.HashMap.empty[Int, Seq[(Long, Long, Long, Long, Long)]]
  /** Per-op (files scanned, live files) of the traced point and range reads. */
  private val filesRead = mutable.ArrayBuffer.empty[(Long, Long)]
  private var streamBatches = 0L

  private def rng(salt: Long) = new Random(ctx.seed * 1000003L + salt)

  private def newOrder(r: Random, k: Long): Order =
    Order(k, r.nextInt(50000).toLong, Statuses(r.nextInt(Statuses.size)), 100L + r.nextInt(50000000),
      8000 + r.nextInt(2500), r.alphanumeric.take(10 + r.nextInt(30)).mkString)

  private def latest: TreeMap[Long, Order] = versions.last
  def latestVersion: Int = versions.size - 1

  def setup(): Unit = {
    val r = rng(-2)
    val init = TreeMap.from((0L until initialRows).map(k => k -> newOrder(r, k)))
    nextKey = initialRows
    // contiguous key slices, one file each: the table is clustered by key
    GraftTable.create(spark, path, spark.sparkContext.parallelize(init.values.toSeq, initialFiles).toDF(),
      properties = Map(GraftLog.CdfProperty -> "true"))
    versions += init
    opMetrics += ((0L, init.size.toLong, 0L, init.size.toLong))
    // the same commit kinds in the same order for every seed: 18 appends, 1 merge, 2 deletes
    val plan = Seq.tabulate(commits)(i => if (i == 12) "merge" else if (i % 10 == 6) "delete" else "append")
    val table = GraftTable.forPath(spark, path)
    // merge windows and delete ranges sit at the same relative key position
    // for every seed, so every seed reads the same table layout
    def at(c: Int, frac: Double, span: Long) = (span * ((c * frac) % 1.0)).toLong
    plan.zipWithIndex.foreach {
      case ("append", _) =>
        val rows = (0 until appendRows).map { _ => val k = nextKey; nextKey += 1; newOrder(r, k) }
        table.append(rows.toDF().coalesce(1))
        versions += latest ++ rows.map(o => o.o_orderkey -> o)
        opMetrics += ((0L, rows.size.toLong, 0L, rows.size.toLong))
      case ("merge", c) =>
        // updates inside one key window (touching few files) plus new keys
        val keys = latest.keysIterator.toArray
        val from = at(c, 0.37, keys.length - 4 * mergeUpdates).toInt
        val upd = r.shuffle(keys.slice(from, from + 4 * mergeUpdates).toSeq).take(mergeUpdates)
          .map(k => newOrder(r, k))
        val ins = (0 until mergeInserts).map { _ => val k = nextKey; nextKey += 1; newOrder(r, k) }
        GraftMerge(table, "t").merge((upd ++ ins).toDF(), "t.o_orderkey = s.o_orderkey", Some("s"))
          .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
        versions += latest ++ (upd ++ ins).map(o => o.o_orderkey -> o)
        opMetrics += ((0L, ins.size.toLong, upd.size.toLong, (upd.size + ins.size).toLong))
      case (_, c) =>
        val a = at(c, 0.61, nextKey - deleteWidth)
        val b = a + deleteWidth - 1
        TableOps.delete(table, Some(s"o_orderkey BETWEEN $a AND $b"))
        val gone = latest.range(a, b + 1).keys
        versions += latest -- gone
        opMetrics += ((gone.size.toLong, 0L, 0L, 0L))
    }
    require(new GraftLog(path).latestVersion() == latestVersion, "history build lost a commit")
    liveFiles = new GraftLog(path).snapshot().files.size
    hot = r.shuffle(latest.keysIterator.toSeq).toArray
    val w = hot.indices.map(i => 1.0 / math.pow(i + 1, ZipfS))
    val total = w.sum
    zipfCdf = w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }

  private def zipfKey(r: Random): Long = {
    val i = java.util.Arrays.binarySearch(zipfCdf, r.nextDouble())
    hot(math.min(hot.length - 1, if (i >= 0) i else -i - 1))
  }

  def op(kind: String, i: Int): Op = {
    val r = rng(2000000L + i)
    kind match {
      case "point" => pointOp(i, r)
      case "range" => rangeOp(i, r)
      case "travel" => travelOp(i, r)
      case "cdf" => cdfOp(i, r)
      case "metrics" => metricsOp(i)
      case "stream" => streamOp(i, r)
    }
  }

  /** Plans `df`, runs it through [[Consume]], records the digest and, when
    * traced, how many of the live files the scan read.
    */
  private def scan(i: Int, df: DataFrame, unchecked: Set[String] = Set.empty): Long = {
    val agg = Trace("sources.plan")(Consume.plan(df, unchecked))
    val d = Trace("sources.scan")(Consume.run(agg))
    got(i) = d
    if (Trace.on) filesRead += ((ScanFiles.count(agg), liveFiles.toLong))
    d.rows
  }

  private def pointOp(i: Int, r: Random): Op = {
    val k = zipfKey(r)
    Op("point", () => {
      val df = Trace("tables.snapshot")(spark.read.format("graft").load(path))
        .filter(col("o_orderkey") === k)
      expect(i) = Expected(s"point $k", df.schema, Set.empty, () => latest.get(k).toSeq.map(_.row))
      scan(i, df)
    })
  }

  private def rangeOp(i: Int, r: Random): Op = {
    val a = r.nextLong(nextKey - rangeWidth)
    val b = a + rangeWidth - 1
    Op("range", () => {
      val df = Trace("sql.analyze")(spark.sql(
        s"SELECT o_status, count(*) AS n, sum(o_totalprice) AS total FROM graft.`$path` " +
          s"WHERE o_orderkey BETWEEN $a AND $b GROUP BY o_status"))
      expect(i) = Expected(s"range $a $b", df.schema, Set.empty, () =>
        latest.range(a, b + 1).values.groupBy(_.o_status).toSeq.map { case (st, os) =>
          Row(st, os.size.toLong, os.iterator.map(_.o_totalprice).sum)
        })
      scan(i, df)
    })
  }

  private def travelOp(i: Int, r: Random): Op = {
    val v = r.nextInt(latestVersion)
    val a = r.nextLong(nextKey - travelWidth)
    val b = a + travelWidth - 1
    Op("travel", () => {
      val df = Trace("tables.snapshot")(
        spark.read.format("graft").option("versionAsOf", v.toString).load(path))
        .filter(col("o_orderkey").between(a, b))
      expect(i) = Expected(s"travel $v $a $b", df.schema, Set.empty,
        () => versions(v).range(a, b + 1).values.toSeq.map(_.row))
      scan(i, df)
    })
  }

  /** The change rows of versions `s..e`, shaped like `schema`. */
  private def changes(s: Int, e: Int, schema: StructType): Seq[Row] =
    (s to e).flatMap { v =>
      val prev = versions(v - 1)
      val cur = versions(v)
      val del = prev.keysIterator.filterNot(cur.contains).map(k => (prev(k), "delete"))
      val ins = cur.keysIterator.filterNot(prev.contains).map(k => (cur(k), "insert"))
      val upd = cur.iterator.filter { case (k, o) => prev.get(k).exists(_ != o) }
        .flatMap { case (k, o) => Seq((prev(k), "update_preimage"), (o, "update_postimage")) }
      (del ++ ins ++ upd).map { case (o, t) => changeRow(o, t, v, schema) }
    }

  private def cdfOp(i: Int, r: Random): Op = {
    val s = 1 + r.nextInt(latestVersion - 2)
    val e = math.min(latestVersion, s + r.nextInt(3))
    Op("cdf", () => {
      val d = Trace("log.cdf") {
        val df = ChangeDataFeedHelper(spark, path, s, e).readCDF(s, e)
        expect(i) = Expected(s"cdf $s $e", df.schema, Unchecked, () => changes(s, e, df.schema))
        Consume(df, Unchecked)
      }
      got(i) = d
      d.rows
    })
  }

  private def metricsOp(i: Int): Op = Op("metrics", () => {
    val m = Trace("log.metrics")(OperationMetricHelper(spark, path).getCountMetrics())
    gotMetrics(i) = m
    m.size.toLong
  })

  private def streamOp(i: Int, r: Random): Op = {
    val s = math.max(1, latestVersion - 1 - r.nextInt(8))
    Op("stream", () => {
      var rows = 0L
      var all = 0L
      var checked = 0L
      var schema: StructType = null
      Trace("sources.stream") {
        val q = spark.readStream.format("graft").option("startingVersion", s.toString).load(path)
          .writeStream.trigger(Trigger.AvailableNow())
          .option("checkpointLocation", s"${ctx.root}/stream_ckpt/$i")
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val d = Consume(batch, Unchecked)
            schema = batch.schema
            rows += d.rows; all ^= d.all; checked ^= d.checked
            if (Trace.on) streamBatches += 1
            ()
          }.start()
        q.awaitTermination()
      }
      got(i) = Consume.Digest(rows, all, checked)
      val sch = schema
      expect(i) = Expected(s"stream $s", sch, Unchecked, () => changes(s, latestVersion, sch))
      rows
    })
  }

  def check(): Map[Int, String] = {
    val fail = mutable.LinkedHashMap.empty[Int, String]
    // one Spark job per result shape, over every distinct expected answer
    val want = expect.values.groupBy(e => (e.schema, e.unchecked)).flatMap { case ((schema, unchecked), es) =>
      val distinct = es.map(e => e.key -> e).toMap
      Consume.expectedMany(spark, distinct.map { case (k, e) => k -> e.rows() }.toSeq, schema, unchecked)
    }
    val wantMetrics = opMetrics.zipWithIndex.map { case ((d, in, u, src), v) => (v.toLong, d, in, u, src) }
    (got.keySet ++ gotMetrics.keySet ++ expect.keySet).foreach { i =>
      (gotMetrics.get(i), got.get(i), expect.get(i)) match {
        case (Some(m), _, _) =>
          if (m.sortBy(_._1) != wantMetrics)
            fail(i) = s"log metrics differ from the history: ${m.take(3)} vs ${wantMetrics.take(3)}"
        case (None, Some(g), Some(e)) =>
          val w = want(e.key)
          if (g.rows != w.rows || g.checked != w.checked)
            fail(i) = s"result ${g.rows} rows/${g.checked} vs expected ${w.rows}/${w.checked}"
        case _ => fail(i) = "no result recorded"
      }
    }
    fail.toMap
  }

  def sizes: Seq[(String, String)] = Seq(
    "orders_rows" -> latest.size.toString,
    "orders_live_files" -> liveFiles.toString,
    "orders_log_versions" -> (latestVersion + 1).toString,
    "orders_checkpoints" -> new GraftLog(path).checkpointVersions().size.toString,
    "reads_per_cycle" -> Json.str(cycle.groupBy(identity).map { case (k, v) => s"$k=${v.size}" }.toSeq.sorted
      .mkString(",")))

  override def layerExtras(p: Phase, untraced: Phase): Map[String, Double] = Map(
    "sources.files_read_frac" ->
      (if (filesRead.isEmpty) 0.0 else filesRead.map(_._1).sum.toDouble / filesRead.map(_._2).sum),
    "sources.stream.batches" -> streamBatches.toDouble / math.max(1, p.latencies("stream").size),
    "lake.point_p50_s" -> untraced.p(0.5, untraced.latencies("point")),
    "lake.point_tail_s" -> untraced.tail(untraced.latencies("point")),
    "lake.range_p50_s" -> untraced.p(0.5, untraced.latencies("range")),
    "lake.travel_p50_s" -> untraced.p(0.5, untraced.latencies("travel")),
    "lake.cdf_p50_s" -> untraced.p(0.5, untraced.latencies("cdf")))
}

object LakeReads {
  final case class Expected(key: String, schema: StructType, unchecked: Set[String], rows: () => Seq[Row])

  final case class Order(o_orderkey: Long, o_custkey: Long, o_status: String, o_totalprice: Long,
      o_orderdate: Int, o_comment: String) {
    def row: Row = Row(o_orderkey, o_custkey, o_status, o_totalprice, o_orderdate, o_comment)
    def value(name: String): Any = name match {
      case "o_orderkey" => o_orderkey
      case "o_custkey" => o_custkey
      case "o_status" => o_status
      case "o_totalprice" => o_totalprice
      case "o_orderdate" => o_orderdate
      case "o_comment" => o_comment
    }
  }

  val Statuses = Seq("O", "F", "P")
  val ZipfS = 1.1
  /** Commit timestamps: no independent oracle knows them. */
  val Unchecked = Set("_commit_timestamp")

  def changeRow(o: Order, changeType: String, version: Int, schema: StructType): Row =
    Row.fromSeq(schema.fieldNames.toSeq.map {
      case "_change_type" => changeType
      case "_commit_version" => version.toLong
      case "_commit_timestamp" => null
      case c => o.value(c)
    })
}

/** Files the executed scans of a consumed DataFrame read. */
object ScanFiles extends AdaptiveSparkPlanHelper {
  def count(df: DataFrame): Long =
    collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
      .map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum
}
