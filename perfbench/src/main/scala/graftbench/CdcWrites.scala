package graftbench

import java.sql.Timestamp

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{GraftHelpers, GraftMerge, TableOps, Type2Scd}
import graft.streaming.GraftSink
import graft.tables.{GraftLog, GraftTable}

/** The write side of `ingest_cdc`: CDC upserts into a lakehouse table.
  *
  * Set-up builds a lineitem table unique on (l_orderkey, l_linenumber),
  * range-clustered by order key, with the change data feed on; a customer
  * SCD2 dimension; and a landing table fed by one long-running stream into
  * the exactly-once sink. Each op applies one seeded batch: merge upserts
  * (most ops; keys skewed toward recent orders), SCD2 upserts, dedup
  * appends, deletes of old orders, or one stream micro-batch into the sink. A driver-side
  * replay of the same batches is the oracle for the final tables.
  */
final class CdcWrites(c: Ctx) extends Part(c) {
  import CdcWrites._
  import spark.implicits._

  private val orders = 3000
  private val customers = 1500
  private val mergeRows = 120
  private val scdRows = 100
  private val appendRows = 60
  private val deleteOrders = 8
  private val streamRows = 50
  private val files = 8

  val cycle: Seq[String] = Seq.fill(6)("merge") ++ Seq("scd2", "append_dedup", "delete", "sink")

  private val lineitemPath = s"${ctx.root}/lineitem"
  private val dimPath = s"${ctx.root}/customer_dim"
  private val landingPath = s"${ctx.root}/landing"
  def tables: Seq[String] = Seq(lineitemPath, dimPath, landingPath)

  // the oracle: what each table must hold once every batch so far applied
  private val lines = mutable.HashMap.empty[(Long, Int), Line]
  private val byOrder = mutable.HashMap.empty[Long, mutable.Set[Int]]
  private var nextOrder = 0L
  private val dim = mutable.HashMap.empty[Long, List[DimRow]]
  private var nextCust = 0L
  private val landing = mutable.ArrayBuffer.empty[Event]
  private var nextEvent = 0L
  /** Every op's source batch, kept for the write-amplification baseline. */
  private val batches = mutable.LinkedHashMap.empty[Int, DataFrame]

  private var input: MemoryStream[Event] = _
  private var query: StreamingQuery = _

  private def rng(salt: Long) = new Random(ctx.seed * 1000003L + salt)

  private def newLine(r: Random, k: Long, n: Int): Line =
    Line(k, n, r.nextInt(200000).toLong, 1L + r.nextInt(50), 100L + r.nextInt(10000000),
      if (r.nextBoolean()) "O" else "F", r.alphanumeric.take(12 + r.nextInt(20)).mkString)

  private def addLine(l: Line): Unit = {
    lines((l.l_orderkey, l.l_linenumber)) = l
    byOrder.getOrElseUpdate(l.l_orderkey, mutable.Set.empty) += l.l_linenumber
  }

  private def newOrderLines(r: Random): Seq[Line] = {
    val k = nextOrder
    nextOrder += 1
    (1 to 1 + r.nextInt(7)).map(newLine(r, k, _))
  }

  def setup(): Unit = {
    val r = rng(-1)
    (0 until orders).foreach(_ => newOrderLines(r).foreach(addLine))
    // contiguous order-key slices, one file each: the table is clustered by key
    GraftTable.create(spark, lineitemPath,
      spark.sparkContext.parallelize(lines.values.toSeq.sortBy(l => (l.l_orderkey, l.l_linenumber)), files).toDF(),
      properties = Map(GraftLog.CdfProperty -> "true"))
    (0 until customers).foreach { _ =>
      val k = nextCust
      nextCust += 1
      dim(k) = List(DimRow(k, s"Customer#$k", r.alphanumeric.take(16).mkString, segment(r), true, ts(0), null))
    }
    GraftTable.create(spark, dimPath, dim.values.flatten.toSeq.toDF())
    val seedEvent = Event(-1L, -1L, "seed")
    landing += seedEvent
    GraftTable.create(spark, landingPath, Seq(seedEvent).toDF())
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    input = MemoryStream[Event]
    query = GraftSink.writeStreamTo(input.toDF(), landingPath, s"ingest-${ctx.seed}")
      .option("checkpointLocation", s"${ctx.root}/landing_ckpt").start()
  }

  /** (op index, kind) of every op this part ran. */
  private val ran = mutable.ArrayBuffer.empty[(Int, String)]

  def op(kind: String, i: Int): Op = {
    ran += ((i, kind))
    val r = rng(1000000L + i)
    kind match {
      case "merge" => mergeOp(i, r)
      case "scd2" => scd2Op(i, r)
      case "append_dedup" => appendOp(i, r)
      case "delete" => deleteOp(i, r)
      case "sink" => sinkOp(i, r)
    }
  }

  /** An existing order key, skewed toward the most recent orders. */
  private def recentOrder(r: Random): Long = {
    val u = r.nextDouble()
    nextOrder - 1 - (nextOrder * u * u * u).toLong
  }

  private def mergeOp(i: Int, r: Random): Op = {
    val batch = mutable.LinkedHashMap.empty[(Long, Int), Line]
    while (batch.size < mergeRows) {
      if (r.nextDouble() < 0.7) {
        val k = recentOrder(r)
        byOrder.get(k).filter(_.nonEmpty).foreach { ns =>
          val n = ns.toSeq.sorted.apply(r.nextInt(ns.size))
          batch((k, n)) = newLine(r, k, n)
        }
      } else newOrderLines(r).foreach(l => batch((l.l_orderkey, l.l_linenumber)) = l)
    }
    batch.values.foreach(addLine)
    val src = batch.values.toSeq.toDF()
    batches(i) = src
    Op("merge", () => {
      Trace("operators.merge") {
        GraftMerge(GraftTable.forPath(spark, lineitemPath), "t")
          .merge(src, "t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber", Some("s"))
          .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
      }
      batch.size.toLong
    })
  }

  private def appendOp(i: Int, r: Random): Op = {
    val batch = mutable.LinkedHashMap.empty[(Long, Int), Line]
    while (batch.size < appendRows) {
      if (r.nextDouble() < 0.2) {
        // a replayed key: must be skipped, the stored row left as it is
        val k = recentOrder(r)
        byOrder.get(k).filter(_.nonEmpty).foreach { ns =>
          val n = ns.min
          batch((k, n)) = newLine(r, k, n)
        }
      } else newOrderLines(r).foreach(l => batch((l.l_orderkey, l.l_linenumber)) = l)
    }
    batch.values.filterNot(l => lines.contains((l.l_orderkey, l.l_linenumber))).foreach(addLine)
    val src = batch.values.toSeq.toDF()
    batches(i) = src
    Op("append_dedup", () => {
      Trace("operators.append_dedup") {
        GraftHelpers.appendWithoutDuplicates(GraftTable.forPath(spark, lineitemPath), src,
          Seq("l_orderkey", "l_linenumber"))
      }
      batch.size.toLong
    })
  }

  private def deleteOp(i: Int, r: Random): Op = {
    val ks = Iterator.continually(r.nextLong(math.max(1L, nextOrder / 2)))
      .filter(byOrder.get(_).exists(_.nonEmpty)).take(deleteOrders).toSeq.distinct.sorted
    val gone = ks.map { k =>
      val ns = byOrder.remove(k).getOrElse(mutable.Set.empty)
      ns.foreach(n => lines.remove((k, n)))
      ns.size
    }.sum
    batches(i) = ks.toDF("l_orderkey")
    Op("delete", () => {
      Trace("operators.delete") {
        TableOps.delete(GraftTable.forPath(spark, lineitemPath), Some(s"l_orderkey IN (${ks.mkString(",")})"))
      }
      gone.toLong
    })
  }

  private def scd2Op(i: Int, r: Random): Op = {
    val eff = ts(i + 1)
    val keys = mutable.LinkedHashSet.empty[Long]
    val ups = mutable.ArrayBuffer.empty[Update]
    while (ups.size < scdRows) {
      val x = r.nextDouble()
      if (x < 0.2) {
        val k = nextCust
        nextCust += 1
        keys += k
        ups += Update(k, s"Customer#$k", r.alphanumeric.take(16).mkString, segment(r), eff)
      } else {
        val k = r.nextLong(nextCust)
        if (keys.add(k)) {
          val cur = dim(k).head
          val addr = if (x < 0.8) r.alphanumeric.take(16).mkString else cur.c_address
          ups += Update(k, cur.c_name, addr, cur.c_mktsegment, eff)
        }
      }
    }
    ups.foreach { u =>
      dim.get(u.c_custkey) match {
        case None =>
          dim(u.c_custkey) = List(DimRow(u.c_custkey, u.c_name, u.c_address, u.c_mktsegment, true, eff, null))
        case Some(cur :: rest) if cur.c_address != u.c_address =>
          dim(u.c_custkey) = DimRow(u.c_custkey, u.c_name, u.c_address, u.c_mktsegment, true, eff, null) ::
            cur.copy(is_current = false, end_time = eff) :: rest
        case _ =>
      }
    }
    val src = ups.toSeq.toDF()
    batches(i) = src
    Op("scd2", () => {
      Trace("operators.scd2") {
        Type2Scd.upsert(GraftTable.forPath(spark, dimPath), src, "c_custkey",
          Seq("c_name", "c_address", "c_mktsegment"))
      }
      ups.size.toLong
    })
  }

  private def sinkOp(i: Int, r: Random): Op = {
    val evs = (0 until streamRows).map { _ =>
      val e = Event(nextEvent, i.toLong, r.alphanumeric.take(24).mkString)
      nextEvent += 1
      e
    }
    landing ++= evs
    batches(i) = evs.toDF()
    Op("sink", () => {
      Trace("streaming.sink") {
        input.addData(evs)
        query.processAllAvailable()
      }
      evs.size.toLong
    })
  }

  def check(): Map[Int, String] = {
    val fail = mutable.LinkedHashMap.empty[Int, String]
    def lastOf(kinds: String*): Int = ran.collect { case (i, k) if kinds.contains(k) => i }.maxOption.getOrElse(-1)
    val gotLines = GraftTable.forPath(spark, lineitemPath).toDF.as[Line].collect()
    if (gotLines.length != lines.size || gotLines.toSet != lines.values.toSet)
      fail(lastOf("merge", "append_dedup", "delete")) =
        s"lineitem differs from the replay: ${gotLines.length} rows vs ${lines.size}"
    val gotDim = GraftTable.forPath(spark, dimPath).toDF.as[DimRow].collect()
    val currents = gotDim.filter(_.is_current).groupBy(_.c_custkey)
    if (currents.size != dim.size || currents.exists(_._2.length != 1))
      fail(lastOf("scd2")) = "SCD2 dimension does not hold exactly one current row per key"
    else if (gotDim.toSet != dim.values.flatten.toSet)
      fail(lastOf("scd2")) = s"SCD2 dimension differs from the replay: ${gotDim.length} rows"
    query.processAllAvailable()
    val gotEvents = GraftTable.forPath(spark, landingPath).toDF.as[Event].collect()
    if (gotEvents.length != landing.size || gotEvents.toSet != landing.toSet)
      fail(lastOf("sink")) =
        s"landing table does not hold every micro-batch exactly once: ${gotEvents.length} vs ${landing.size}"
    fail.toMap
  }

  def sizes: Seq[(String, String)] = {
    val li = new GraftLog(lineitemPath)
    val dl = new GraftLog(dimPath)
    Seq(
      "lineitem_rows" -> lines.size.toString,
      "lineitem_live_files" -> li.snapshot().files.size.toString,
      "lineitem_log_versions" -> (li.latestVersion() + 1).toString,
      "lineitem_checkpoints" -> li.checkpointVersions().size.toString,
      "dim_rows" -> dim.values.map(_.size).sum.toString,
      "dim_log_versions" -> (dl.latestVersion() + 1).toString,
      "dim_checkpoints" -> dl.checkpointVersions().size.toString,
      "landing_rows" -> landing.size.toString,
      "writes_per_cycle" -> Json.str(cycle.groupBy(identity).map { case (k, v) => s"$k=${v.size}" }.toSeq.sorted
        .mkString(",")))
  }

  /** Write amplification of the traced phase: bytes added under the table
    * directories (data, change data, log, checkpoints) over the bytes of
    * the same phase's source batches written as Parquet.
    */
  private var bytesBefore = 0L
  override def beforeTraced(): Unit = bytesBefore = tables.map(dirBytes).sum

  override def layerExtras(p: Phase, untraced: Phase): Map[String, Double] = {
    val added = tables.map(dirBytes).sum - bytesBefore
    val base = s"${ctx.root}/source_batches"
    val traced = batches.keys.filter(_ >= p.from).toSeq
    val srcBytes = traced.map { i =>
      batches(i).coalesce(1).write.parquet(s"$base/$i")
      dirBytes(s"$base/$i")
    }.sum
    Map("ingest.write_amp" -> (if (srcBytes > 0) added.toDouble / srcBytes else 0.0))
  }

  override def close(): Unit = if (query != null) query.stop()
}

object CdcWrites {
  final case class Line(l_orderkey: Long, l_linenumber: Int, l_partkey: Long, l_quantity: Long,
      l_price_cents: Long, l_status: String, l_comment: String)
  final case class DimRow(c_custkey: Long, c_name: String, c_address: String, c_mktsegment: String,
      is_current: Boolean, effective_time: Timestamp, end_time: Timestamp)
  final case class Update(c_custkey: Long, c_name: String, c_address: String, c_mktsegment: String,
      effective_time: Timestamp)
  final case class Event(event_id: Long, op: Long, payload: String)

  private val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  def segment(r: Random): String = Segments(r.nextInt(Segments.size))
  /** Effective time of the `i`-th SCD2 batch: one minute apart. */
  def ts(i: Int): Timestamp = new Timestamp(1704067200000L + i * 60000L)

  def dirBytes(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }
}
