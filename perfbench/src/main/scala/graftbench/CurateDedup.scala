package graftbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.pipeline.{Dedup, TextAnalysis}
import graft.tables.GraftTable

/** `curate_dedup`: a dedup-curation pass over daily text shards — the
  * executor-heavy pipeline path.
  *
  * Set-up generates a reference corpus and daily shards from a seeded
  * vocabulary, and plants the properties dedup depends on: near-duplicate
  * clusters inside a shard (one-token edits of a base document, cluster
  * sizes 2 to 4), near-duplicates of reference documents, and documents
  * the quality gate must drop (non-English, too short). One op is the pass
  * over one shard, five steps: the language/length gate,
  * `minhashDedupAgainst` the reference, `minhashDedupClusters` within the
  * shard, a `simhashPairs` audit of the survivors, and the append of the
  * survivors to the reference table. Every step's output is persisted and
  * consumed, so each step's span holds its own work.
  * The planted clusters are the oracle: one minimum-id survivor each.
  */
final class CurateDedup(c: Ctx) extends Workload(c) {
  import CurateDedup._
  import spark.implicits._

  private val referenceDocs = 1000
  private val shardDocs = 300
  private val shards = 8

  val kinds: Seq[String] = Seq("shard")
  val minOps: Int = 2
  /** Each shard is processed once: the reference it is checked against grows. */
  override def maxOps: Int = shards

  private val refPath = s"${ctx.root}/reference"
  private val shardPath = s"${ctx.root}/shards"
  def tables: Seq[String] = Seq(refPath)

  private val reference = mutable.ArrayBuffer.empty[Doc]
  /** Per shard: its docs, and the ids each step must keep. */
  private val plan = mutable.ArrayBuffer.empty[Shard]
  private var plantedDupShare = 0.0
  private var meanClusterSize = 0.0

  // step outputs of the shard in flight, persisted
  private var gated: DataFrame = _
  private var against: DataFrame = _
  private var survivors: DataFrame = _
  private val got = mutable.HashMap.empty[(Int, String), Consume.Digest]
  private val schema = Seq(Doc(0L, "")).toDF().schema

  private def rng(salt: Long) = new Random(ctx.seed * 1000003L + salt)

  def setup(): Unit = {
    val r = rng(-3)
    var nextId = 0L
    def doc(text: String): Doc = { val d = Doc(nextId, text); nextId += 1; d }
    (0 until referenceDocs).foreach(_ => reference += doc(english(r)))
    GraftTable.create(spark, refPath, reference.toSeq.toDF().coalesce(1))
    val pool = mutable.ArrayBuffer.from(reference)
    var planted = 0
    var clustered = 0
    var clusters = 0
    (0 until shards).foreach { k =>
      val texts = mutable.ArrayBuffer.empty[(String, Int, Boolean)] // (text, cluster or -1, passes gate)
      val againstRef = mutable.Set.empty[Int]
      while (texts.size < shardDocs) {
        val x = r.nextDouble()
        if (x < 0.08) texts += ((foreign(r), -1, false))
        else if (x < 0.12) texts += ((short(r), -1, false))
        else if (x < 0.22) {
          againstRef += texts.size
          texts += ((edit(r, pool(r.nextInt(pool.size)).text), -1, true))
        } else if (x < 0.40) {
          val base = english(r)
          val size = 2 + r.nextInt(3)
          val id = clusters
          clusters += 1
          texts += ((base, id, true))
          (1 until size).foreach(_ => texts += ((edit(r, base), id, true)))
        } else texts += ((english(r), -1, true))
      }
      // ids in shuffled order, so the minimum-id survivor is not always the base
      val order = r.shuffle(texts.indices.toVector)
      val docs = order.map(j => j -> doc(texts(j)._1)).toMap
      val passing = texts.indices.filter(texts(_)._3)
      val afterRef = passing.filterNot(againstRef)
      val kept = afterRef.groupBy(j => if (texts(j)._2 >= 0) texts(j)._2.toLong else -1L - j)
        .values.map(_.map(docs).minBy(_.doc_id)).toSeq
      planted += againstRef.size + (afterRef.size - kept.size)
      clustered += afterRef.count(texts(_)._2 >= 0)
      plan += Shard(k, texts.indices.map(docs), passing.map(docs), afterRef.map(docs), kept)
      pool ++= kept
    }
    plantedDupShare = planted.toDouble / (shards * shardDocs)
    meanClusterSize = clustered.toDouble / math.max(1, clusters)
    plan.toSeq.flatMap(sh => sh.docs.map(d => (sh.k, d.doc_id, d.text))).toDF("shard", "doc_id", "text")
      .repartition(1).write.partitionBy("shard").parquet(shardPath)
  }

  /** Op `i` is the whole pass over shard `i`. */
  def op(i: Int): Op = {
    val sh = plan(i)
    Op("shard", () => {
      unpersist()
      val raw = spark.read.parquet(shardPath).where(col("shard") === sh.k).drop("shard")
      gated = Trace("pipeline.quality_gate") {
        keep(i, "gate", persisted(raw.where(TextAnalysis.langId(col("text")) === "en" &&
          TextAnalysis.wsTokenCount(col("text")).between(MinTokens, MaxTokens))))
      }
      val ref = Trace("tables.snapshot")(GraftTable.forPath(spark, refPath).toDF)
      against = Trace("pipeline.dedup_against") {
        keep(i, "against", persisted(Trace.call(Dedup.minhashDedupAgainst(gated, ref, "doc_id", "text", Threshold))))
      }
      survivors = Trace("pipeline.clusters") {
        keep(i, "clusters", persisted(Trace.call(Dedup.minhashDedupClusters(against, "doc_id", "text", Threshold))))
      }
      got((i, "audit")) = Trace("pipeline.simhash") {
        Consume(Trace.call(Dedup.simhashPairs(survivors, "doc_id", "text", maxHamming = 3)))
      }
      Trace("tables.append")(GraftTable.forPath(spark, refPath).append(survivors))
      sh.docs.size.toLong
    })
  }

  private def persisted(df: DataFrame): DataFrame = df.persist(StorageLevel.MEMORY_ONLY)

  /** Runs the persisted step output through [[Consume]] and records it. */
  private def keep(i: Int, step: String, df: DataFrame): DataFrame = { got((i, step)) = Consume(df); df }

  private def unpersist(): Unit =
    Seq(gated, against, survivors).filter(_ != null).foreach(_.unpersist())

  def check(n: Int): Map[Int, String] = {
    val fail = mutable.LinkedHashMap.empty[Int, String]
    // every step's planted answer, in one Spark job; the audit must find no pair
    val answers = (0 until n).flatMap { i =>
      val sh = plan(i)
      Seq("gate" -> sh.passing, "against" -> sh.afterRef, "clusters" -> sh.survivors, "audit" -> Nil)
        .map { case (step, docs) => s"$i $step" -> docs.map(d => Row(d.doc_id, d.text)) }
    }
    val want = Consume.expectedMany(spark, answers, schema, Set.empty)
    (0 until n).foreach { i =>
      Seq("gate", "against", "clusters", "audit").foreach { step =>
        val w = want(s"$i $step")
        got.get((i, step)) match {
          case Some(g) if g.rows == w.rows && g.checked == w.checked =>
          case Some(g) => fail(i) = s"$step kept ${g.rows} rows, expected ${w.rows}"
          case None => fail(i) = s"$step: no result recorded"
        }
      }
    }
    val wantRef = (reference ++ (0 until n).flatMap(plan(_).survivors)).map(_.doc_id)
    val gotRef = GraftTable.forPath(spark, refPath).toDF.select("doc_id").as[Long].collect().toSeq
    if (gotRef.sorted != wantRef.sorted)
      fail(n - 1) = s"reference table holds ${gotRef.size} docs, expected ${wantRef.size}"
    fail.toMap
  }

  def sizes: Seq[(String, String)] = Seq(
    "reference_docs" -> referenceDocs.toString,
    "shard_docs" -> shardDocs.toString,
    "shards_generated" -> shards.toString,
    "planted_duplicate_share" -> Json.num(plantedDupShare),
    "mean_cluster_size" -> Json.num(meanClusterSize),
    "steps_per_shard" -> Json.str("gate,against,clusters,audit,append"))

  override def close(): Unit = unpersist()
}

object CurateDedup {
  final case class Doc(doc_id: Long, text: String)
  final case class Shard(k: Int, docs: Seq[Doc], passing: Seq[Doc], afterRef: Seq[Doc], survivors: Seq[Doc])

  val Threshold = 0.8
  val MinTokens = 20
  val MaxTokens = 500

  private val Syllables = Seq("ka", "lo", "mi", "ren", "tu", "sa", "vel", "dor", "pin", "qua", "zan",
    "bri", "mo", "lek", "ta", "fi", "gor", "nu", "sel", "wa")
  /** Made-up words of two or three syllables: never one of the language markers. */
  private val Vocab: IndexedSeq[String] =
    ((for (a <- Syllables; b <- Syllables) yield a + b) ++
      (for (a <- Syllables; b <- Syllables; c <- Syllables.take(8)) yield a + b + c)).toVector

  /** `n` words, one in twelve a language marker, at least two of them markers. */
  private def words(r: Random, n: Int, markers: Seq[String]): String =
    (0 until n).map { j =>
      if (j % 12 == 5 || j == 1) markers(r.nextInt(markers.size)) else Vocab(r.nextInt(Vocab.size))
    }.mkString(" ")

  def english(r: Random): String = words(r, 40 + r.nextInt(41), Seq("the", "and", "of", "to", "in"))
  def foreign(r: Random): String = words(r, 40 + r.nextInt(41), Seq("der", "die", "das", "und", "ist"))
  def short(r: Random): String = words(r, 5 + r.nextInt(MinTokens - 5), Seq("the", "and"))

  /** A near-duplicate: one token replaced by another vocabulary word. */
  def edit(r: Random, text: String): String = {
    val toks = text.split(" ")
    val j = 3 + r.nextInt(toks.length - 6)
    var w = Vocab(r.nextInt(Vocab.size))
    while (w == toks(j)) w = Vocab(r.nextInt(Vocab.size))
    toks.updated(j, w).mkString(" ")
  }
}
