package graftbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StringType, StructField, StructType}

/** Where a workload instance lives: its session, its own directory (every
  * table it creates sits under it) and the seed all its inputs come from.
  */
final case class Ctx(spark: SparkSession, root: String, seed: Long)

/** One closed-loop operation; `run` returns the rows it applied or returned. */
final case class Op(kind: String, run: () => Long)

/** A seeded workload. `op(i)` is a pure function of the seed and `i` (plus
  * the state earlier ops left), so the same seed replays the same inputs.
  */
abstract class Workload(val ctx: Ctx) {
  val spark: SparkSession = ctx.spark
  /** The op kinds of the mix, in the order a warm pass first meets them. */
  def kinds: Seq[String]
  /** Ops `0 until warmOps` are the warm pass, run in set-up: one of each kind. */
  def warmOps: Int = kinds.size
  /** The kind of op `i`: the warm pass first, then `cycle` shuffled anew
    * per cycle by the seed, so each cycle has the same mix.
    */
  protected def kindAt(cycle: Seq[String], i: Int): String =
    if (i < warmOps) kinds(i)
    else {
      val j = i - warmOps
      new scala.util.Random(ctx.seed * 1000003L + j / cycle.size).shuffle(cycle).apply(j % cycle.size)
    }
  /** A timed phase runs at least this many ops. */
  def minOps: Int
  /** No phase runs op `maxOps` or later. */
  def maxOps: Int = Int.MaxValue
  /** A timed phase stops only after a whole number of strides. */
  def stride: Int = 1
  def setup(): Unit
  def op(i: Int): Op
  /** Checks the results of ops `0 until n` (outside every timed region);
    * returns the failed ops with a reason.
    */
  def check(n: Int): Map[Int, String]
  /** Paths of the graft tables the workload writes or reads. */
  def tables: Seq[String]
  /** Fixture sizes, recorded with every result. */
  def sizes: Seq[(String, String)]
  /** Workload-specific metrics of the traced run, by per-layer name. */
  def layerExtras(p: Phase, untraced: Phase): Map[String, Double] = Map.empty
  /** Called right before the traced phase starts. */
  def beforeTraced(): Unit = ()
  def close(): Unit = ()
}

/** One side of a workload: its own tables, oracle and op kinds. The
  * workload picks the kind of each op; `op(kind, i)` builds it from the
  * seed and `i`.
  */
abstract class Part(val ctx: Ctx) {
  val spark: SparkSession = ctx.spark
  /** One cycle of this side's ops. */
  def cycle: Seq[String]
  def setup(): Unit
  def op(kind: String, i: Int): Op
  /** Checks the results of every op this side ran; returns the failed ones. */
  def check(): Map[Int, String]
  def tables: Seq[String]
  def sizes: Seq[(String, String)]
  def layerExtras(p: Phase, untraced: Phase): Map[String, Double] = Map.empty
  def beforeTraced(): Unit = ()
  def close(): Unit = ()
}

/** Forces every output column through a hash, the way the repository's
  * `graft.Bench` consumes a query, so Catalyst cannot prune work. Returns
  * the row count, the hash over all columns, and the hash over the columns
  * not in `unchecked` (values no independent oracle can know, such as
  * commit timestamps).
  */
object Consume {
  final case class Digest(rows: Long, all: Long, checked: Long)

  private def hashable(df: DataFrame, names: Seq[String]) =
    names.map { c =>
      df.schema(c).dataType match {
        case _: MapType => df(c).cast("string")
        case _ => df(c)
      }
    }

  private def hashOf(cols: Seq[org.apache.spark.sql.Column]) =
    if (cols.isEmpty) lit(0L)
    else coalesce(bit_xor(xxhash64(struct(cols: _*))), lit(0L))

  def apply(df: DataFrame, unchecked: Set[String] = Set.empty): Digest = run(plan(df, unchecked))

  /** The consuming aggregate over `df`, analyzed and physically planned. */
  def plan(df: DataFrame, unchecked: Set[String] = Set.empty): DataFrame = {
    val names = df.columns.toSeq
    val agg = df.agg(count(lit(1)), hashOf(hashable(df, names)),
      hashOf(hashable(df, names.filterNot(unchecked))))
    agg.queryExecution.executedPlan
    agg
  }

  /** Executes a [[plan]]ned aggregate (reusing its physical plan). */
  def run(agg: DataFrame): Digest = {
    val r = agg.collect().head
    Digest(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** The same digest over answers known independently, each a set of rows
    * shaped by `schema`, by answer key, in one Spark job.
    */
  def expectedMany(spark: SparkSession, answers: Seq[(String, Seq[Row])], schema: StructType,
      unchecked: Set[String]): Map[String, Digest] = {
    val keyed = StructType(StructField("__answer", StringType) +: schema.fields)
    val rows = answers.flatMap { case (k, rs) => rs.map(r => Row.fromSeq(k +: r.toSeq)) }
    val df = spark.createDataFrame(rows.asJava, keyed)
    val names = schema.fieldNames.toSeq
    val found = df.groupBy("__answer").agg(count(lit(1)), hashOf(hashable(df, names)),
      hashOf(hashable(df, names.filterNot(unchecked)))).collect()
      .map(r => r.getString(0) -> Digest(r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    answers.map { case (k, _) => k -> found.getOrElse(k, Digest(0L, 0L, 0L)) }.toMap
  }
}

/** Minimal JSON rendering for the result lines. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
