package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.tables.LogStore

/** Runs one workload in one JVM and prints one JSON result line.
  *
  * {{{
  * graftbench.Main --workload ingest_cdc --seed 1 --seconds 5 --trace 0 \
  *   --root <scratch dir> [--cores 4] [--stamp <source id>] [--spans <file>]
  * }}}
  *
  * Phases: session start, the fixture build, a warm pass that runs one op
  * of each kind from the workload's own sequence (all three are
  * `setup_s`), then the closed-loop timed phase with one client. With
  * `--trace 1` an untraced phase is followed by a traced one, the result
  * carries the per-layer metrics plus the tracing overhead (traced minus
  * untraced), and the spans go to `--spans` as JSON lines. Every op result
  * is checked after the timed phases.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      root: String, cores: Int, stamp: String, spans: Option[String])

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("root"), m.get("cores").map(_.toInt).getOrElse(4), m.getOrElse("stamp", "unknown"), m.get("spans"))
  }

  def session(cores: Int, root: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.sql.extensions", "graft.sql.GraftSparkSessionExtension")
      .config("spark.sql.catalog.spark_catalog", "graft.catalog.GraftSessionCatalog")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def workload(name: String, ctx: Ctx): Workload = name match {
    case "ingest_cdc" => new IngestCdc(ctx)
    case "curate_dedup" => new CurateDedup(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def loadAvg(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val load0 = loadAvg()
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(a.cores, a.root)
    Trace.install(spark.sparkContext)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3

    val fixT0 = System.nanoTime()
    val w = workload(a.workload, Ctx(spark, s"${a.root}/main", a.seed))
    w.setup()
    val fixtureS = (System.nanoTime() - fixT0) / 1e9

    // warm pass: one op of each kind from the workload's own sequence, so
    // the first (cold) execution of each is measured and kept out of the
    // timed phases
    val warmT0 = System.nanoTime()
    val warm = (0 until w.warmOps).map { i =>
      val op = w.op(i)
      val t = System.nanoTime()
      val err = try { op.run(); None } catch { case e: Throwable => Some(i -> s"${op.kind}: $e") }
      (op.kind, (System.nanoTime() - t) / 1e9, err)
    }
    val cold = warm.groupBy(_._1).values.map(_.head).toSeq.sortBy(c => w.kinds.indexOf(c._1))
    val warmErrors = warm.flatMap(_._3).toMap
    val warmS = (System.nanoTime() - warmT0) / 1e9
    val setupS = sessionS + fixtureS + warmS

    val untraced = Phase.run(w, w.warmOps, a.seconds)
    val traced =
      if (!a.trace) None
      else {
        val store = new CountingLogStore(LogStore.Posix)
        LogStore.register(w.ctx.root, store)
        w.beforeTraced()
        val gc0 = gcSeconds()
        ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
        Trace.on = true
        val p = try Phase.run(w, w.warmOps + untraced.ops, a.seconds)
          finally { Trace.on = false; LogStore.unregister(w.ctx.root) }
        Trace.attribute()
        a.spans.foreach(Trace.write)
        Some((p, store, gcSeconds() - gc0))
      }
    val checkT0 = System.nanoTime()
    val total = w.warmOps + untraced.ops + traced.map(_._1.ops).getOrElse(0)
    val errors = warmErrors ++ untraced.errors ++ traced.map(_._1.errors).getOrElse(Map.empty) ++
      w.check(total)
    val correct = errors.isEmpty
    val checkS = (System.nanoTime() - checkT0) / 1e9

    val metrics: Seq[(String, Double, String)] = traced match {
      case None =>
        ("setup_s", setupS, "s") +: untraced.endToEnd
      case Some((p, store, gcS)) =>
        val overhead = p.endToEnd.zip(untraced.endToEnd).map { case ((n, tv, u), (_, uv, _)) =>
          (s"overhead.$n", tv - uv, u)
        }
        Layers.metrics(w, p, untraced, store, gcS, cold.map(_._2).sum) ++ overhead
    }
    val load1 = loadAvg()
    val env = Seq(
      "workload" -> Json.str(a.workload), "seed" -> a.seed.toString, "trace" -> (if (a.trace) "1" else "0"),
      "nproc" -> Runtime.getRuntime.availableProcessors.toString, "cores" -> a.cores.toString,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "load1_start" -> Json.num(load0), "load1_end" -> Json.num(load1),
      "java" -> Json.str(System.getProperty("java.version")), "spark" -> Json.str(spark.version),
      "source" -> Json.str(a.stamp),
      "session_s" -> Json.num(sessionS), "fixture_s" -> Json.num(fixtureS), "warm_s" -> Json.num(warmS),
      "timed_s" -> Json.num(untraced.wallS + traced.map(_._1.wallS).getOrElse(0.0)),
      "check_s" -> Json.num(checkS),
      "cold_op_s" -> Json.obj(cold.map { case (k, v, _) => k -> Json.num(v) }),
      "sizes" -> Json.obj(w.sizes),
      "ops" -> total.toString,
      "kind_p50_s" -> Json.obj(w.kinds.map(k => k -> Json.num(untraced.p(0.5, untraced.latencies(k))))),
      "errors" -> Json.obj(errors.toSeq.sortBy(_._1).take(20).map { case (k, v) => k.toString -> Json.str(v) }))
    println(Json.obj(Seq("env" -> Json.obj(env))))
    val result = Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> total.toString,
      "failed" -> errors.size.toString,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
    w.close()
    spark.stop()
    println(result)
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3
}

/** What one timed phase measured. */
final case class Phase(from: Int, ops: Int, wallS: Double, lat: Seq[(String, Double)], rows: Long,
    errors: Map[Int, String]) {

  /** Nearest-rank percentile `q` of `xs` (0 when empty). */
  def p(q: Double, xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }

  def latencies(kind: String): Seq[Double] = lat.collect { case (k, v) if k == kind => v }

  /** The highest percentile with ten samples beyond it (the median when
    * there are fewer than twenty samples).
    */
  def tail(xs: Seq[Double]): Double = p(math.max(0.5, 1.0 - 10.0 / math.max(1, xs.size)), xs)

  def rowsPerS: Double = rows / wallS

  /** Geometric mean, over the op kinds of the mix, of each kind's median
    * latency: a typical op latency that a mix of fast reads and slow
    * writes cannot tip from one class to the other, as a plain median can.
    */
  def kindP50Gm: Double = {
    val medians = lat.map(_._1).distinct.map(k => p(0.5, latencies(k))).filter(_ > 0)
    if (medians.isEmpty) 0.0 else math.exp(medians.map(math.log).sum / medians.size)
  }

  /** End-to-end metrics except `setup_s`, in BENCHMARK.json order. */
  def endToEnd: Seq[(String, Double, String)] = Seq(
    ("ops_per_s", ops / wallS, "op/s"),
    ("kind_p50_gm_s", kindP50Gm, "s"))
}

object Phase {
  /** Hard stop for one phase, whatever the op count, so a run ends in time. */
  val MaxPhaseSeconds = 60.0

  /** Closed loop, one client: op `i + 1` starts when op `i` returned. Runs
    * for `seconds`, and on until `w.minOps` ops and a whole `w.stride`.
    */
  def run(w: Workload, from: Int, seconds: Int): Phase = {
    val lat = mutable.ArrayBuffer.empty[(String, Double)]
    val errors = mutable.LinkedHashMap.empty[Int, String]
    var rows = 0L
    var i = from
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while ((elapsed < seconds || i - from < w.minOps || (i - from) % w.stride != 0) &&
        elapsed < MaxPhaseSeconds && i < w.maxOps) {
      val op = w.op(i)
      Trace.opId = i
      val t = System.nanoTime()
      try rows += Trace(s"op.${op.kind}")(op.run())
      catch { case e: Throwable => errors(i) = s"${op.kind}: $e" }
      lat += op.kind -> (System.nanoTime() - t) / 1e9
      i += 1
    }
    Phase(from, i - from, elapsed, lat.toSeq, rows, errors.toMap)
  }
}
