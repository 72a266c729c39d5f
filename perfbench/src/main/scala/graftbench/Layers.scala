package graftbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.jdk.CollectionConverters._

import graft.tables.GraftLog

/** Per-layer metrics of a traced phase, from the spans the benchmark
  * recorded around its calls into graft's modules. Every workload reports
  * the same names; a layer a workload does not use reads 0.
  *
  * `<span>.self_s` is the mean self time per call: the span's duration
  * minus its child spans. `<span>.jobs` is the mean number of Spark jobs
  * per call. Counts of log I/O are per op.
  */
object Layers {

  /** Modules whose share of the traced wall is reported as `layer.<m>.self_frac`. */
  val Modules = Seq("operators", "streaming", "tables", "sources", "sql", "log", "pipeline", "op")

  /** Workload-specific names ([[Workload.layerExtras]]), reported as 0 elsewhere. */
  val Extras = Seq("ingest.write_amp", "lake.point_p50_s", "lake.point_tail_s", "lake.range_p50_s",
    "lake.travel_p50_s", "lake.cdf_p50_s", "sources.files_read_frac", "sources.stream.batches")

  def metrics(w: Workload, p: Phase, untraced: Phase, store: CountingLogStore, gcS: Double,
      coldS: Double): Seq[(String, Double, String)] = {
    val cores = w.spark.sparkContext.defaultParallelism
    val spans = Trace.spans.toSeq
    def named(n: String) = spans.filter(_.name == n)
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def selfS(n: String) = mean(named(n).map(_.selfNs / 1e9))
    def jobs(n: String) = mean(named(n).map(_.jobs.toDouble))
    def busy(ss: Seq[Span]) = {
      val wall = ss.map(_.durNs / 1e9).sum
      if (wall <= 0) 0.0 else ss.map(_.runMs / 1e3).sum / (wall * cores)
    }
    def shuffle(ss: Seq[Span]) = mean(ss.map(_.shuffleBytes.toDouble))
    val ops = math.max(1, p.ops).toDouble

    // commit tail: claim of the version to the return of the module call around it
    val modules = spans.filter(s => s.name.startsWith("operators.") || s.name == "streaming.sink" ||
      s.name == "tables.append")
    val claims = store.claims.asScala.toSeq
    val tails = claims.flatMap { case (v, t, _) =>
      modules.filter(s => s.startNs <= t && t <= s.endNs).sortBy(-_.startNs).headOption
        .map(s => (v > 0 && v % GraftLog.CheckpointInterval == 0, (s.endNs - t) / 1e9))
    }
    def removedIn(ss: Seq[Span]) = mean(ss.map(s =>
      claims.collect { case (_, t, r) if s.startNs <= t && t <= s.endNs => r.toDouble }.sum))

    val pipeline = spans.filter(_.layer == "pipeline")
    val wallS = p.wallS
    val logs = w.tables.map(new GraftLog(_))
    val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1048576.0

    val extras = w.layerExtras(p, untraced)
    Seq(
      ("operators.merge.self_s", selfS("operators.merge"), "s"),
      ("operators.merge.jobs", jobs("operators.merge"), "count"),
      ("operators.merge.exec_busy_frac", busy(named("operators.merge")), "ratio"),
      ("operators.merge.shuffle_bytes", shuffle(named("operators.merge")), "B"),
      ("operators.merge.files_rewritten", removedIn(named("operators.merge")), "count"),
      ("operators.scd2.self_s", selfS("operators.scd2"), "s"),
      ("operators.scd2.jobs", jobs("operators.scd2"), "count"),
      ("operators.append_dedup.self_s", selfS("operators.append_dedup"), "s"),
      ("operators.delete.self_s", selfS("operators.delete"), "s"),
      ("streaming.sink.self_s", selfS("streaming.sink"), "s"),
      ("streaming.sink.jobs", jobs("streaming.sink"), "count"),
      ("tables.snapshot.self_s", selfS("tables.snapshot"), "s"),
      ("tables.append.self_s", selfS("tables.append"), "s"),
      ("tables.checkpoint_commit.self_s", mean(tails.collect { case (true, s) => s }), "s"),
      ("tables.plain_commit.self_s", mean(tails.collect { case (false, s) => s }), "s"),
      ("tables.log.list_calls", store.lists.get / ops, "count"),
      ("tables.log.read_calls", store.reads.get / ops, "count"),
      ("tables.log.bytes_read", store.bytesRead.get / ops, "B"),
      ("tables.log.put_calls", store.puts.get / ops, "count"),
      ("tables.live_files", logs.map(_.snapshot().files.size.toDouble).sum, "count"),
      ("tables.log_versions", logs.map(_.latestVersion() + 1.0).sum, "count"),
      ("sources.plan.self_s", selfS("sources.plan"), "s"),
      ("sources.scan.self_s", selfS("sources.scan"), "s"),
      ("sources.stream.self_s", selfS("sources.stream"), "s"),
      ("sql.analyze.self_s", selfS("sql.analyze"), "s"),
      ("log.cdf.self_s", selfS("log.cdf"), "s"),
      ("log.cdf.jobs", jobs("log.cdf"), "count"),
      ("log.metrics.self_s", selfS("log.metrics"), "s"),
      ("log.metrics.log_reads", mean(named("log.metrics").map(_.logReads.toDouble)), "count"),
      ("pipeline.quality_gate.self_s", selfS("pipeline.quality_gate"), "s"),
      ("pipeline.dedup_against.self_s", selfS("pipeline.dedup_against"), "s"),
      ("pipeline.dedup_against.jobs", jobs("pipeline.dedup_against"), "count"),
      ("pipeline.clusters.self_s", selfS("pipeline.clusters"), "s"),
      ("pipeline.clusters.jobs", jobs("pipeline.clusters"), "count"),
      ("pipeline.simhash.self_s", selfS("pipeline.simhash"), "s"),
      ("pipeline.simhash.jobs", jobs("pipeline.simhash"), "count"),
      ("pipeline.call_time_jobs", pipeline.map(_.callJobs.toDouble).sum / ops, "count"),
      ("pipeline.exec_busy_frac", busy(pipeline), "ratio"),
      ("pipeline.shuffle_bytes", shuffle(pipeline), "B"),
      ("spark.jobs_per_op", spans.map(_.jobs).sum / ops, "count"),
      ("spark.stages_per_op", spans.map(_.stages).sum / ops, "count"),
      ("spark.exec_busy_frac", spans.map(_.runMs / 1e3).sum / (wallS * cores), "ratio"),
      ("jvm.gc_s", gcS, "s"),
      ("jvm.heap_peak_mb", heapPeakMb, "MB"),
      ("jvm.cold_op_s", coldS, "s"),
      ("lat.op_p50_s", untraced.p(0.5, untraced.lat.map(_._2)), "s"),
      ("lat.op_tail_s", untraced.tail(untraced.lat.map(_._2)), "s"),
      ("lat.rows_per_s", untraced.rowsPerS, "row/s")) ++
      Modules.map(m => (s"layer.$m.self_frac",
        spans.filter(_.layer == m).map(_.selfNs / 1e9).sum / wallS, "ratio")) ++
      Extras.map(n => (n, extras.getOrElse(n, 0.0), unitOf(n)))
  }

  private def unitOf(name: String): String =
    if (name.endsWith("_s")) "s" else if (name.endsWith("batches")) "count" else "ratio"
}
