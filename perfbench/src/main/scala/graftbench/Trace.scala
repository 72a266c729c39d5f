package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import graft.tables.LogStore

/** One traced call from the benchmark into a graft module. Spark work is
  * attached after the run, once the listener has drained.
  */
final class Span(val id: Int, val parent: Int, val name: String, val op: Int,
    val startNs: Long, val startMs: Long) {
  var endNs = 0L
  var endMs = Long.MaxValue
  var jobs = 0L
  var callJobs = 0L
  var stages = 0L
  var runMs = 0L
  var shuffleBytes = 0L
  var childNs = 0L
  var logReads = 0L
  def durNs: Long = endNs - startNs
  def selfNs: Long = durNs - childNs
  /** Module the span belongs to: the name up to its first dot
    * (`operators.merge` → `operators`).
    */
  def layer: String = name.takeWhile(_ != '.')
}

/** In-memory span recorder plus the Spark-listener attribution of jobs,
  * stages and tasks to spans. Off unless a traced phase turns it on; when
  * off, [[apply]] is a direct call.
  */
object Trace {
  val SpanKey = "graftbench.span"
  val PhaseKey = "graftbench.phase"

  @volatile var on = false
  @volatile var opId = -1
  private var sc: SparkContext = _
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  @volatile private var owner: Thread = _

  /** The innermost open span, seen from the thread that records spans. */
  def current: Option[Span] =
    if (on && Thread.currentThread() == owner) stack.headOption else None

  private case class JobEv(spanId: Option[Int], call: Boolean, timeMs: Long, stageIds: Seq[Int])
  private final class StageAgg { var runMs = 0L; var shuffle = 0L; var done = false }
  private val jobEvs = new ConcurrentLinkedQueue[JobEv]()
  private val stageAggs = new java.util.concurrent.ConcurrentHashMap[Int, StageAgg]()
  private def stageAgg(id: Int) = stageAggs.computeIfAbsent(id, _ => new StageAgg)

  def install(context: SparkContext): Unit = {
    sc = context
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
        val p = Option(e.properties)
        jobEvs.add(JobEv(
          p.flatMap(x => Option(x.getProperty(SpanKey))).map(_.toInt),
          p.exists(x => x.getProperty(PhaseKey) == "call"),
          e.time, e.stageIds))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on && e.taskMetrics != null) {
        val a = stageAgg(e.stageId)
        a.synchronized {
          a.runMs += e.taskMetrics.executorRunTime
          a.shuffle += e.taskMetrics.shuffleWriteMetrics.bytesWritten
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (on) stageAgg(e.stageInfo.stageId).done = true
    })
  }

  def apply[T](name: String)(body: => T): T =
    if (!on) body
    else {
      owner = Thread.currentThread()
      val s = new Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), name, opId,
        System.nanoTime(), System.currentTimeMillis())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        stack.headOption.foreach(_.childNs += s.durNs)
        sc.setLocalProperty(SpanKey, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Jobs started inside `body` count as call-time jobs of the enclosing
    * span: work an operator does before the caller's consuming action.
    */
  def call[T](body: => T): T =
    if (!on) body
    else {
      sc.setLocalProperty(PhaseKey, "call")
      try body finally sc.setLocalProperty(PhaseKey, null)
    }

  /** Attaches every delivered job/stage/task aggregate to its span. Jobs
    * without the span property (streaming threads started outside a span)
    * go to the innermost span open at the job's start time.
    */
  def attribute(): Unit = {
    org.apache.spark.BenchBridge.drainListeners(sc)
    val byStart = spans.sortBy(_.startMs)
    def innermostAt(t: Long): Option[Span] =
      byStart.filter(s => s.startMs <= t && t <= s.endMs).lastOption
    jobEvs.asScala.foreach { j =>
      j.spanId.map(spans(_)).orElse(innermostAt(j.timeMs)).foreach { s =>
        s.jobs += 1
        if (j.call) s.callJobs += 1
        j.stageIds.flatMap(id => Option(stageAggs.get(id))).filter(_.done).foreach { a =>
          s.stages += 1
          s.runMs += a.runMs
          s.shuffleBytes += a.shuffle
        }
      }
    }
  }

  /** Writes every span, with its attributed Spark work, as JSON lines. */
  def write(path: String): Unit = {
    val lines = spans.map { s =>
      Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString, "name" -> Json.str(s.name),
        "op" -> s.op.toString, "start_ms" -> s.startMs.toString, "dur_s" -> Json.num(s.durNs / 1e9),
        "self_s" -> Json.num(s.selfNs / 1e9), "jobs" -> s.jobs.toString, "call_jobs" -> s.callJobs.toString,
        "stages" -> s.stages.toString, "run_ms" -> s.runMs.toString, "shuffle_bytes" -> s.shuffleBytes.toString,
        "log_reads" -> s.logReads.toString))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path), lines.asJava)
    ()
  }
}

/** Counting delegate over the POSIX log store, registered on the
  * benchmark's table root in the traced phase: log list/read/put calls,
  * bytes read, and the time of every version claim so the commit tail
  * (claim, plus the checkpoint on every `CheckpointInterval`-th version)
  * can be split out of the operator's span.
  */
final class CountingLogStore(inner: LogStore) extends LogStore {
  val lists = new AtomicLong
  val reads = new AtomicLong
  val bytesRead = new AtomicLong
  val puts = new AtomicLong
  /** (version, nanoTime of the claim, `remove` actions in it) of every
    * committed log version; removes are the files a rewrite replaced.
    */
  val claims = new ConcurrentLinkedQueue[(Long, Long, Long)]()

  private val VersionFile = """.*/(\d+)\.json""".r

  override def list(dir: String): Seq[(String, Long)] = { lists.incrementAndGet(); inner.list(dir) }

  override def read(path: String): Seq[String] = {
    val lines = inner.read(path)
    reads.incrementAndGet()
    Trace.current.foreach(_.logReads += 1)
    bytesRead.addAndGet(lines.iterator.map(_.length + 1L).sum)
    lines
  }

  override def exists(path: String): Boolean = inner.exists(path)

  override def putIfAbsent(path: String, body: Array[Byte]): Unit = {
    puts.incrementAndGet()
    val t = System.nanoTime()
    inner.putIfAbsent(path, body)
    path match {
      case VersionFile(v) =>
        claims.add((v.toLong, t,
          new String(body, "UTF-8").linesIterator.count(_.startsWith("{\"remove\"")).toLong))
      case _ =>
    }
  }

  override def overwrite(path: String, body: Array[Byte]): Unit = {
    puts.incrementAndGet(); inner.overwrite(path, body)
  }

  override def delete(path: String): Boolean = inner.delete(path)
  override def createDirectories(dir: String): Unit = inner.createDirectories(dir)
  override def filesystemBacked: Boolean = inner.filesystemBacked
}
