package graftbench

/** `ingest_cdc`: the lakehouse table path — CDC writes, and the reads that
  * follow them.
  *
  * Each cycle of 17 ops is the 10 writes of [[CdcWrites]] (merge upserts,
  * SCD2, dedup append, delete, one sink micro-batch) and the 7 reads of
  * [[LakeReads]] (point lookups, SQL range aggregate, time travel, change
  * feed, log metrics, stream catch-up) over a separate table with a long
  * history, shuffled per cycle by the seed. Writes are the majority, so the
  * median op is a write.
  */
final class IngestCdc(c: Ctx) extends Workload(c) {
  private val writes = new CdcWrites(c)
  private val reads = new LakeReads(c)
  private val cycle = writes.cycle ++ reads.cycle
  private val parts = Seq(writes, reads)

  val kinds: Seq[String] = cycle.distinct
  val minOps: Int = cycle.size
  /** Phases end on whole cycles, so every phase runs the same mix. */
  override def stride: Int = cycle.size

  def setup(): Unit = parts.foreach(_.setup())

  def op(i: Int): Op = {
    val kind = kindAt(cycle, i)
    (if (writes.cycle.contains(kind)) writes else reads).op(kind, i)
  }

  def check(n: Int): Map[Int, String] = parts.map(_.check()).reduce(_ ++ _)
  def tables: Seq[String] = parts.flatMap(_.tables)
  def sizes: Seq[(String, String)] = parts.flatMap(_.sizes)
  override def layerExtras(p: Phase, untraced: Phase): Map[String, Double] =
    parts.map(_.layerExtras(p, untraced)).reduce(_ ++ _)
  override def beforeTraced(): Unit = parts.foreach(_.beforeTraced())
  override def close(): Unit = parts.foreach(_.close())
}
