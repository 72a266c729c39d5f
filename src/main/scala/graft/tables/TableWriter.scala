package graft.tables

import java.nio.file.{Files, Path => JPath, Paths, StandardCopyOption}
import java.util.UUID
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{StructField, StructType}

/** Physical write path for GraftTable commits.
  *
  * Data files are written by Spark into a staging directory, then moved
  * (same-filesystem rename, cheap) into the table directory, then the commit
  * is logged. Readers only see files referenced from committed log versions,
  * so a crashed write leaves at worst orphaned files, never a torn table.
  * A commit's change-data (CDC) rows stage on a second thread beside the
  * data write and land in `_change_data/` only once the data side has
  * succeeded (see `CdcStage`).
  *
  * Scale note: the actual data write is a fully distributed Spark job
  * (partitioned by `partitionBy`); only the per-file rename + footer-stat
  * harvest run on the driver, both O(files) metadata operations.
  */
object TableWriter {

  val HiveDefaultPartition = "__HIVE_DEFAULT_PARTITION__"

  /** Ensure session confs that make footer stats usable. */
  def ensureWriteConfs(spark: SparkSession): Unit = {
    // INT96 timestamps carry no usable min/max statistics; INT64 micros do.
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
  }

  sealed trait WriteMode
  case object Overwrite extends WriteMode
  case object Append extends WriteMode

  /** Write `df` as a new commit of the table at `tablePath`.
    *
    * @return the committed version
    */
  /** Whether [[write]] may register pre-staged parquet directly (see the
    * `preStagedDir` parameter): true when no row-altering write feature
    * would be skipped by bypassing the write projection.
    */
  /** Dotted paths of every NOT NULL field in `schema`: non-nullable
    * top-level columns and non-nullable STRUCT leaves at any depth (array/
    * map element nullability is not a per-row invariant — Delta's posture).
    * Struct leaves are collected regardless of the parent's own
    * nullability: the enforcement expression passes a row whose ancestor
    * struct is null, so a nullable parent never false-positives its leaves.
    */
  private[graft] def notNullPaths(schema: StructType): Seq[Seq[String]] = {
    def walk(st: StructType, prefix: Seq[String]): Seq[Seq[String]] =
      st.fields.toSeq.flatMap { f =>
        val self = if (f.nullable) Nil else Seq(prefix :+ f.name)
        f.dataType match {
          case s: StructType => self ++ walk(s, prefix :+ f.name)
          case _             => self
        }
      }
    walk(schema, Nil)
  }

  /** Copy the prior schema's NOT NULL brands onto same-named fields of an
    * overwrite's incoming schema (recursing into matching structs): a
    * field is non-null when EITHER side declares it — the incoming frame
    * may tighten (like create), the prior invariant never silently drops.
    */
  private def overlayBrands(prior: StructType, incoming: StructType): StructType =
    StructType(incoming.fields.map { f =>
      prior.fields.find(_.name.equalsIgnoreCase(f.name)) match {
        case Some(pf) =>
          val dt = (pf.dataType, f.dataType) match {
            case (ps: StructType, is: StructType) => overlayBrands(ps, is)
            case _                                => f.dataType
          }
          f.copy(dataType = dt, nullable = f.nullable && pf.nullable)
        case None => f
      }
    })

  def canRegisterPreStaged(props: Map[String, String], schema: StructType): Boolean =
    GraftTable.constraintsOf(props).isEmpty &&
      GraftTable.generatedColumnsOf(props).isEmpty &&
      GraftTable.defaultColumnsOf(props).isEmpty &&
      GraftTable.identityColumnsOf(props).isEmpty &&
      !ColumnMapping.isMapped(schema)

  def write(
      spark: SparkSession,
      tablePath: String,
      df: DataFrame,
      mode: WriteMode,
      partitionColumns: Seq[String] = Nil,
      // true = `partitionColumns` IS the complete intended layout, even when
      // empty (partition EVOLUTION to unpartitioned); false keeps the default
      // "empty inherits the table's layout" convenience
      explicitPartitioning: Boolean = false,
      properties: Map[String, String] = Map.empty,
      operation: String = "WRITE",
      operationParameters: Map[String, String] = Map.empty,
      extraMetrics: Map[String, String] = Map.empty,
      cdc: Option[DataFrame] = None,
      extraActions: Seq[Action] = Nil,
      removeFiles: Seq[String] = Nil,
      readFiles: Seq[String] = Nil,
      readVersion: Option[Long] = None,
      skipDataWrite: Boolean = false,
      // exact Metadata to commit (RESTORE reverting schema/properties to a
      // past version's) — bypasses the append-merge schema computation
      metadataOverride: Option[Metadata] = None,
      // CREATE OR REPLACE TABLE semantics: the committed properties are
      // session defaults ++ `properties` — the previous table state's
      // properties (and with them its CHECK constraints, CDF flag, column
      // mapping, generated/default/identity declarations) do NOT carry
      // over. Only meaningful with Overwrite mode.
      replaceProperties: Boolean = false,
      // Overwrite variant (Delta's `partitionOverwriteMode=dynamic`):
      // replace ONLY the partitions the incoming data lands in — removes
      // are the current files whose partitionValues match a staged add's,
      // recomputed per commit attempt (a concurrent blind append into a
      // replaced partition serializes BEFORE the overwrite and is replaced
      // with the rest of the partition — the same posture as full
      // Overwrite). Schema follows the APPEND merge rule (non-replaced
      // partitions keep their columns readable). On an unpartitioned table
      // every file shares the empty partition tuple, so this degrades to a
      // full overwrite — Spark's file-source semantics.
      dynamicPartitionOverwrite: Boolean = false,
      // data ALREADY written as physical-layout parquet (partition dirs
      // included) by the caller's own executors — the V2 streaming sink's
      // per-task writers. The staging write is skipped; everything after it
      // (optimizeWrite re-bin, move, footer stats, bloom, OCC commit) runs
      // unchanged. Because the write projection never executes on this
      // path, tables with row-altering write features (CHECK constraints,
      // generated/default/identity columns, column mapping) are REFUSED —
      // callers must gate on [[canRegisterPreStaged]] and fall back to a
      // DataFrame write.
      preStagedDir: Option[String] = None
  ): Long = {
    ensureWriteConfs(spark)
    val log = new GraftLog(tablePath)
    val exists = log.tableExists
    // APPEND consumes only the snapshot's metadata plane (schema merge,
    // properties, protocol, version) — commit removes are Nil or caller-
    // supplied. Past the driver-file limit the head alone loads, so
    // appends (and with them streaming epochs and COPY INTO) never fold a
    // 10⁶-entry file list the commit would not read. Overwrite modes keep
    // the full fold: their remove actions ARE the file list.
    def loadSnapshot(): Snapshot =
      if (mode == Append &&
          GraftTable.lazyReadEligible(spark, log, log.latestVersion()))
        DistributedSnapshot.snapshotHead(log, log.latestVersion())
      else log.snapshot()
    val prevSnapshot = if (exists) Some(loadSnapshot()) else None
    // writer gate (snapshot() above already gated READER features): a
    // writer missing a declared writer feature could corrupt invariants it
    // does not know exist — fail before anything is staged
    prevSnapshot.foreach { sn =>
      val unknown = sn.protocol.writerFeatures.filterNot(GraftLog.SupportedWriterFeatures)
      if (unknown.nonEmpty)
        throw new IllegalStateException(
          s"$tablePath requires writer feature(s) ${unknown.mkString(", ")} this " +
            "build does not implement (supported: " +
            s"${GraftLog.SupportedWriterFeatures.toSeq.sorted.mkString(", ")}); " +
            "upgrade the library to write this table")
    }

    val partCols =
      if (exists && partitionColumns.isEmpty && !explicitPartitioning)
        prevSnapshot.get.metadata.partitionColumns
      else partitionColumns
    prevSnapshot.foreach { s =>
      if (partitionColumns.nonEmpty && s.metadata.partitionColumns != partitionColumns && mode == Append)
        throw new IllegalArgumentException(
          s"append partitioning ${partitionColumns} != table partitioning ${s.metadata.partitionColumns}")
    }

    // Generated columns (`graft.generated.<col>` = sql expr, Delta's
    // generation-expression feature in property form): COMPUTED when the
    // incoming frame lacks the column — so writers never hand-maintain a
    // derived partition key — and ENFORCED (null-safe equality, inside the
    // write projection like CHECK constraints) when they provide one, so a
    // caller cannot silently desynchronize the column from its expression.
    require(!replaceProperties || mode == Overwrite,
      "replaceProperties is REPLACE TABLE semantics — Overwrite mode only")
    // the property base the commit builds on: the previous state's for
    // normal writes, session defaults for REPLACE (prior properties die
    // with the prior contents)
    def baseProps(snap: Option[Snapshot]): Map[String, String] =
      if (replaceProperties) GraftTable.sessionDefaultProperties(spark)
      else snap.map(_.metadata.properties)
        .getOrElse(GraftTable.sessionDefaultProperties(spark))
    val writeProps = metadataOverride.map(_.properties).getOrElse(
      baseProps(prevSnapshot) ++ properties)
    val genExprs = GraftTable.generatedColumnsOf(writeProps)
    // Column DEFAULTs (`graft.default.<col>` = sql expr, Delta's DEFAULT
    // feature in property form): when an APPEND's frame lacks the column
    // entirely, its rows get the default instead of the schema-merge null.
    // Unlike generated columns, a provided value always wins (defaults are
    // writable); overwrites replace the schema so absence there means the
    // column is gone, not defaulted.
    val defaultExprs = GraftTable.defaultColumnsOf(writeProps)
    val dfD =
      if (skipDataWrite || defaultExprs.isEmpty || mode != Append || prevSnapshot.isEmpty) df
      else defaultExprs.foldLeft(df) { case (d, (name, defExpr)) =>
        import org.apache.spark.sql.functions.expr
        val tableHas = prevSnapshot.get.schema.fieldNames.exists(_.equalsIgnoreCase(name))
        if (tableHas && !d.columns.exists(_.equalsIgnoreCase(name)))
          d.withColumn(name, expr(defExpr))
        else d
      }
    val dfG =
      if (skipDataWrite || genExprs.isEmpty) dfD
      else genExprs.foldLeft(dfD) { case (d, (name, genExpr)) =>
        import org.apache.spark.sql.functions.{assert_true, col, expr, lit}
        if (d.columns.exists(_.equalsIgnoreCase(name)))
          d.filter(assert_true(col(name) <=> expr(genExpr),
            lit(s"generated column $name does not match its generation " +
              s"expression ($genExpr)")).isNull)
        else d.withColumn(name, expr(genExpr))
      }

    // IDENTITY columns (`graft.identity.<col>` = "start,step", Delta's
    // GENERATED BY DEFAULT AS IDENTITY): a frame LACKING the column gets
    // dense values continuing from the table's high-water mark; the new
    // mark commits in the SAME metadata action, and a concurrent writer
    // advancing the same mark aborts the commit (identityRace below) so two
    // writers can never hand out overlapping ranges. Assignment runs the
    // input one extra time (per-partition counts), so feed a deterministic
    // frame — the post-write stats verification fails the commit if the
    // two passes disagree.
    val identDefs =
      if (skipDataWrite) Map.empty[String, (Long, Long)]
      else GraftTable.identityColumnsOf(writeProps)
    val (dfI, idProps, idAssigned) = assignIdentityColumns(dfG, identDefs, writeProps)

    // Schema: overwrite replaces; append merges by name (mergeSchema semantics,
    // reference DeltaHelpers.scala:375-378 — old files read as null for new
    // cols). A metadata OVERRIDE (RESTORE) supplies the committed schema
    // outright — merging would wrongly reject restores across a
    // type-changing overwrite.
    val newSchema = metadataOverride.map(m =>
      org.apache.spark.sql.types.DataType.fromJson(m.schemaJson)
        .asInstanceOf[StructType])
      .getOrElse((mode, prevSnapshot) match {
        case (Append, Some(s)) => mergeWithMapping(s, dfI.schema)
        // a plain OVERWRITE (INSERT OVERWRITE / mode=overwrite) replaces
        // the schema but KEEPS the prior NOT NULL brands on same-named
        // columns — like CHECK constraints (property-borne, they survive
        // too), a declared invariant outlives a data swap; only REPLACE
        // TABLE (replaceProperties) redefines the table outright. Values
        // are enforced below, so a branded overwrite with nulls refuses
        // with the DROP NOT NULL advice instead of silently un-branding.
        case (Overwrite, Some(s)) if !replaceProperties =>
          overlayBrands(s.schema, dfI.schema)
        case _                 => dfI.schema
      })

    // new tables inherit session-level default properties (e.g. CDF-on,
    // reference ChangeDataFeedHelperSpec.scala:20)
    val newProps = baseProps(prevSnapshot) ++ properties ++ idProps

    // CHECK constraints ride INSIDE the write projection (assert_true in a
    // filter — codegen'd per-row, no extra pass, and column pruning cannot
    // drop a filter): the staging write below fails on the first violating
    // row, before anything is committed. NULL predicates pass (SQL CHECK
    // semantics). Every mutation funnels through here — append, overwrite,
    // merge rewrite, delete/update keep-set, streaming epochs.
    // the property regime of the COMMITTED state: a metadata override
    // (RESTORE) reverts properties too, so its constraints/CDF flags — not
    // the current snapshot's — govern this commit
    val effectiveProps = metadataOverride.map(_.properties).getOrElse(newProps)
    val constraints =
      if (skipDataWrite) Map.empty[String, String]
      else GraftTable.constraintsOf(effectiveProps)
    val checkedDf = constraints.foldLeft(dfI) { case (d, (name, pred)) =>
      import org.apache.spark.sql.functions.{assert_true, coalesce, expr, lit}
      val parsedRefs = spark.sessionState.sqlParser.parseExpression(pred).collect {
        case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => u.nameParts
      }
      val inTable = newSchema.fieldNames.map(_.toLowerCase).toSet
      // a reference names a TOP-LEVEL column when its head part matches one
      // (struct access a.b reads column a) — in the POST-write schema or the
      // pre-write one (a dropped struct column is still a column ref: the
      // orphan check below must see it). A multi-part reference whose head
      // matches neither (e.g. an alias-qualified t.id) is left to normal
      // expression resolution, which reports it accurately — head-taking
      // here used to misreport it as "write would drop column t"
      val everAColumn = inTable ++
        prevSnapshot.toSeq.flatMap(_.schema.fieldNames.map(_.toLowerCase))
      val refs = parsedRefs.collect {
        case parts if parts.size == 1 || everAColumn.contains(parts.head.toLowerCase) =>
          parts.head
      }
      // a write that would leave the TABLE without a constrained column
      // (overwrite replacing the schema) must be rejected, not allowed to
      // reduce the constraint to a vacuous null-check forever (Delta rejects
      // constraint-orphaning schema changes the same way)
      val orphaned = refs.filterNot(r => inTable.contains(r.toLowerCase)).distinct
      if (orphaned.nonEmpty)
        throw new IllegalArgumentException(
          s"write would drop column(s) ${orphaned.mkString(", ")} referenced by CHECK " +
            s"constraint $name ($pred); drop the constraint first")
      // a narrower (schema-merging) append may lack constrained columns the
      // TABLE still has: those rows ARE null there, so the check must see
      // typed nulls — not fail resolution
      val have = d.columns.map(_.toLowerCase).toSet
      val missing = refs.filterNot(r => have.contains(r.toLowerCase)).distinct
      val widened = missing.foldLeft(d) { (dd, c) =>
        val dt = newSchema.fields.find(_.name.equalsIgnoreCase(c))
          .map(_.dataType).getOrElse(org.apache.spark.sql.types.StringType)
        dd.withColumn(c, lit(null).cast(dt))
      }
      widened.filter(assert_true(coalesce(expr(pred), lit(true)),
        lit(s"CHECK constraint $name ($pred) violated by a written row")).isNull)
        .drop(missing: _*)
    }

    // NOT NULL invariants (Delta's nullability enforcement): the committed
    // schema's non-nullable fields are checked per ROW, inside the same
    // write projection as CHECK constraints — the table's brand is
    // authoritative, the incoming frame's schema nullability is irrelevant.
    // A frame MISSING a non-nullable column outright is rejected up front
    // (its rows would all read null there); generated/default/identity
    // fills ran above, so a declared fill satisfies the invariant.
    // Nested rule: a leaf violates only when every ancestor struct is
    // non-null — a null ancestor has no leaf to check (and a non-nullable
    // ancestor null is its own violation at its own depth).
    val nnDf =
      if (skipDataWrite) checkedDf
      else {
        val enforced = notNullPaths(newSchema)
        val have = checkedDf.columns.map(_.toLowerCase).toSet
        // a column with a DECLARED fill (generated/default/identity) is
        // materialized by the projections above whenever rows exist — an
        // EMPTY frame skips the fill, but an empty frame also writes no
        // row that could violate, so absence of a filled column is fine
        val filled = (GraftTable.generatedColumnsOf(writeProps).map(_._1) ++
          GraftTable.defaultColumnsOf(writeProps).map(_._1) ++
          GraftTable.identityColumnsOf(writeProps).keys)
          .map(_.toLowerCase).toSet
        val absent = enforced.collect {
          case path if path.lengthCompare(1) == 0 &&
              !have.contains(path.head.toLowerCase) &&
              !filled.contains(path.head.toLowerCase) => path.head
        }
        if (absent.nonEmpty)
          throw new IllegalArgumentException(
            s"NOT NULL constraint violated for column(s) ${absent.mkString(", ")}: " +
              "the written data has no such column(s), so every row would be " +
              "null there; provide the column(s) or drop the NOT NULL " +
              "constraint (ALTER COLUMN ... DROP NOT NULL)")
        enforced.filter(p => have.contains(p.head.toLowerCase))
          .foldLeft(checkedDf) { (d, path) =>
            import org.apache.spark.sql.functions.{assert_true, col, lit}
            val name = path.mkString(".")
            val nullAncestor = (1 until path.length)
              .map(i => col(path.take(i).mkString(".")).isNull)
              .foldLeft(org.apache.spark.sql.functions.lit(false))(_ || _)
            d.filter(assert_true(nullAncestor || col(name).isNotNull,
              lit(s"NOT NULL constraint violated for column: $name")).isNull)
          }
      }

    // 1. distributed write to staging — a sibling dir of the table, so the
    // per-file landing moves below are same-filesystem renames on every
    // scheme (local rename or hadoop.fs rename — never byte copies)
    Fs.mkdirs(tablePath)
    val staging = Fs.createTempDir(Fs.parent(tablePath), ".graft-staging-")
    val stagingDir = Fs.child(staging, "data")
    // CDC rows (when provided and CDF is on) stage on a second thread, next
    // to the data write below — see [[CdcStage]]
    val version = prevSnapshot.map(_.version + 1).getOrElse(0L)
    val cdfOn = effectiveProps.get(GraftLog.CdfProperty).exists(_.equalsIgnoreCase("true"))
    val cdcStage = cdc.filter(_ => cdfOn).map(new CdcStage(spark, tablePath, _, newSchema))
    try {
      // column mapping's write boundary: staged parquet carries PHYSICAL
      // column names (identity select for unmapped tables)
      val physPartCols = partCols.map(c =>
        newSchema.fields.find(_.name.equalsIgnoreCase(c))
          .map(ColumnMapping.physicalName).getOrElse(c))
      val adds: Seq[AddFile] = if (skipDataWrite) Nil else {
        preStagedDir match {
          case Some(pre) =>
            // the write projection (constraints, generated/default/identity
            // columns, physical-name mapping) never runs on pre-staged
            // data — refuse feature combinations it would silently skip
            require(canRegisterPreStaged(effectiveProps, newSchema),
              s"pre-staged registration into $tablePath requires a table without " +
                "CHECK constraints, generated/default/identity columns and column " +
                "mapping — write through the DataFrame path instead")
            Fs.moveNoReplace(pre, stagingDir)
          case None =>
            val physicalDf = ColumnMapping.toPhysical(nnDf, newSchema)
            val writer = physicalDf.write.mode("overwrite")
            (if (physPartCols.nonEmpty) writer.partitionBy(physPartCols: _*) else writer)
              .parquet(stagingDir)
        }

        // optimizeWrite (Delta's table property): re-bin a small-file
        // staging output BEFORE it enters the table, so a 200-task append
        // lands as a handful of right-sized files instead of 200 shards —
        // at scale this keeps file counts (and every later scan's task
        // count) proportional to DATA SIZE, not writer parallelism. The
        // extra pass reads only this commit's own staged bytes — in the
        // staged files' PHYSICAL layout: reading them back with logical
        // names would null out every renamed column. (Pre-staged data is
        // gated unmapped, so its logical layout IS physical.)
        val stagedSchema = StructType(nnDf.schema.fields.map { f =>
          newSchema.fields.find(_.name.equalsIgnoreCase(f.name))
            .map(tf => f.copy(name = ColumnMapping.physicalName(tf)))
            .getOrElse(f)
        })
        coalesceStaging(spark, staging, stagingDir, stagedSchema, physPartCols,
          effectiveProps, operation, newSchema)

        // 2. move produced parquet files into the table dir
        val moved = moveDataFiles(stagingDir, tablePath)

        // 3. footer stats per file — harvested in a bounded thread pool:
        // footers are independent ~KB reads, and a serial driver loop would
        // make stats collection the commit's critical path at large file
        // counts (a 10k-file commit at ~10 ms/footer is 100 s serial, ~4 s
        // at 32-way I/O parallelism). Order is preserved (zip by index).
        val conf = spark.sessionState.newHadoopConf()
        // user-directed stats budget (graft.dataSkippingStatsColumns):
        // resolved once per write, PHYSICAL paths for the files' own schema
        val statsSel = ParquetStats.statsColumnsOf(effectiveProps, newSchema)
        val harvested = harvestParallel(moved) { rel =>
          val abs = Fs.child(tablePath, rel)
          val stats = ParquetStats.forFile(abs, conf, statsSel)
          AddFile(
            path = rel,
            partitionValues = partitionValuesOf(rel),
            size = Fs.size(abs),
            stats = GraftLog.renderStats(stats)
          )
        }
        // zero-record part files (a delete emptying its file, an empty
        // shuffle slot) must not enter the table: each would be a
        // permanent no-op scan task, and a full-file DELETE would read as
        // a rewrite instead of a pure remove (breaking ignoreDeletes)
        val (empty, real) = harvested.partition(a =>
          GraftLog.parseStats(a.stats).exists(_.numRecords == 0L))
        empty.foreach(a => Fs.deleteIfExists(Fs.child(tablePath, a.path)))
        real
      }
      // per-file bloom indexes when the table opts in (one extra pass over
      // the freshly written files — see BloomIndex)
      val indexedAdds = BloomIndex.attach(spark, tablePath, adds, newSchema, partCols, newProps)
      val numOutputRows = indexedAdds.flatMap(a => GraftLog.parseStats(a.stats)).map(_.numRecords).sum

      // identity verification: the count pass and the write pass must have
      // seen the same rows — the written files' own footer stats prove it
      // (extremum of the assigned column == the reserved range's last
      // value, row count == the counted n). A nondeterministic input frame
      // fails HERE, before the commit, instead of corrupting uniqueness.
      idAssigned.foreach { case (c, (last, step, n)) =>
        val phys = newSchema.fields.find(_.name.equalsIgnoreCase(c))
          .map(ColumnMapping.physicalName).getOrElse(c)
        val written = indexedAdds
          .flatMap(a => GraftLog.parseStats(a.stats))
          .flatMap(s => (if (step > 0) s.maxValues else s.minValues).get(phys))
          .flatMap(v => scala.util.Try(v.toLong).toOption)
        val ok = numOutputRows == n && written.nonEmpty &&
          (if (step > 0) written.max else written.min) == last
        if (!ok)
          throw new IllegalStateException(
            s"identity assignment of column $c diverged between the count pass " +
              s"(n=$n, expected last value $last) and the write pass " +
              s"(rows=$numOutputRows, written extremum ${if (written.isEmpty) "none" else (if (step > 0) written.max else written.min).toString}); " +
              "the input frame is nondeterministic — checkpoint it before writing")
      }

      // 4. CDC files: their staging write ran alongside steps 1-3; the files
      // enter `_change_data` only now that the data staging write and its
      // stats have succeeded
      val cdcActions: Seq[Action] = cdcStage.map(_.land(version)).getOrElse(Nil)

      // 5. assemble + commit, with optimistic-concurrency retry.
      // A blind append (no removed files, no read footprint, no overwrite)
      // commutes with any concurrent commit: on conflict, re-read the
      // snapshot, re-merge the schema and retry at the next version. Any
      // other commit gets the SEMANTIC check (Delta's WriteSerializable
      // rule, inherited by the reference via DeltaHelpers.scala:112
      // withNewTransaction): it rebases and retries only when every winning
      // commit is file-disjoint from BOTH this commit's removes AND its
      // read footprint (`readFiles` — e.g. a merge's candidate files, a
      // superset of the files it rewrites), and no winner changed table
      // metadata. A winner that rewrote a candidate-but-untouched file may
      // have changed which rows match, so retrying would re-commit stale
      // match decisions — Delta raises ConcurrentDeleteReadException for
      // exactly this remove-vs-read conflict. Two writers deleting
      // different partitions still both succeed.
      // operation-specific file-count keys are computed here (the caller
      // can't know them before the write); the Delta metric vocabulary is
      // what the metric helpers parse (graft.log.OperationMetric)
      val opSpecific = operation match {
        case "MERGE" => Map(
          "numTargetFilesAdded" -> adds.size.toString,
          "numTargetChangeFilesAdded" -> cdcActions.size.toString)
        case "DELETE" | "UPDATE" => Map(
          "numAddedFiles" -> adds.size.toString,
          "numAddedBytes" -> adds.map(_.size).sum.toString,
          "numAddedChangeFiles" -> cdcActions.size.toString)
        case _ => Map.empty[String, String]
      }
      val metrics = Map(
        "numFiles" -> adds.size.toString,
        "numOutputRows" -> numOutputRows.toString,
        "numOutputBytes" -> adds.map(_.size).sum.toString
      ) ++ extraMetrics ++ opSpecific
      val commutable = mode == Append && removeFiles.isEmpty && readFiles.isEmpty
      // A transaction that DECIDED its writes from an earlier snapshot
      // (`readVersion`) must validate every commit that landed since — not
      // just commits that collide on a version number. Without this, a
      // winner landing between the caller's snapshot read and this point is
      // invisible: the commit lands on top at latest+1 with no conflict
      // check at all (Delta validates from txn.readVersion for the same
      // reason). The same footprint rule applies: a winner removing any
      // file we removed OR read invalidates our decisions.
      val ourTxnApps = extraActions.collect { case t: SetTransaction => t.appId }.toSet
      readVersion.foreach { rv =>
        val footprint = removeFiles.toSet ++ readFiles
        val conflicted = !disjointFromWinners(log, rv + 1, footprint,
          metadataOverride.getOrElse(Metadata(newSchema.json, partCols, newProps)), ourTxnApps,
          removeFiles.toSet)
        if (conflicted)
          throw new java.util.ConcurrentModificationException(
            s"commit of $operation to $tablePath conflicts with a concurrent writer " +
              s"that committed after version $rv (the winner removed a file this " +
              "operation read or rewrote, changed table metadata, or advanced an " +
              "idempotence watermark this operation carries); re-run the operation")
      }
      val maxAttempts = 20
      var attemptSnap = prevSnapshot
      var attempt = 0
      var committed = -1L
      while (committed < 0) {
        attempt += 1
        // re-check the writer gate per attempt: a conflicting winner may
        // have upgraded the protocol past this build between retries
        attemptSnap.foreach { sn =>
          val unknown = sn.protocol.writerFeatures.filterNot(GraftLog.SupportedWriterFeatures)
          if (unknown.nonEmpty)
            throw new IllegalStateException(
              s"$tablePath now requires writer feature(s) ${unknown.mkString(", ")} this " +
                "build does not implement (a concurrent writer upgraded the protocol); " +
                "upgrade the library to write this table")
        }
        val v = attemptSnap.map(_.version + 1).getOrElse(0L)
        val schemaNow = metadataOverride.map(m =>
          org.apache.spark.sql.types.DataType.fromJson(m.schemaJson)
            .asInstanceOf[StructType])
          .getOrElse((mode, attemptSnap) match {
            case (Append, Some(s)) => mergeWithMapping(s, dfI.schema)
            // dynamic overwrite keeps non-replaced partitions readable:
            // schema evolves by the append MERGE rule, never narrows
            case (Overwrite, Some(s)) if dynamicPartitionOverwrite =>
              mergeWithMapping(s, dfI.schema)
            case _                 => newSchema
          })
        val propsNow = metadataOverride.map(_.properties).getOrElse(
          baseProps(attemptSnap) ++ properties ++ idProps)
        val removes: Seq[Action] = (mode match {
          case Overwrite if dynamicPartitionOverwrite =>
            val touched = adds.map(_.partitionValues).toSet
            attemptSnap.map(_.files.filter(f => touched.contains(f.partitionValues))
              .map(f => RemoveFile(f.path))).getOrElse(Nil)
          case Overwrite => attemptSnap.map(_.files.map(f => RemoveFile(f.path))).getOrElse(Nil)
          case Append    => Nil
        }) ++ removeFiles.map(RemoveFile(_))
        val partColsNow = metadataOverride.map(_.partitionColumns).getOrElse(partCols)
        val metaChanged = attemptSnap.forall { s =>
          s.schema != schemaNow || s.metadata.properties != propsNow ||
          s.metadata.partitionColumns != partColsNow
        }
        val metaActions: Seq[Action] =
          if (metaChanged) Seq(Metadata(schemaNow.json, partColsNow, propsNow)) else Nil
        // protocol auto-upgrade: properties enabling a feature for the
        // first time add it to the table's feature sets (never downgrades)
        val protoActions: Seq[Action] = {
          val (rr, ww) = GraftLog.requiredFeatures(propsNow)
          val cur = attemptSnap.map(_.protocol).getOrElse(Protocol())
          if (rr.subsetOf(cur.readerFeatures.toSet) && ww.subsetOf(cur.writerFeatures.toSet)) Nil
          else Seq(Protocol(cur.minReaderVersion, cur.minWriterVersion,
            (cur.readerFeatures.toSet ++ rr).toSeq.sorted,
            (cur.writerFeatures.toSet ++ ww).toSeq.sorted))
        }
        val commitInfo = CommitInfo(
          timestamp = System.currentTimeMillis(),
          operation = operation,
          operationParameters = operationParameters,
          operationMetrics = metrics
        )
        try {
          log.commit(v, metaActions ++ protoActions ++ indexedAdds ++ removes ++ cdcActions ++ extraActions :+ commitInfo)
          committed = v
        } catch {
          case e: CommitConflictException =>
            // an idempotent-writer commit (carries SetTransaction) must NOT
            // blind-retry past a winner that advanced the same appId — that
            // is a zombie instance of the same stream double-writing an
            // epoch; surface it so the sink re-reads the watermark and skips
            val txnRace = ourTxnApps.nonEmpty &&
              (v to log.latestVersion()).exists { w =>
                (try log.actionsAt(w) catch { case _: Exception => Nil }).exists {
                  case t: SetTransaction => ourTxnApps.contains(t.appId)
                  case _                 => false
                }
              }
            // a winner that changed the CHECK-constraint set invalidates the
            // STAGED files — they were written through the old constraint
            // filters, and a blind-append retry would land rows a just-added
            // constraint never saw. The non-commutable path already aborts
            // on any metadata change via disjointFromWinners.
            val constraintRace = !skipDataWrite &&
              (v to log.latestVersion()).exists { w =>
                (try log.actionsAt(w) catch { case _: Exception => Nil }).exists {
                  case m: Metadata =>
                    GraftTable.constraintsOf(m.properties) != constraints
                  case _ => false
                }
              }
            // a winner that advanced an identity high-water mark this commit
            // also advances handed out the SAME id range — the staged files
            // carry colliding values, so no retry can save them; the caller
            // must re-run (and re-assign) the whole write
            val identityRace = idProps.nonEmpty &&
              (v to log.latestVersion()).exists { w =>
                (try log.actionsAt(w) catch { case _: Exception => Nil }).exists {
                  case m: Metadata =>
                    m.properties.exists { case (k, vv) =>
                      k.startsWith(GraftTable.IdentityPropertyPrefix) &&
                        k.endsWith(".high") && !writeProps.get(k).contains(vv)
                    }
                  case _ => false
                }
              }
            val retryable = !txnRace && !constraintRace && !identityRace && (commutable ||
              disjointFromWinners(log, v,
                removes.collect { case r: RemoveFile => r.path }.toSet ++ readFiles,
                Metadata(schemaNow.json, partColsNow, propsNow), ourTxnApps,
                removes.collect { case r: RemoveFile => r.path }.toSet))
            if (!retryable || attempt >= maxAttempts)
              throw new java.util.ConcurrentModificationException(
                s"commit of $operation at version ${e.version} of $tablePath lost a race with " +
                  "a concurrent writer and is not safely retryable " +
                  "(the winner touched the same files, table metadata, or idempotence " +
                  "watermark); re-run the operation")
            attemptSnap = Some(loadSnapshot()) // same head-vs-fold rule per retry
        }
      }
      if (operation != "OPTIMIZE" && !skipDataWrite)
        autoCompact(spark, tablePath, log, committed, effectiveProps,
          indexedAdds.collect { case a: AddFile => a })
      // symlink-manifest auto-refresh (Delta's compatibility property):
      // best-effort like autoCompact — the commit has already landed; reads
      // through the LOG are unaffected by a failed refresh, only external
      // manifest readers lag until the next commit. Runs for ALL operations
      // (a RESTORE or OPTIMIZE changes the live file set too).
      if (effectiveProps.get(SymlinkManifest.Property).contains("true"))
        try { SymlinkManifest.write(tablePath, log.snapshot()); () }
        catch { case e: Exception =>
          Console.err.println(s"graft manifest refresh of $tablePath skipped: ${e.getMessage}")
        }
      // expired-log cleanup (Delta's `delta.enableExpiredLogCleanup`):
      // opt-in, piggybacks on the checkpoint cadence so it is O(expired)
      // every N commits and free otherwise; best-effort like the other
      // post-commit hooks — the commit has already landed
      if (committed > 0 && committed % GraftLog.CheckpointInterval == 0 &&
          effectiveProps.get(GraftLog.ExpiredLogCleanupProperty).contains("true"))
        try {
          log.retentionHorizon(effectiveProps, System.currentTimeMillis())
            .foreach(h => log.cleanupBelow(h))
          ()
        } catch { case scala.util.control.NonFatal(e) =>
          Console.err.println(s"graft expired-log cleanup of $tablePath skipped: ${e.getMessage}")
        }
      committed
    } catch {
      case scala.util.control.NonFatal(e) => throw cdcStage.fold(e)(_.abort(e))
    } finally {
      cdcStage.foreach(_.close())
      Fs.deleteRecursively(staging)
    }
  }

  val AutoCompactProperty = "graft.autoOptimize.autoCompact"
  val AutoCompactMinFilesProperty = "graft.autoOptimize.minNumFiles"
  val DefaultAutoCompactMinFiles = 50

  /** Post-commit auto-compaction (Delta's `autoOptimize.autoCompact`): when
    * the partitions THIS commit touched have accumulated at least
    * [[AutoCompactMinFilesProperty]] under-target files, rewrite them into
    * ~[[TargetFileSizeProperty]]-sized ones as a follow-on OPTIMIZE commit.
    * Streaming epochs and frequent small appends are the 100 TB motivation:
    * without a compaction hook, file count — and with it every scan's task
    * count and the log's snapshot fold — grows with COMMIT count forever.
    * Best-effort: a lost race with a concurrent writer skips the compaction
    * (the next qualifying commit retries); the triggering write has already
    * committed and never fails here. Scoped to touched partitions so a hot
    * partition's churn never forces a rewrite of cold ones, and exempt for
    * OPTIMIZE commits (no self-recursion).
    */
  /** Dense identity-value assignment for columns the frame lacks.
    *
    * Two passes over the SAME plan: (1) per-partition row counts — one job,
    * O(partitions) driver rows — become exclusive prefix offsets; (2) the
    * write itself computes `high + step * (offset(pid) + rowIdxInPartition
    * + 1)` as pure column arithmetic (`spark_partition_id` + the low 33
    * bits of `monotonically_increasing_id`; the offset array constant-folds
    * into a literal). No global sort, no driver funnel, fully codegen'd —
    * at any scale the only coordination is the O(partitions) count collect.
    * Returns the frame with ids attached, the advanced high-water
    * properties, and per-column (last, step, n) for post-write
    * verification.
    */
  private def assignIdentityColumns(
      df: DataFrame,
      defs: Map[String, (Long, Long)],
      props: Map[String, String]): (DataFrame, Map[String, String], Map[String, (Long, Long, Long)]) = {
    import org.apache.spark.sql.functions._
    val missing = defs.filter { case (c, _) => !df.columns.exists(_.equalsIgnoreCase(c)) }
    if (missing.isEmpty) return (df, Map.empty, Map.empty)
    val counts = df.groupBy(spark_partition_id().as("__pid")).count()
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val n = counts.map(_._2).sum
    if (n == 0) return (df, Map.empty, Map.empty)
    val offsets = new Array[Long](counts.map(_._1).max + 1)
    var acc = 0L
    counts.foreach { case (p, c) => offsets(p) = acc; acc += c }
    val offArr = array(offsets.toIndexedSeq.map(lit(_)): _*)
    val rank = element_at(offArr, spark_partition_id() + 1) +
      monotonically_increasing_id().bitwiseAND(lit((1L << 33) - 1)) + lit(1L)
    var out = df
    var idProps = Map.empty[String, String]
    var assigned = Map.empty[String, (Long, Long, Long)]
    missing.foreach { case (c, (start, step)) =>
      val base = props.get(GraftTable.identityHighKey(c)).map(_.toLong).getOrElse(start - step)
      out = out.withColumn(c, (lit(base) + lit(step) * rank).cast("long"))
      idProps += GraftTable.identityHighKey(c) -> (base + step * n).toString
      assigned += c -> ((base + step * n, step, n))
    }
    (out, idProps, assigned)
  }

  private def autoCompact(
      spark: SparkSession,
      tablePath: String,
      log: GraftLog,
      committedVersion: Long,
      props: Map[String, String],
      committedAdds: Seq[AddFile]): Unit = {
    if (!props.get(AutoCompactProperty).exists(_.equalsIgnoreCase("true"))) return
    // a commit that added no files (pure delete, metadata change) created no
    // small files — and an empty touched-set must NOT widen to a full-table
    // sweep on a partitioned table
    if (committedAdds.isEmpty) return
    try {
      val target = props.get(TargetFileSizeProperty).map(_.trim.toLong)
        .getOrElse(DefaultTargetFileSize)
      val minFiles = props.get(AutoCompactMinFilesProperty).map(_.trim.toInt)
        .getOrElse(DefaultAutoCompactMinFiles)
      require(minFiles > 1 && target > 0,
        s"$AutoCompactMinFilesProperty must be > 1 and $TargetFileSizeProperty > 0")
      val snap = log.snapshot(committedVersion)
      val touched: Set[Map[String, String]] = committedAdds.map(_.partitionValues).toSet
      val candidates = snap.files.filter(f =>
        f.size < target && touched.contains(f.partitionValues))
      if (candidates.size < minFiles) return
      val totalBytes = candidates.map(_.size).sum
      val nOut = math.max(1L, math.ceil(totalBytes.toDouble / target).toLong).toInt
      val table = GraftTable.forPath(spark, tablePath)
      val clusterCols = clusterByColumns(props, snap.schema)
      val raw = table.dfForFiles(snap, candidates)
      // honor graft.clusterBy here too: compaction must not round-robin
      // away the clustering the write path maintains. Partition columns
      // LEAD the range key (as in coalesceStaging): ranging on cluster
      // cols alone would interleave every touched partition into every
      // shard, and partitionBy would then re-split each shard per value —
      // more small files out than in, so compaction never converges.
      val rangeCols = snap.metadata.partitionColumns ++ clusterCols
      val data =
        if (clusterCols.nonEmpty)
          raw.repartitionByRange(nOut, rangeCols.map(
              org.apache.spark.sql.functions.col): _*)
            .sortWithinPartitions(rangeCols.map(
              org.apache.spark.sql.functions.col): _*)
        else raw.repartition(nOut)
      write(spark, tablePath, data, Append,
        operation = "OPTIMIZE",
        operationParameters = Map("auto" -> "true", "predicate" -> "[]"),
        extraMetrics = Map(
          "numRemovedFiles" -> candidates.size.toString,
          "numRemovedBytes" -> totalBytes.toString),
        removeFiles = candidates.map(_.path),
        readVersion = Some(committedVersion))
      ()
    } catch {
      // best-effort by contract: the triggering write has ALREADY committed,
      // so neither a lost race (a concurrent winner rewrote a candidate —
      // its leftovers qualify again next commit) nor a malformed sizing
      // property may fail it — warn and move on
      case scala.util.control.NonFatal(e) =>
        Console.err.println(s"graft autoCompact of $tablePath skipped: ${e.getMessage}")
    }
  }

  /** Semantic OCC check for a commit that lost the race at
    * `attemptedVersion`: true when every winning commit (attemptedVersion up
    * to the current latest) removed no file in `ourFootprint` — this
    * commit's removes PLUS everything it read to decide them (candidate
    * files for MERGE/DELETE/UPDATE; Delta's
    * checkForDeletedFilesAgainstCurrentTxnReadFiles) — and none changed
    * table metadata. Then the loser can rebase and retry without dropping
    * any winner's work or re-committing stale match decisions. Winner ADDS
    * never conflict at file level (new unique names); ignoring them is
    * Delta's WriteSerializable relaxation: the outcome is as if this commit
    * ran first and the winner's appended rows arrived after.
    */
  private def disjointFromWinners(
      log: GraftLog,
      attemptedVersion: Long,
      ourFootprint: Set[String],
      ourMetadata: Metadata,
      ourTxnApps: Set[String] = Set.empty,
      ourRemoves: Set[String] = Set.empty): Boolean = {
    val latest = log.latestVersion()
    (attemptedVersion to latest).forall { w =>
      val actions = try log.actionsAt(w) catch { case _: Exception => return false }
      actions.forall {
        // a winner Metadata identical to what this attempt would write is
        // benign (e.g. both normalize create-time nullability); any real
        // schema/partitioning/property change under us aborts
        case m: Metadata       => m == ourMetadata
        case r: RemoveFile     => !ourFootprint.contains(r.path)
        // fresh winner adds never collide (unique names) — EXCEPT a RESTORE
        // re-adding a path this commit is removing (e.g. fsck dropping a
        // reference a concurrent restore just revived): removing it now
        // would silently lose the restored rows
        case a: AddFile        => !ourRemoves.contains(a.path)
        // a winner advancing an idempotence watermark this commit carries is
        // the same logical stream double-writing an epoch (zombie instance)
        case t: SetTransaction => !ourTxnApps.contains(t.appId)
        case _                 => true
      }
    }
  }

  /** Run `f` over `items` on a bounded I/O pool (≤32 threads), preserving
    * order and propagating the first failure. Used for per-file footer
    * harvesting, where work is independent small I/O and driver CPU is idle.
    */
  private[graft] def harvestParallel[A, B](items: Seq[A])(f: A => B): Seq[B] = {
    if (items.size <= 1) items.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(32, items.size))
      try {
        val futures = items.map(a => pool.submit(new java.util.concurrent.Callable[B] {
          override def call(): B = f(a)
        }))
        futures.map { fut =>
          try fut.get()
          catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
        }
      } finally pool.shutdownNow()
    }
  }

  val OptimizeWriteProperty = "graft.optimizeWrite.enabled"
  val TargetFileSizeProperty = "graft.targetFileSizeBytes"
  val DefaultTargetFileSize: Long = 128L * 1024 * 1024
  val ClusterByProperty = "graft.clusterBy"

  /** Comma-separated [[ClusterByProperty]] columns, validated against
    * `schema` (case-insensitively, resolving to the schema's spelling).
    * Dotted paths cluster on NESTED struct leaves (their per-file stats
    * make the clustering skippable); paths through arrays/maps have no
    * one-value-per-row leaf and refuse loudly.
    */
  private[graft] def clusterByColumns(
      props: Map[String, String], schema: StructType): Seq[String] =
    props.get(ClusterByProperty).toSeq
      .flatMap(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .map { c =>
        ColumnMapping.structLeafChain(schema, c.split('.').toSeq)
          .map(_.map(_.name).mkString(".")).getOrElse(
            throw new IllegalArgumentException(
              s"$ClusterByProperty column '$c' is not a struct-leaf path in the table schema"))
      }

  /** When [[OptimizeWriteProperty]] is set on the table, rewrite the staged
    * parquet output into ~[[TargetFileSizeProperty]]-sized files (one
    * shuffle of this commit's own data). No-op when the output is already
    * at-or-under the target bin count, and for OPTIMIZE commits — compact
    * and zorder stage deliberately clustered/sorted files, and a re-bin
    * here would round-robin that layout away (Delta disables optimizeWrite
    * for OPTIMIZE for the same reason). Partitioned output range-partitions
    * on (partition cols, salt) so a hot partition value splits across bins
    * proportionally to its bytes instead of collapsing into one writer
    * task. The explicit schema on the read-back keeps partition-column
    * TYPES exact — path-based inference would turn a string partition value
    * "00" into the int 0.
    */
  private def coalesceStaging(
      spark: SparkSession,
      stagingRoot: String,
      stagingDir: String,
      schema: StructType,
      partCols: Seq[String],
      props: Map[String, String],
      operation: String,
      tableSchema: StructType): Unit = {
    if (!props.get(OptimizeWriteProperty).exists(_.equalsIgnoreCase("true"))) return
    if (operation == "OPTIMIZE") return
    val target = props.get(TargetFileSizeProperty).map { raw =>
      val t = try raw.trim.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"$TargetFileSizeProperty must be a positive byte count, got '$raw'")
      }
      require(t > 0, s"$TargetFileSizeProperty must be a positive byte count, got '$raw'")
      t
    }.getOrElse(DefaultTargetFileSize)
    val staged = listParquetFiles(stagingDir)
    if (staged.size <= 1) return
    val totalBytes = staged.map(Fs.size(_)).sum
    val nOut = math.max(1L, math.ceil(totalBytes.toDouble / target).toLong).toInt
    if (nOut >= staged.size) return // already right-sized: skip the extra pass
    val df = spark.read.schema(schema).option("basePath", stagingDir).parquet(stagingDir)
    import org.apache.spark.sql.functions.{col, rand}
    // validate against the TABLE schema (a bad property must fail loudly),
    // but cluster only on the columns THIS write carries — a narrower
    // schema-merging append's missing cluster columns are all-null there,
    // not an error
    val clusterCols = clusterByColumns(props, tableSchema)
      .filter(c => ColumnMapping.structLeafChain(schema, c.split('.').toSeq).isDefined)
    val rebinned =
      if (clusterCols.nonEmpty)
        // graft.clusterBy (liquid-clustering-lite): range-partition AND
        // sort the re-bin on the cluster columns, so every commit's files
        // carry tight, near-disjoint min/max on them — skipping stays
        // effective continuously, with no standalone OPTIMIZE ZORDER pass
        df.repartitionByRange(nOut, (partCols ++ clusterCols).map(col): _*)
          .sortWithinPartitions((partCols ++ clusterCols).map(col): _*)
      else if (partCols.nonEmpty)
        // range on (partCols, salt): each output slot holds a contiguous
        // slice sized by DATA, so a 10 GB partition value spans many bins
        // while small values pack together (partitionBy still splits the
        // task's rows into one file per value it holds)
        df.withColumn("__graft_ow_salt", rand(7))
          .repartitionByRange(nOut, (partCols.map(col) :+ col("__graft_ow_salt")): _*)
          .drop("__graft_ow_salt")
      else df.repartition(nOut)
    val out2 = Fs.child(stagingRoot, "data2")
    val w = rebinned.write.mode("overwrite")
    (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w).parquet(out2)
    Fs.deleteRecursively(stagingDir)
    Fs.moveNoReplace(out2, stagingDir)
  }

  /** Threads for [[CdcStage]]: daemon, created on demand, reclaimed when
    * idle — no thread exists while no CDF write runs.
    */
  private lazy val cdcPool = java.util.concurrent.Executors.newCachedThreadPool { r =>
    val t = new Thread(r, "graft-cdc-write")
    t.setDaemon(true)
    t
  }

  /** The CDC staging write of one commit, started on a second thread so it
    * overlaps the data staging write instead of following it (a DML is
    * bound by its chain of sequential Spark jobs, not by executor work).
    * The thread carries the writer's active session and local properties
    * (job group and tags, scheduler pool, SQL execution id) through
    * `SQLExecution.withThreadLocalCaptured`, Spark's own mechanism for work
    * it forks off an execution thread.
    * Rows (which must already carry `_change_type`) are written with
    * PHYSICAL column names under column mapping, like the data files:
    * physical names never change, so change files stay readable across
    * RENAME COLUMN (the readers translate back via
    * [[ColumnMapping.toLogical]]); `_change_type` is not a table column and
    * passes through untouched.
    *
    * Failure safety: both writes' jobs share one job tag, so whichever
    * fails first cancels the other; [[land]] moves the staged files into
    * `_change_data/` only after the data side succeeded, and [[close]]
    * waits for the thread before deleting the `.graft-cdc-` staging dir —
    * a failed commit leaves no change file behind.
    */
  private final class CdcStage(
      spark: SparkSession, tablePath: String, cdcDf: DataFrame, tableSchema: StructType) {
    private val sc = spark.sparkContext
    private val tag = s"graft-write-${UUID.randomUUID()}"
    private val root = Fs.createTempDir(Fs.parent(tablePath), ".graft-cdc-")
    private val stagingDir = Fs.child(root, "cdc")
    private val aborted = new java.util.concurrent.atomic.AtomicBoolean(false)
    @volatile private var failure: Throwable = null
    // tag this (the writer's) thread before the fork, so the CDC thread's
    // captured properties carry the tag too
    sc.addJobTag(tag)
    private val done = org.apache.spark.sql.execution.SQLExecution.withThreadLocalCaptured(
        spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], cdcPool) {
      try ColumnMapping.toPhysical(cdcDf, tableSchema).write.mode("overwrite").parquet(stagingDir)
      catch { case e: Throwable =>
        failure = e
        if (aborted.compareAndSet(false, true))
          sc.cancelJobsWithTag(tag, "the CDC staging write of the same commit failed")
        throw e
      }
    }

    private def await(): Unit =
      try done.get()
      catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }

    /** Waits for the staging write, then moves its files under
      * `_change_data/` and returns their actions.
      */
    def land(version: Long): Seq[Action] = {
      await()
      val cdcRoot = Fs.child(tablePath, GraftLog.CdcDirName)
      Fs.mkdirs(cdcRoot)
      listParquetFiles(stagingDir).map { src =>
        val name = s"cdc-v$version-${UUID.randomUUID().toString}.parquet"
        val dst = Fs.child(cdcRoot, name)
        Fs.moveNoReplace(src, dst)
        AddCDCFile(s"${GraftLog.CdcDirName}/$name", Fs.size(dst))
      }
    }

    /** The writer failed with `e`: cancels the CDC jobs and returns `e` —
      * unless the CDC write failed first (and cancelled the writer's jobs),
      * whose error is then the one to report.
      */
    def abort(e: Throwable): Throwable =
      if (aborted.compareAndSet(false, true)) {
        sc.cancelJobsWithTag(tag, "the data write of the same commit failed")
        e
      } else {
        if (failure ne e) failure.addSuppressed(e)
        failure
      }

    /** Untags the writer's thread, waits for the CDC thread to finish and
      * deletes the staging dir (files already landed are not in it).
      */
    def close(): Unit = {
      sc.removeJobTag(tag)
      try await() catch { case scala.util.control.NonFatal(_) => () }
      Fs.deleteRecursively(root)
    }
  }

  /** Move parquet files from staging into table dir, keeping partition
    * subdirectories; returns table-relative paths.
    */
  private def moveDataFiles(stagingRoot: String, tableRoot: String): Seq[String] = {
    Fs.mkdirs(tableRoot)
    listParquetFiles(stagingRoot).map { src =>
      val rel = Fs.relativize(stagingRoot, src)
      val dest = Fs.child(tableRoot, rel)
      Fs.mkdirs(Fs.parent(dest))
      // staging part-file names embed a UUID → unique within the table
      Fs.moveNoReplace(src, dest)
      // re-stamp the mtime: rename preserves the staged-WRITE time, but
      // vacuum's untracked-orphan age guard must measure from the MOVE —
      // a slow write's (stage + optimizeWrite + stats) just-moved,
      // not-yet-committed files would otherwise look hours old and be
      // swept by a concurrent aggressive vacuum before the commit lands
      Fs.touch(dest)
      rel
    }
  }

  private def listParquetFiles(root: String): Seq[String] =
    Fs.walkFiles(root).filter(_.endsWith(".parquet")).sorted

  /** Parse `k=v` partition directories out of a table-relative file path.
    * BOTH sides decode: the writers escape the column NAME in the dir
    * segment too (Spark's convention), so a name containing a protected
    * character — or non-ASCII under the streaming writer's POSIX-locale
    * spelling — must map back to the schema's name, not stay escaped.
    */
  def partitionValuesOf(relPath: String): Map[String, String] =
    relPath
      .split('/')
      .dropRight(1)
      .filter(_.contains('='))
      .map { seg =>
        val Array(k, v) = seg.split("=", 2)
        percentDecode(k) -> percentDecode(v)
      }
      .toMap

  /** Decode Spark's partition-path escaping: %XX only — unlike URLDecoder,
    * a literal '+' stays '+' (Spark does not escape it in dir names).
    * %XX runs decode as UTF-8 BYTES (multi-byte chars arrive as byte pairs,
    * e.g. 'é' → %C3%A9), not as individual UTF-16 chars.
    */
  def percentDecode(s: String): String = {
    val out = new java.io.ByteArrayOutputStream(s.length)
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '%') {
        // a truncated escape ('%' within 2 chars of the end) passes through
        // literally — it must ADVANCE here, because the run loop below stops
        // AT '%' and would otherwise spin forever on it
        if (i + 3 <= s.length) {
          try { out.write(Integer.parseInt(s.substring(i + 1, i + 3), 16)); i += 3 }
          catch { case _: NumberFormatException => out.write('%'.toInt); i += 1 }
        } else { out.write('%'.toInt); i += 1 }
      } else {
        // write the maximal unescaped RUN as one substring: encoding char
        // by char tears SURROGATE PAIRS — each lone half is unmappable in
        // UTF-8 and encodes as '?', silently corrupting any partition
        // value or URI that contains a supplementary-plane character
        // (emoji). Runs keep pairs together.
        val start = i
        while (i < s.length && s.charAt(i) != '%') i += 1
        out.write(s.substring(start, i)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
    }
    new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** True when a URI-style absolute file name (as produced by
    * `input_file_name()`, with %-encoded specials) refers to the
    * table-relative `relPath` — with a path-boundary guard so one relative
    * path being a suffix of another never matches.
    */
  def uriMatchesRelPath(uri: String, relPath: String): Boolean = {
    val decoded = percentDecode(uri)
    decoded == relPath || decoded.endsWith("/" + relPath)
  }

  /** Resolve collected `input_file_name()` URIs to the candidate AddFiles
    * they refer to. Each URI is percent-decoded ONCE and matched by
    * segment-suffix lookup into a hash map — O(uris × pathDepth) total,
    * instead of the O(uris × candidates) re-decode of pairwise
    * `uriMatchesRelPath` scans. Segment boundaries give the same
    * suffix-safety guarantee as the pairwise check.
    */
  def resolveTouched(uris: Iterable[String], candidates: Seq[AddFile]): Seq[AddFile] = {
    if (candidates.isEmpty) return Nil
    val byRel: Map[String, AddFile] = candidates.iterator.map(f => f.path -> f).toMap
    val maxDepth = candidates.iterator.map(_.path.count(_ == '/') + 1).max
    val hit = scala.collection.mutable.HashSet.empty[String]
    uris.foreach { uri =>
      val segs = percentDecode(uri).split('/')
      var d = 1
      while (d <= maxDepth && d <= segs.length) {
        val rel = segs.takeRight(d).mkString("/")
        if (byRel.contains(rel)) hit += rel
        d += 1
      }
    }
    candidates.filter(f => hit.contains(f.path))
  }

  /** Union-by-name schema merge; conflict on incompatible types.
    * (Spark's own `StructType.merge` is `private[sql]`; semantics here match
    * `mergeSchema=true` appends: new columns appended, old columns keep type.)
    */
  val TypeWideningProperty = "graft.enableTypeWidening"

  /** Lossless top-level widens the Spark-4 vectorized parquet reader
    * upcasts natively (verified: int32 files read as long/double, float as
    * double) — Delta's type-widening matrix, minus the decimal/date rows
    * whose reader support is conditional.
    */
  private val widenTargets: Map[org.apache.spark.sql.types.DataType,
      Set[org.apache.spark.sql.types.DataType]] = {
    import org.apache.spark.sql.types._
    Map(
      ByteType -> Set(ShortType, IntegerType, LongType, DoubleType),
      ShortType -> Set(IntegerType, LongType, DoubleType),
      IntegerType -> Set(LongType, DoubleType),
      FloatType -> Set(DoubleType))
  }

  private[tables] def widensTo(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean =
    widenTargets.get(from).exists(_.contains(to))

  def mergeSchemas(existing: StructType, incoming: StructType,
      allowWidening: Boolean = false): StructType = {
    // name matching is case-INSENSITIVE (Spark's default resolution): a
    // source column differing only in case is the SAME column — appending it
    // would commit a duplicate schema that every later read chokes on
    def sameAs(f: StructField) = existing.fields.find(_.name.equalsIgnoreCase(f.name))
    // resolve each shared column's type: equal keeps it; with
    // `graft.enableTypeWidening` a LOSSLESS widen in either direction
    // resolves to the wider type (incoming wider ⇒ the table's schema
    // widens and old files upcast at scan; incoming narrower ⇒ the table
    // type stands and the new files upcast instead)
    // nested-aware equality: ignore field metadata (the table's nested
    // struct fields may carry column-mapping physical names the incoming
    // frame never has) and nullability (normalized to the union below —
    // the same to-nullable rule the top level has always had)
    def comparable(dt: org.apache.spark.sql.types.DataType)
        : org.apache.spark.sql.types.DataType = {
      import org.apache.spark.sql.types._
      dt match {
        case st: StructType => StructType(st.fields.map(f =>
          StructField(f.name.toLowerCase, comparable(f.dataType))))
        case ArrayType(et, _) => ArrayType(comparable(et), containsNull = true)
        case MapType(k, v, _) => MapType(comparable(k), comparable(v), valueContainsNull = true)
        case o => o
      }
    }
    // OLD keeps its nested metadata AND its nullability brand: the table's
    // declared NOT NULL invariants are authoritative — an append of a
    // nullable-SCHEMA frame is never refused (nor does it erode the brand);
    // its VALUES are checked per row by the write projection below, which
    // is Delta's nullability-invariant semantic
    def unionNullable(old: org.apache.spark.sql.types.DataType,
        inc: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType = {
      import org.apache.spark.sql.types._
      (old, inc) match {
        case (os: StructType, is: StructType) =>
          StructType(os.fields.map { of =>
            is.fields.find(_.name.equalsIgnoreCase(of.name)) match {
              case Some(inf) => of.copy(
                dataType = unionNullable(of.dataType, inf.dataType))
              case None => of
            }
          })
        case (ArrayType(oe, on), ArrayType(ie, _)) =>
          ArrayType(unionNullable(oe, ie), on)
        case (MapType(ok, ov, on), MapType(ik, iv, _)) =>
          MapType(unionNullable(ok, ik), unionNullable(ov, iv), on)
        case _ => old
      }
    }
    def resolved(old: StructField, inc: StructField): org.apache.spark.sql.types.DataType =
      if (comparable(old.dataType) == comparable(inc.dataType))
        unionNullable(old.dataType, inc.dataType)
      else if (allowWidening && widensTo(old.dataType, inc.dataType)) inc.dataType
      else if (allowWidening && widensTo(inc.dataType, old.dataType)) old.dataType
      else throw new IllegalArgumentException(
        s"column ${inc.name} type mismatch: table=${old.dataType} incoming=${inc.dataType}" +
          (if (allowWidening) " (not a lossless widen)"
           else s" (set $TypeWideningProperty=true to allow lossless widening)"))
    val updatedExisting = existing.fields.map { old =>
      incoming.fields.find(_.name.equalsIgnoreCase(old.name)) match {
        case Some(inc) => old.copy(dataType = resolved(old, inc))
        case None      => old
      }
    }
    val appended = incoming.fields.filterNot(f => sameAs(f).isDefined)
    // a NullType (void) column — typically lit(null) without a cast — must
    // not reach the schema: parquet cannot store it, and a data-less commit
    // (skipDataWrite) would brick the table's metadata for every later scan
    appended.filter(f => containsNullType(f.dataType)).foreach { f =>
      throw new IllegalArgumentException(
        s"cannot add column ${f.name} of type ${f.dataType.simpleString}: " +
          "void (NullType) columns are not storable — cast the null literal " +
          "to a concrete type")
    }
    // existing fields keep the TABLE's nullability brand (NOT NULL is a
    // declared invariant, enforced per value at write); evolution-appended
    // columns are forcibly nullable — every pre-evolution file reads null
    // for them, so a NOT NULL brand would be violated by construction
    StructType(updatedExisting ++ appended.map(_.copy(nullable = true)))
  }

  /** [[mergeSchemas]] with column mapping preserved: the snapshot's fields
    * keep their metadata (so pinned physical names survive every append —
    * `mergeSchemas` normalizes them away), and genuinely NEW fields get
    * physical names assigned against the live + retired set (a re-added
    * once-dropped logical name must mint a fresh physical name, never
    * resurrect the dropped column's bytes). Identity for never-mapped
    * tables: no field carries metadata, no physical collides.
    */
  def mergeWithMapping(s: Snapshot, incoming: StructType): StructType = {
    val merged = mergeSchemas(s.schema, incoming,
      allowWidening = s.metadata.properties.get(TypeWideningProperty).contains("true"))
    val existingByName = s.schema.fields.map(f => f.name.toLowerCase -> f).toMap
    val (kept, appended) = merged.fields.partition(f =>
      existingByName.contains(f.name.toLowerCase))
    val keptWithMeta = kept.map(f =>
      f.copy(metadata = existingByName(f.name.toLowerCase).metadata))
    val assigned = ColumnMapping.assignPhysicalNames(
      s.schema, appended.toSeq, s.metadata.properties)
    StructType(keptWithMeta ++ assigned)
  }

  private def containsNullType(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case NullType            => true
      case a: ArrayType        => containsNullType(a.elementType)
      case m: MapType          => containsNullType(m.keyType) || containsNullType(m.valueType)
      case s: StructType       => s.fields.exists(f => containsNullType(f.dataType))
      case _                   => false
    }
  }

  def deleteRecursively(p: JPath): Unit =
    if (Files.exists(p)) {
      val stream = Files.walk(p)
      try stream.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally stream.close()
    }
}
