package graft.sources

import graft.ops.{Epoch, EpochTable}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetScanBuilder, ParquetTable}
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Epoch tables as a STREAMING SOURCE — `spark.readStream.table(
  * "graft.tbl")` subscribes to the table's committed delta versions,
  * one micro-batch per epoch range, exactly-once off the streaming
  * checkpoint (the table-format change feed: Delta's streaming source,
  * Iceberg's incremental read — here the manifest IS the log):
  *
  *  - OFFSETS ARE EPOCH NUMBERS. A batch (a, b] emits exactly the
  *    delta directories manifests a+1..b added — resolved from the
  *    immutable manifest chain, so replanning a batch after a crash
  *    reads byte-identical input (the exactly-once story needs no
  *    ledger: offsets name immutable directory sets).
  *  - APPEND-ONLY CONTRACT (the standard change-feed discipline): a
  *    delta version streams; a tombstone-only epoch emits nothing (a
  *    takedown never RETRACTS rows already emitted downstream — run
  *    the takedown through the downstream tier too, as
  *    [[graft.ops.Takedown]] does); a refresh/compact/merge epoch
  *    rewrites or shadows history a stream already emitted and FAILS
  *    the stream loudly — restart from the new snapshot.
  *  - `startingVersion` option: begin at a RawDataVersion id's epoch
  *    (every retained version is a valid resume point); default is
  *    the head at stream start — new changes only. A start or batch
  *    range older than the retention horizon fails loudly (the
  *    Kafka-data-loss analogue: [[graft.ops.Epoch.prune]] retired the
  *    manifests).
  *
  * Scale shape: planning is manifest-diff only (tiny driver-side text
  * files — never a data listing); each batch's rows are read by
  * Spark's own vectorized parquet reader over exactly the new
  * directories, with the query's column pruning re-applied per batch,
  * so a 100 TB table with a 1 GB delta streams 1 GB. */
object EpochTableStream {

  private[sources] final case class EpochOffset(epoch: Long)
      extends Offset {
    override def json(): String = epoch.toString
  }

  private def emptyOpts =
    new CaseInsensitiveStringMap(java.util.Collections.emptyMap())

  /** A fresh pushed-down parquet scan over `dirs` with the streaming
    * query's column pruning and data filters re-applied. */
  private def scanFor(s: SparkSession, dirs: Seq[String],
      required: Option[StructType], filters: Seq[Expression]): Scan = {
    val b = ParquetTable("epoch-table-stream", s, emptyOpts, dirs,
      None, classOf[ParquetFileFormat]).newScanBuilder(emptyOpts)
    if (filters.nonEmpty) b.pushFilters(filters)
    required.foreach(b.pruneColumns)
    b.build()
  }

  /** The micro-batch stream over one epoch table layout. One instance
    * per running query; all state is (re)derived from the manifest
    * chain and the checkpointed offsets. */
  private[sources] final class TableChangesStream(s: SparkSession,
      path: String, options: CaseInsensitiveStringMap,
      required: Option[StructType], filters: Seq[Expression])
      extends MicroBatchStream {

    private def head: Long =
      Epoch.resolve(s, path).map(_.epoch).getOrElse(
        throw new IllegalStateException(
          s"EpochTableStream: no committed version at $path"))

    override def initialOffset(): Offset =
      Option(options.get("startingVersion")) match {
        case None => EpochOffset(head)
        case Some(v) =>
          val ver =
            try v.toLong
            catch {
              case _: NumberFormatException =>
                throw new IllegalArgumentException(
                  s"EpochTableStream: startingVersion '$v' is not a " +
                    "RawDataVersion id")
            }
          val m = EpochTable.manifestForVersion(s, path, ver).getOrElse(
            throw new IllegalStateException(
              s"EpochTableStream: startingVersion $ver is not a " +
                s"retained version at $path (pruned or never committed)"))
          // the batch range is EXCLUSIVE of the start offset — begin
          // one epoch before the version's, so its own delta streams
          EpochOffset(m.epoch - 1)
      }

    override def latestOffset(): Offset = EpochOffset(head)

    override def deserializeOffset(json: String): Offset =
      EpochOffset(json.toLong)

    override def commit(end: Offset): Unit = ()

    override def stop(): Unit = ()

    /** The data directories manifests (a, b] ADDED, append-only
      * validated epoch by epoch. Epoch 0's predecessor is the empty
      * layout, so a stream started AT the first version (offset -1)
      * emits the initial snapshot as its first batch. A fold epoch
      * (`kind → compact` — serving before ≡ after) emits nothing and
      * does NOT break the stream: subsequent deltas append onto the
      * folded layout and keep streaming. */
    private def dirsBetween(a: Long, b: Long): Seq[String] =
      EpochTableStream.epochSteps(s, path, a, b).flatMap {
        case (_, prev, cur) if EpochTable.isContentPreserving(cur) =>
          Seq.empty
        case (n, prev, cur) =>
          val prevData = prev.components.getOrElse("data", Seq.empty)
          val curData = cur.components.getOrElse("data", Seq.empty)
          require(prevData.forall(curData.contains),
            s"EpochTableStream: epoch $n at $path rewrote data " +
              "directories (a refresh or row-level rewrite) — a " +
              "stream cannot replay rewritten history; restart from " +
              "the new snapshot")
          require(cur.components.getOrElse("merge", Seq.empty) ==
              prev.components.getOrElse("merge", Seq.empty),
            s"EpochTableStream: epoch $n at $path committed a keyed " +
              "merge — upserts shadow rows a stream already emitted; " +
              "restart from a compacted snapshot (or read the " +
              "change-feed face, `tbl$$changes`, which emits them " +
              "as typed upsert rows)")
          // a tombstone-only epoch adds no dirs and emits nothing
          curData.filterNot(prevData.contains).map(d => s"$path/$d")
      }

    override def planInputPartitions(start: Offset,
        end: Offset): Array[InputPartition] = {
      val dirs = dirsBetween(start.asInstanceOf[EpochOffset].epoch,
        end.asInstanceOf[EpochOffset].epoch)
      if (dirs.isEmpty) Array.empty
      else scanFor(s, dirs, required, filters).toBatch.planInputPartitions()
    }

    /** One factory for the stream's lifetime: bound to the schema and
      * pushdown, not to any directory set — partitions carry the
      * files. Built over the head manifest's dirs (schema drift across
      * deltas is refused at write time, so any dir set agrees). */
    override def createReaderFactory(): PartitionReaderFactory = {
      val m = Epoch.resolve(s, path).getOrElse(
        throw new IllegalStateException(
          s"EpochTableStream: no committed version at $path"))
      scanFor(s, EpochTable.scanDataDirs(path, m), required, filters)
        .toBatch.createReaderFactory()
    }
  }

  /** ScanBuilder that keeps the delegate's full pushdown surface
    * (catalyst filters incl. partition pruning, column pruning,
    * aggregate pushdown) and returns a Scan that can ALSO stream —
    * the batch path is the delegate's scan verbatim.
    *
    * When the required schema asks for the `_g` metadata column (the
    * row's file path — only the row-level matching subquery and
    * explicit provenance reads do), the build returns the per-file
    * `_g`-appending scan instead: the pushed condition still reaches
    * the parquet readers (footer-stats pruning intact), each matched
    * row carries the file it lives in, and the dynamic-pruning
    * subquery turns that into the rewrite's file set. The serving
    * path — no `_g` — keeps the stock vectorized scan untouched. */
  private[sources] final class StreamableScanBuilder(s: SparkSession,
      path: String, manifest: Epoch.Manifest,
      tableSchema: StructType, delegate: ParquetScanBuilder,
      options: CaseInsensitiveStringMap,
      buckets: Option[EpochTable.BucketSpec] = None,
      morTomb: Option[org.apache.spark.sql.DataFrame] = None)
      extends ScanBuilder with SupportsPushDownCatalystFilters
      with SupportsPushDownRequiredColumns with SupportsPushDownAggregates {

    private var pushedExprs: Seq[Expression] = Seq.empty
    private var required: Option[StructType] = None
    private var needsGroup = false

    override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
      pushedExprs = filters
      delegate.pushFilters(filters)
    }

    override def pushedFilters(): Array[Predicate] =
      delegate.pushedFilters

    /** The delegate's pruned schema — on a MoR-pending read, WIDENED
      * by the tombstone-match columns the reader-side anti-filter
      * needs (projected away after the match, so the query's output
      * schema is untouched). */
    private def morWiden(pruned: StructType): StructType =
      morTomb match {
        case None => pruned
        case Some(t) =>
          val have = pruned.fieldNames.toSet
          val missing = t.columns.filterNot(have)
          if (missing.isEmpty) pruned
          else StructType(pruned.fields ++
            tableSchema.fields.filter(f => missing.contains(f.name)))
      }

    override def pruneColumns(requiredSchema: StructType): Unit = {
      import graft.sources.{EpochTableCatalog => Cat}
      needsGroup = requiredSchema.fieldNames.contains(Cat.GroupCol)
      val pruned = StructType(
        requiredSchema.fields.filterNot(_.name == Cat.GroupCol))
      required = Some(pruned)
      delegate.pruneColumns(morWiden(pruned))
    }

    // aggregate pushdown is fenced on a MoR-pending read: a pushed
    // COUNT/MIN/MAX would answer from footers INCLUDING the doomed
    // rows the tombstones hide
    override def pushAggregation(aggregation: Aggregation): Boolean =
      !needsGroup && morTomb.isEmpty && delegate.pushAggregation(aggregation)

    override def supportCompletePushDown(
        aggregation: Aggregation): Boolean =
      !needsGroup && morTomb.isEmpty &&
        delegate.supportCompletePushDown(aggregation)

    override def build(): Scan = {
      val (d, exactRows) = statsPruned()
      if (needsGroup) {
        require(morTomb.isEmpty,
          s"EpochTableStream: $path carries unfolded merge-on-read " +
            "tombstones — the _g provenance/rewrite face serves raw " +
            "files and would surface deleted rows; CALL compact first")
        new EpochTableCatalog.RewriteScan(d.build(),
          withGroup = true)
      } else {
        val stream =
          new TableChangesStream(s, path, options, required, pushedExprs)
        morTomb match {
          case Some(t) =>
            // the bucket claim is withdrawn while tombstones pend
            // (same discipline as rewrite residue — withdrawal is
            // always safe); the fold reaps them and restores it
            new MorScan(d.build(), stream, t, required)
          case None => buckets match {
            case Some(bs) => new BucketedScan(d.build(), stream, bs,
              exactRows)
            case None => new StreamableScan(d.build(), stream, exactRows)
          }
        }
      }
    }

    /** The EXACT row count of the (possibly pruned) file set, from the
      * manifest stats component's per-file `rows` — reported to the
      * planner ([[ScanStats]]) so join strategy sees the pruned
      * reality. None when any live file lacks a stats entry (legacy
      * generations) — the planner then rides the delegate's
      * size-based estimate, never a guess. */
    private def exactRowsOf(relFiles: Seq[String],
        stats: Map[String, Map[String, StatsPrune.ColStat]])
        : Option[Long] = {
      val counts = relFiles.map(f =>
        stats.get(f).flatMap(_.values.headOption).map(_.rows))
      if (counts.forall(_.isDefined)) Some(counts.flatten.sum) else None
    }

    /** PLANNING-TIME file skipping off the manifest's stats component
      * ([[graft.ops.EpochTable]] writes it with every commit): when
      * the pushed conjuncts PROVE some files match nothing
      * ([[StatsPrune]] — conservative, unknown keeps), the parquet
      * relation is rebuilt over only the survivors, so pruned files
      * are never listed into partitions and never footer-opened — the
      * zero-file-open upgrade over scan-time footer pruning. Applies
      * to the serving scan AND the `_g` matching-rows subquery (the
      * CoW rewrite's file discovery plans over the pruned set); the
      * no-prune path returns the original builder untouched. */
    private def statsPruned(): (ParquetScanBuilder, Option[Long]) = {
      val zone = s.sessionState.conf.sessionLocalTimeZone
      val allEntries = manifest.components.getOrElse("data", Seq.empty)
      // PARTITION-LEVEL entry pruning FIRST — pure driver arithmetic
      // over the dir-encoded values, zero IO: pushed conjuncts on the
      // partition column disprove whole entries before any stats row
      // is read or any directory listed, so scan-build cost is
      // ∝ |surviving partitions' files|, never ∝ |table files|. An
      // entry whose value can't be interpreted keeps (conservative).
      val entrySurvivors: Seq[String] = {
        // the spec HISTORY shares one column (evolvePartitionSpec
        // enforces it), so a dir value interprets under whichever
        // historical grains parse it — exact under its producing
        // spec; an entry prunes only when EVERY parsing
        // interpretation proves it empty (unparseable → keep)
        val hist = EpochTable.partSpecHistoryOf(s, path, manifest)
          .distinct
        if (pushedExprs.isEmpty || hist.isEmpty) allEntries
        else tableSchema.fields.find(_.name == hist.head.col)
          .map(_.dataType) match {
          case None => allEntries
          case Some(dt) =>
            val kept = allEntries.filter { e =>
              EpochTable.entryPartValue(e) match {
                case Some(v) =>
                  val interps = hist.flatMap(h =>
                    StatsPrune.partitionStat(v, h.transform, dt)
                      .map(h.col -> _))
                  !(interps.nonEmpty && interps.forall {
                    case (c, st) => StatsPrune.provedEmpty(
                      pushedExprs, Map(c -> st), zone) })
                case None => true
              }
            }
            // every partition disproven: keep ONE entry — its rows
            // die at the pushed filter, and empty relations need no
            // special-casing downstream
            if (kept.isEmpty) allEntries.take(1) else kept
        }
      }
      val partPruned = entrySurvivors.size < allEntries.size
      val statRows = EpochTable.fileStats(s, path, manifest,
        if (partPruned) Some(entrySurvivors) else None)
      val stats = StatsPrune.statsByFile(statRows)
      if (statRows.isEmpty && !partPruned) return (delegate, None)
      val root = EpochTable.rootAbs(s, path)
      val files = EpochTable.dataFilesFor(s, path,
        entrySurvivors.map(e => s"$path/$e")).map { st =>
        val abs = st.getPath.toUri.getPath
        (abs, abs.stripPrefix(root + "/"))
      }
      def rebuilt(keep: Seq[String]): ParquetScanBuilder = {
        val b = ParquetTable("epoch-stats-pruned", s, emptyOpts,
          keep, Some(tableSchema), classOf[ParquetFileFormat])
          .newScanBuilder(emptyOpts)
        b.pushFilters(pushedExprs)
        required.foreach(r => b.pruneColumns(morWiden(r)))
        b
      }
      if (pushedExprs.isEmpty)
        return (delegate, exactRowsOf(files.map(_._2), stats))
      StatsPrune.surviving(pushedExprs, files, stats, zone) match {
        case None if !partPruned =>
          (delegate, exactRowsOf(files.map(_._2), stats))
        case None => // partition pruning alone removed entries —
          // the relation must still rebuild over the survivors
          (rebuilt(files.map(_._1)),
            exactRowsOf(files.map(_._2), stats))
        case Some(keep) =>
          val keepSet = keep.toSet
          (rebuilt(keep), exactRowsOf(
            files.filter(f => keepSet.contains(f._1)).map(_._2), stats))
      }
    }
  }

  /** The bucketed table's scan: the delegate parquet scan REGROUPED
    * one partition per bucket, each carrying its bucket id as the
    * partition key, with the layout reported as
    * `KeyGroupedPartitioning(bucket(n, key))` — what Spark's
    * storage-partitioned join consumes to plan epoch⋈epoch equi-joins
    * with ZERO exchanges (both sides' bucket i hold exactly the keys
    * hashing to i, by the write placement [[EpochTableCatalog.BucketFunction]]
    * mirrors). Columnar reads and the micro-batch face are untouched;
    * stats pruning composes (a pruned bucket just drops out of the
    * reported partition values — Spark aligns the sides). */
  private[sources] final class BucketedScan(delegate: Scan,
      stream: TableChangesStream, spec: EpochTable.BucketSpec,
      exactRows: Option[Long] = None)
      extends Scan with Batch
      with org.apache.spark.sql.connector.read.SupportsReportPartitioning
      with org.apache.spark.sql.connector.read.SupportsReportOrdering
      with org.apache.spark.sql.connector.read.SupportsReportStatistics {
    import org.apache.spark.sql.execution.datasources.FilePartition

    override def estimateStatistics()
        : org.apache.spark.sql.connector.read.Statistics =
      scanStats(delegate, exactRows)
    override def readSchema(): StructType = delegate.readSchema()
    override def description(): String =
      s"epoch-bucketed(${spec.col}/${spec.n}, ${delegate.description()})"
    override def toBatch: Batch = this
    override def toMicroBatchStream(
        checkpointLocation: String): MicroBatchStream = stream
    override def columnarSupportMode(): Scan.ColumnarSupportMode =
      delegate.columnarSupportMode()
    override def supportedCustomMetrics()
        : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
      delegate.supportedCustomMetrics()

    private lazy val grouped: Array[BucketKeyedPartition] = {
      val files = delegate.toBatch.planInputPartitions().flatMap {
        case fp: FilePartition => fp.files
        case other => throw new IllegalStateException(
          s"BucketedScan: expected FilePartition, got " +
            other.getClass.getName)
      }
      def bucketOf(path: String): Int =
        path.split("/").find(_.startsWith("_b="))
          .getOrElse(throw new IllegalStateException(
            s"BucketedScan: $path carries no _b= segment — the " +
              "catalog should have fallen back to a plain scan"))
          .stripPrefix("_b=").toInt
      files.groupBy(f => bucketOf(f.filePath.toString)).toSeq
        .sortBy(_._1).zipWithIndex
        .map { case ((b, fs), i) =>
          BucketKeyedPartition(b, FilePartition(i, fs)) }
        .toArray
    }

    override def outputPartitioning()
        : org.apache.spark.sql.connector.read.partitioning.Partitioning =
      new org.apache.spark.sql.connector.read.partitioning
        .KeyGroupedPartitioning(
          Array(org.apache.spark.sql.connector.expressions.Expressions
            .bucket(spec.n, spec.col)), grouped.length)

    override def planInputPartitions(): Array[InputPartition] =
      grouped.toArray[InputPartition]

    /** The ordering claim — key-ascending within every partition —
      * made ONLY when it is provable: the manifest says the fold
      * sorted its files AND every bucket holds exactly one file (a
      * multi-file bucket concatenates sorted runs, which is not
      * sorted). With both partitioning and ordering reported, a
      * sort-merge join of two such tables runs with neither
      * exchanges nor sorts. */
    override def outputOrdering()
        : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
      if (spec.sorted &&
          delegate.readSchema().fieldNames.contains(spec.col) &&
          grouped.forall(_.inner.files.length == 1))
        Array(org.apache.spark.sql.connector.expressions.Expressions
          .sort(
            org.apache.spark.sql.connector.expressions.Expressions
              .column(spec.col),
            org.apache.spark.sql.connector.expressions.SortDirection
              .ASCENDING))
      else Array.empty

    override def createReaderFactory(): PartitionReaderFactory =
      BucketUnwrapFactory(delegate.toBatch.createReaderFactory())
  }

  /** One bucket's files + its bucket id as the partition KEY — what
    * key-grouped join planning co-locates on. */
  private[sources] final case class BucketKeyedPartition(bucket: Int,
      inner: org.apache.spark.sql.execution.datasources.FilePartition)
      extends InputPartition
      with org.apache.spark.sql.connector.read.HasPartitionKey {
    override def partitionKey(): InternalRow = InternalRow(bucket)
    override def preferredLocations(): Array[String] =
      inner.preferredLocations()
  }

  /** Routes bucket-keyed partitions to the delegate parquet factory —
    * vectorized reads preserved. */
  private final case class BucketUnwrapFactory(
      inner: PartitionReaderFactory) extends PartitionReaderFactory {
    private def unwrap(p: InputPartition): InputPartition =
      p.asInstanceOf[BucketKeyedPartition].inner
    override def supportColumnarReads(p: InputPartition): Boolean =
      inner.supportColumnarReads(unwrap(p))
    override def createReader(p: InputPartition)
        : PartitionReader[InternalRow] = inner.createReader(unwrap(p))
    override def createColumnarReader(p: InputPartition)
        : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
      inner.createColumnarReader(unwrap(p))
  }

  /** STATISTICS the planner consumes (`SupportsReportStatistics`,
    * round-19 verdict #3): size-in-bytes is the delegate's — after
    * stats-pruning the delegate is the relation over SURVIVING files
    * only, so a pruned-to-one-file side reports one file's bytes and
    * earns its broadcast without a hint; row count is the manifest
    * stats component's EXACT per-file sum when every live file has an
    * entry. Pure planner input — semantics never depend on it. */
  private def scanStats(delegate: Scan, exactRows: Option[Long])
      : org.apache.spark.sql.connector.read.Statistics = {
    val inner = delegate match {
      case d: org.apache.spark.sql.connector.read.SupportsReportStatistics =>
        Some(d.estimateStatistics())
      case _ => None
    }
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        inner.map(_.sizeInBytes()).getOrElse(java.util.OptionalLong.empty())
      override def numRows(): java.util.OptionalLong =
        exactRows.map(java.util.OptionalLong.of)
          .orElse(inner.map(_.numRows()))
          .getOrElse(java.util.OptionalLong.empty())
    }
  }

  /** MERGE-ON-READ serving scan: the delegate parquet scan (possibly
    * stats-pruned, pushdown intact) with the manifest's pending
    * tombstones applied PER ROW at read — the Iceberg v2 delete-file /
    * Delta deletion-vector idea on the tombstone component the
    * programmatic tier already serves through. The tombstone set is
    * bounded by the takedown contract, collected once driver-side,
    * shipped to executors inside the reader factory, and matched by
    * canonical UnsafeRow bytes (null-safe by construction: null bits
    * are part of the bytes). Columns the match needs beyond the
    * query's projection ride a WIDENED delegate schema and are
    * projected away after the filter — the query's output schema
    * never changes. Row-based while tombstones pend; the maintenance
    * fold reaps them and restores vectorized reads, aggregate
    * pushdown, and any bucket claim. */
  private[sources] final class MorScan(delegate: Scan,
      stream: TableChangesStream, tomb: org.apache.spark.sql.DataFrame,
      required: Option[StructType]) extends Scan with Batch
      with org.apache.spark.sql.connector.read.SupportsReportStatistics {

    private val tombSchema = tomb.schema
    private lazy val tombRows: Array[InternalRow] =
      tomb.queryExecution.executedPlan.executeCollect()
        .map(_.copy().asInstanceOf[InternalRow])

    override def readSchema(): StructType =
      required.getOrElse(delegate.readSchema())
    override def description(): String =
      s"epoch-mor(${tombSchema.fieldNames.mkString(",")}, " +
        s"${delegate.description()})"
    override def toBatch: Batch = this
    override def toMicroBatchStream(
        checkpointLocation: String): MicroBatchStream = stream
    override def estimateStatistics()
        : org.apache.spark.sql.connector.read.Statistics =
      scanStats(delegate, None)
    override def planInputPartitions(): Array[InputPartition] =
      delegate.toBatch.planInputPartitions()
    override def createReaderFactory(): PartitionReaderFactory =
      MorReaderFactory(delegate.toBatch.createReaderFactory(),
        delegate.readSchema(), readSchema(), tombSchema, tombRows)
  }

  /** Executor-side tombstone anti-filter + output projection. The
    * canonical projection re-writes BOTH sides (the shipped tombstone
    * rows and each data row's extracted match columns) through the
    * same UnsafeProjection shape, so set membership is exact byte
    * equality — null-safe, type-exact. */
  private final case class MorReaderFactory(
      inner: PartitionReaderFactory, widened: StructType,
      out: StructType, tombSchema: StructType,
      tombRows: Array[InternalRow]) extends PartitionReaderFactory {
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection, UnsafeRow}

    override def supportColumnarReads(p: InputPartition): Boolean = false

    override def createReader(
        p: InputPartition): PartitionReader[InternalRow] = {
      val canon = UnsafeProjection.create(
        tombSchema.fields.zipWithIndex.map { case (f, i) =>
          BoundReference(i, f.dataType, nullable = true) }.toSeq)
      val tombSet: Set[UnsafeRow] =
        tombRows.map(r => canon(r).copy()).toSet
      val extract = UnsafeProjection.create(
        tombSchema.fields.map(f => BoundReference(
          widened.fieldIndex(f.name), f.dataType,
          nullable = true)).toSeq)
      val project = UnsafeProjection.create(
        out.fields.map(f => BoundReference(
          widened.fieldIndex(f.name), f.dataType,
          nullable = true)).toSeq)
      val d = inner.createReader(p)
      new PartitionReader[InternalRow] {
        private var current: InternalRow = _
        override def next(): Boolean = {
          while (d.next()) {
            val row = d.get()
            if (!tombSet.contains(extract(row))) {
              current = project(row)
              return true
            }
          }
          false
        }
        override def get(): InternalRow = current
        override def close(): Unit = d.close()
      }
    }
  }

  /** The delegate parquet scan, plus the micro-batch face. */
  private[sources] final class StreamableScan(delegate: Scan,
      stream: TableChangesStream, exactRows: Option[Long] = None)
      extends Scan
      with org.apache.spark.sql.connector.read.SupportsReportStatistics {
    override def estimateStatistics()
        : org.apache.spark.sql.connector.read.Statistics =
      scanStats(delegate, exactRows)
    override def readSchema(): StructType = delegate.readSchema()
    override def description(): String = delegate.description()
    override def toBatch: Batch = delegate.toBatch
    override def toMicroBatchStream(
        checkpointLocation: String): MicroBatchStream = stream
    override def columnarSupportMode(): Scan.ColumnarSupportMode =
      delegate.columnarSupportMode()
    override def supportedCustomMetrics()
        : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
      delegate.supportedCustomMetrics()
  }

  // ------------------------------------------------------------------
  // The TYPED CHANGE FEED — `tbl$changes`
  // ------------------------------------------------------------------

  /** The change-feed op column: `insert` (a delta version's rows),
    * `upsert` (a merge version's after-images — the row that now
    * serves for its key), `delete` (the takedown's key rows, columns
    * the table lacks padded NULL). */
  private[sources] val OpCol = "_op"

  /** The epoch number that committed the change — monotone and
    * defined for every change kind (takedown epochs carry no
    * RawDataVersion id: a takedown is not a release). */
  private[sources] val EpochCol = "_epoch"

  /** Walk manifests (a, b] as (n, prev, cur) steps — shared by the
    * append-only and change-feed planners; a pruned predecessor
    * fails loudly with the retention message. */
  private[sources] def epochSteps(s: SparkSession, path: String,
      a: Long, b: Long): Seq[(Long, Epoch.Manifest, Epoch.Manifest)] = {
    def manifest(n: Long) = Epoch.resolveAsOf(s, path, n).getOrElse(
      throw new IllegalStateException(
        s"EpochTableStream: epoch $n at $path is gone — the stream " +
          "fell behind the retention horizon (Epoch.prune); restart " +
          "from a retained version"))
    (a + 1 to b).map { n =>
      val prev =
        if (n == 0L) Epoch.Manifest(-1L, Map.empty, Seq.empty)
        else manifest(n - 1)
      (n, prev, manifest(n))
    }
  }

  /** `readStream.table("graft.\`tbl$changes\`")` — the table's epoch
    * history as TYPED CHANGE ROWS (Delta CDF / Iceberg changelog, on
    * the manifest chain): every column of the table (the AFTER image
    * — before-images would need write-side capture the merge path
    * does not pay for) plus `_op` and `_epoch`. Offsets are epoch
    * numbers; `startingVersion` resumes at a RawDataVersion id;
    * fold epochs are skipped (content-preserving); full refreshes
    * and SQL row-level rewrites still FAIL the stream loudly —
    * they rewrite history no change log can replay. */
  private[sources] final class ChangesTable(ident: String,
      s: SparkSession, path: String) extends Table with SupportsRead {
    private lazy val dataSchema: StructType = {
      val m = Epoch.resolve(s, path).getOrElse(
        throw new IllegalStateException(
          s"EpochTableStream: no committed version at $path"))
      graft.Pq.read(s, EpochTable.scanDataDirs(path, m): _*).schema
    }
    override def name(): String = ident
    override def schema(): StructType = cdcSchema(dataSchema)
    override def capabilities(): java.util.Set[TableCapability] =
      java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ,
        TableCapability.BATCH_READ)
    override def newScanBuilder(options: CaseInsensitiveStringMap)
        : ScanBuilder = {
      val ds = dataSchema
      new ScanBuilder {
        override def build(): Scan = new Scan with Batch {
          override def readSchema(): StructType = cdcSchema(ds)
          override def description(): String = s"epoch-cdc($ident)"
          override def toMicroBatchStream(
              checkpointLocation: String): MicroBatchStream =
            new TableCdcStream(s, path, options, ds)
          // the BATCH face (Delta's table_changes): one SELECT over
          // `tbl$changes` reads the ENTIRE retained change history —
          // epoch 0's predecessor is the empty layout, so the initial
          // snapshot arrives as its insert batch; the same planner,
          // the same skip/refuse rules as the stream
          override def toBatch: Batch = this
          private lazy val cdc = new TableCdcStream(s, path, options, ds)
          private lazy val range: (Long, Long) = {
            val epochs = Epoch.committedList(s, path)
            require(epochs.nonEmpty,
              s"EpochTableStream: no committed version at $path")
            // `startingVersion` narrows the batch read exactly like a
            // subscription resume; otherwise start at the earliest
            // RECONSTRUCTIBLE diff — epoch 0 diffs against the empty
            // layout, but on a pruned table the earliest retained
            // epoch's own diff needs its retired predecessor, so the
            // history starts one epoch later (never throws on a
            // pruned table; the unreachable prefix is simply gone)
            val start =
              if (options.containsKey("startingVersion"))
                cdc.initialOffset().asInstanceOf[EpochOffset].epoch
              else if (epochs.min == 0L) -1L
              else epochs.min
            (start, epochs.max)
          }
          override def planInputPartitions(): Array[InputPartition] =
            cdc.planInputPartitions(EpochOffset(range._1),
              EpochOffset(range._2))
          override def createReaderFactory(): PartitionReaderFactory =
            cdc.createReaderFactory()
        }
      }
    }
  }

  private def cdcSchema(dataSchema: StructType): StructType =
    StructType(dataSchema.fields ++ Seq(
      org.apache.spark.sql.types.StructField(OpCol,
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField(EpochCol,
        org.apache.spark.sql.types.LongType, nullable = false)))

  /** A change-feed partition: either a wrapped parquet file partition
    * (insert/upsert payload) or a driver-embedded row set (the
    * takedown's fresh tombstone keys — bounded by design, collected
    * at planning). `op`/`epoch` ride the partition; the reader
    * appends them per row. */
  private final case class CdcPartition(op: String, epoch: Long,
      inner: Option[InputPartition],
      rows: Array[org.apache.spark.sql.catalyst.InternalRow])
      extends InputPartition

  /** The micro-batch CDC stream. Planning is manifest-diff (driver
    * text files) plus one bounded tombstone anti-join per delete
    * epoch; each batch's bulk rows are read by the stock parquet
    * reader over exactly the NEW directories. */
  private[sources] final class TableCdcStream(s: SparkSession,
      path: String, options: CaseInsensitiveStringMap,
      dataSchema: StructType) extends MicroBatchStream {

    private def head: Long =
      Epoch.resolve(s, path).map(_.epoch).getOrElse(
        throw new IllegalStateException(
          s"EpochTableStream: no committed version at $path"))

    override def initialOffset(): Offset =
      Option(options.get("startingVersion")) match {
        case None => EpochOffset(head)
        case Some(v) =>
          val ver =
            try v.toLong
            catch {
              case _: NumberFormatException =>
                throw new IllegalArgumentException(
                  s"EpochTableStream: startingVersion '$v' is not a " +
                    "RawDataVersion id")
            }
          val m = EpochTable.manifestForVersion(s, path, ver).getOrElse(
            throw new IllegalStateException(
              s"EpochTableStream: startingVersion $ver is not a " +
                s"retained version at $path (pruned or never committed)"))
          EpochOffset(m.epoch - 1)
      }

    override def latestOffset(): Offset = EpochOffset(head)
    override def deserializeOffset(json: String): Offset =
      EpochOffset(json.toLong)
    override def commit(end: Offset): Unit = ()
    override def stop(): Unit = ()

    override def planInputPartitions(start: Offset,
        end: Offset): Array[InputPartition] = {
      val a = start.asInstanceOf[EpochOffset].epoch
      val b = end.asInstanceOf[EpochOffset].epoch
      val parts = scala.collection.mutable.ArrayBuffer[InputPartition]()
      epochSteps(s, path, a, b).foreach { case (n, prev, cur) =>
        if (!EpochTable.isContentPreserving(cur)) {
          val prevData = prev.components.getOrElse("data", Seq.empty)
          val curData = cur.components.getOrElse("data", Seq.empty)
          require(prevData.forall(curData.contains),
            s"EpochTableStream: epoch $n at $path rewrote data " +
              "directories (a full refresh or SQL row-level rewrite) " +
              "— rewritten history has no change log; restart the " +
              "change feed from the new snapshot")
          val addedData = curData.filterNot(prevData.contains)
            .map(d => s"$path/$d")
          val prevMerge = prev.components.getOrElse("merge", Seq.empty)
          val curMerge = cur.components.getOrElse("merge", Seq.empty)
          require(prevMerge.forall(curMerge.contains),
            s"EpochTableStream: epoch $n at $path dropped merge " +
              "generations without the compact marker — restart the " +
              "change feed from the new snapshot")
          val addedMerge = curMerge.filterNot(prevMerge.contains)
            .map(d => s"$path/$d")
          def fileParts(dirs: Seq[String], op: String): Unit =
            scanFor(s, dirs, None, Seq.empty).toBatch
              .planInputPartitions()
              .foreach(p => parts += CdcPartition(op, n, Some(p), Array.empty))
          if (addedData.nonEmpty) fileParts(addedData, "insert")
          if (addedMerge.nonEmpty) fileParts(addedMerge, "upsert")
          val prevTomb = prev.components.getOrElse("tombstones", Seq.empty)
          val curTomb = cur.components.getOrElse("tombstones", Seq.empty)
          if (curTomb != prevTomb && curTomb.nonEmpty) {
            // fresh doomed keys = cur tombstones minus prev (null-safe
            // — tombstones may carry NULLs); bounded by the takedown
            // contract, so a driver-side collect is the cheap plan
            val curT = graft.Pq.read(s, cur.dirs(path, "tombstones"): _*)
            val fresh = prevTomb match {
              case Seq() => curT
              case pd =>
                val prevT = graft.Pq.read(s,
                  pd.map(d => s"$path/$d"): _*)
                curT.join(org.apache.spark.sql.functions.broadcast(prevT),
                  curT.columns.map(c => curT(c) <=> prevT(c))
                    .reduce(_ && _),
                  "left_anti")
            }
            val have = fresh.columns.toSet
            val aligned = fresh.select(dataSchema.fields.toSeq.map(f =>
              if (have(f.name)) org.apache.spark.sql.functions.col(f.name)
              else org.apache.spark.sql.functions.lit(null)
                .cast(f.dataType).as(f.name)): _*)
            val rows = aligned.queryExecution.executedPlan
              .executeCollect().map(_.copy())
            if (rows.nonEmpty)
              parts += CdcPartition("delete", n, None, rows)
          }
        }
      }
      parts.toArray
    }

    override def createReaderFactory(): PartitionReaderFactory = {
      val m = Epoch.resolve(s, path).getOrElse(
        throw new IllegalStateException(
          s"EpochTableStream: no committed version at $path"))
      // one inner factory for the stream's lifetime, bound to the full
      // data schema (merge batches are schema-equal by contract);
      // partitions carry the files
      val inner = scanFor(s, EpochTable.scanDataDirs(path, m),
        None, Seq.empty).toBatch.createReaderFactory()
      CdcReaderFactory(inner)
    }
  }

  /** Routes each [[CdcPartition]]: parquet payloads read through the
    * inner factory, embedded tombstone rows replay directly; every
    * row gets (op, epoch) appended. Row-based by design — the change
    * feed is delta-sized, not a serving scan. */
  private final case class CdcReaderFactory(
      inner: PartitionReaderFactory) extends PartitionReaderFactory {
    override def supportColumnarReads(p: InputPartition): Boolean = false
    override def createReader(
        p: InputPartition): PartitionReader[InternalRow] = {
      val cp = p.asInstanceOf[CdcPartition]
      val tail = InternalRow(
        org.apache.spark.unsafe.types.UTF8String.fromString(cp.op),
        cp.epoch)
      val joined =
        new org.apache.spark.sql.catalyst.expressions.JoinedRow
      cp.inner match {
        case Some(filePart) =>
          val d = inner.createReader(filePart)
          new PartitionReader[InternalRow] {
            override def next(): Boolean = d.next()
            override def get(): InternalRow = joined(d.get(), tail)
            override def close(): Unit = d.close()
          }
        case None =>
          new PartitionReader[InternalRow] {
            private var i = -1
            override def next(): Boolean = { i += 1; i < cp.rows.length }
            override def get(): InternalRow = joined(cp.rows(i), tail)
            override def close(): Unit = ()
          }
      }
    }
  }
}
