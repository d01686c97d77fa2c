package graft.streaming

import java.util

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/** A sequence-numbered micro-batch source, the engine's analog of the
  * reference's replication-polling streaming sources (changes /
  * changesets / augmented diffs; SURVEY.md §2.1 S3-S5, reference call
  * sites apps/.../streaming/ChangeStreamProcessor.scala:78-96).
  *
  * Semantics mirrored from the reference:
  *  - offsets ARE replication sequence numbers (resume = start from a
  *    sequence; Spark's offset log persists them, and `StartSequence` /
  *    `EndSequence` options bound the feed like the reference's options);
  *  - each micro-batch covers a half-open sequence range; every sequence
  *    yields a deterministic batch of element-change rows (in production
  *    the per-sequence fetch would be network I/O executed on executors —
  *    here rows are synthesized deterministically so the machinery is
  *    fully testable offline);
  *  - the same table supports batch reads over a sequence range (the
  *    reference reuses streaming sources in batch mode, e.g.
  *    apps/.../batch/MergeChangesets.scala:89-95).
  *
  * Scale: one InputPartition per sequence — each executor fetches and
  * parses its own sequences; no driver-side row materialization.
  *
  * Options: `startSequence` (default 0), `endSequence` (inclusive;
  * batch default 9), `rowsPerSequence` (default 10), `sequencesPerBatch`
  * (streaming rate cap, default 5).
  */
class SequenceSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SequenceSource.schemaFor(options.get("format"))
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new SequenceTable(new CaseInsensitiveStringMap(properties))
}

object SequenceSource {
  val schema: StructType = StructType(Seq(
    StructField("sequence", LongType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("id", LongType, nullable = false),
    StructField("element_type", StringType, nullable = false),
    StructField("changeset", LongType, nullable = false),
    StructField("uid", LongType, nullable = false),
    StructField("visible", BooleanType, nullable = false),
    StructField("lon", DoubleType, nullable = false),
    StructField("lat", DoubleType, nullable = false)))

  private val tagsType = MapType(StringType, StringType, valueContainsNull = false)

  /** osmChange element rows (format=osmchange). */
  val osmChangeSchema: StructType = StructType(Seq(
    StructField("sequence", LongType, nullable = false),
    StructField("action", StringType, nullable = false),
    StructField("element_type", StringType, nullable = false),
    StructField("id", LongType, nullable = false),
    StructField("version", LongType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("changeset", LongType, nullable = false),
    StructField("uid", LongType, nullable = false),
    StructField("user", StringType, nullable = false),
    StructField("visible", BooleanType, nullable = false),
    StructField("lon", DoubleType, nullable = true),
    StructField("lat", DoubleType, nullable = true),
    StructField("nds", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("tags", tagsType, nullable = false),
    StructField("error", StringType, nullable = true)))

  /** Changeset-metadata rows (format=changesets). */
  val changesetSchema: StructType = StructType(Seq(
    StructField("sequence", LongType, nullable = false),
    StructField("id", LongType, nullable = false),
    StructField("created_at", TimestampType, nullable = false),
    StructField("closed_at", TimestampType, nullable = true),
    StructField("open", BooleanType, nullable = false),
    StructField("user", StringType, nullable = false),
    StructField("uid", LongType, nullable = false),
    StructField("min_lat", DoubleType, nullable = true),
    StructField("max_lat", DoubleType, nullable = true),
    StructField("min_lon", DoubleType, nullable = true),
    StructField("max_lon", DoubleType, nullable = true),
    StructField("num_changes", LongType, nullable = false),
    StructField("comments_count", LongType, nullable = false),
    StructField("tags", tagsType, nullable = false),
    StructField("error", StringType, nullable = true)))

  /** Augmented-diff rows (format=augdiff). */
  val augDiffSchema: StructType = StructType(Seq(
    StructField("sequence", LongType, nullable = false),
    StructField("element_type", StringType, nullable = false),
    StructField("id", LongType, nullable = false),
    StructField("version", LongType, nullable = false),
    StructField("minor_version", LongType, nullable = false),
    StructField("updated", TimestampType, nullable = false),
    StructField("visible", BooleanType, nullable = false),
    StructField("changeset", LongType, nullable = false),
    StructField("uid", LongType, nullable = false),
    StructField("user", StringType, nullable = false),
    StructField("lon", DoubleType, nullable = true),
    StructField("lat", DoubleType, nullable = true),
    StructField("tags", tagsType, nullable = false),
    StructField("prev_tags", tagsType, nullable = false),
    StructField("error", StringType, nullable = true)))

  def schemaFor(format: String): StructType = format match {
    case "osmchange"  => osmChangeSchema
    case "changesets" => changesetSchema
    case "augdiff"    => augDiffSchema
    case _            => schema
  }

  val SequenceEpochSeconds: Long = graft.functions.SequenceEpochSeconds

  /** Deterministic rows for one sequence (what a replication fetch would
    * return). */
  def rowsFor(seq: Long, rowsPerSequence: Int): Seq[InternalRow] =
    (0 until rowsPerSequence).map { i =>
      val id = seq * 1000 + i
      val h = id * 2654435761L % 4294967296L
      InternalRow(
        seq,
        (SequenceEpochSeconds + seq * 60) * 1000000L, // micros
        id,
        UTF8String.fromString(if (h % 4 == 0) "way" else "node"),
        seq * 10 + (h % 7),
        h % 100,
        h % 11 != 0,
        (h % 36000).toDouble / 100.0 - 180.0,
        ((h / 7) % 18000).toDouble / 100.0 - 90.0)
    }
}

class SequenceTable(options: CaseInsensitiveStringMap) extends Table with SupportsRead {
  override def name(): String = "graft_sequence_source"
  override def schema(): StructType = SequenceSource.schemaFor(options.get("format"))
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder = {
    val merged = new CaseInsensitiveStringMap(
      (options.asScala ++ opts.asScala).asJava)
    new SequenceScanBuilder(merged)
  }
}

case class SequenceOffset(seq: Long) extends Offset {
  override def json(): String = seq.toString
}

/** ScanBuilder with `sequence` range-filter pushdown: predicates like
  * `sequence >= N` / `sequence <= M` / `sequence = K` narrow the
  * planned partition range instead of being evaluated over every
  * fetched row — the partition-pruning analog for a sequence-numbered
  * source (each partition IS a sequence, so a pushed range skips whole
  * fetches, which at scale means skipped network I/O, not just skipped
  * rows). Pushed filters are also RETAINED (returned as residuals) so
  * Spark still post-filters — pushing here is an optimization, never a
  * correctness dependency. */
class SequenceScanBuilder(options: CaseInsensitiveStringMap)
    extends ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
  import org.apache.spark.sql.sources._

  private var lo = options.getLong("startSequence", 0L)
  // hi stays ABSENT unless the option was given or a filter narrows it —
  // an absent bound lets the scan fall back to state-file discovery
  private val hiExplicit = options.containsKey("endSequence")
  private var hi = options.getLong("endSequence", Long.MaxValue / 2)
  private var hiNarrowed = false
  private var pushed: Array[Filter] = Array.empty

  private def asNum(v: Any): Option[Long] = v match {
    case l: java.lang.Long => Some(l)
    case i: java.lang.Integer => Some(i.toLong)
    case _ => None
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val accepted = filters.filter {
      case EqualTo("sequence", v) =>
        asNum(v).exists { n =>
          lo = math.max(lo, n); hi = math.min(hi, n); hiNarrowed = true; true }
      case GreaterThan("sequence", v) =>
        asNum(v).exists { n => lo = math.max(lo, n + 1); true }
      case GreaterThanOrEqual("sequence", v) =>
        asNum(v).exists { n => lo = math.max(lo, n); true }
      case LessThan("sequence", v) =>
        asNum(v).exists { n => hi = math.min(hi, n - 1); hiNarrowed = true; true }
      case LessThanOrEqual("sequence", v) =>
        asNum(v).exists { n => hi = math.min(hi, n); hiNarrowed = true; true }
      case _ => false
    }
    pushed = accepted
    // all filters are retained as residuals: pruning is an optimization
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = {
    // the copy holds the map's lower-cased keys: a camel-case put would
    // add a second spelling, and the rebuilt map keeps whichever one its
    // HashMap visits last
    val narrowed = new java.util.HashMap[String, String](options)
    narrowed.put("startsequence", lo.toString)
    if (hiExplicit || hiNarrowed) narrowed.put("endsequence", hi.toString)
    new SequenceScan(new CaseInsensitiveStringMap(narrowed))
  }
}

class SequenceScan(options: CaseInsensitiveStringMap) extends Scan {
  private val start = options.getLong("startSequence", 0L)
  private val rowsPer = options.getInt("rowsPerSequence", 10)
  private val perBatch = options.getLong("sequencesPerBatch", 5L)
  private val format = Option(options.get("format")).getOrElse("synthetic")
  private val payloadDir = Option(options.get("payloadDir")).getOrElse("")
  private val baseUrl = Option(options.get("baseUrl")).getOrElse("")
  // transport defaults to http when a baseUrl is given, file otherwise
  private val transport = Option(options.get("transport"))
    .getOrElse(if (baseUrl.nonEmpty) "http" else "file")
  private val location = if (transport == "http") baseUrl else payloadDir
  private val attempts = options.getInt("fetchAttempts", 3)
  private val backoffMs = options.getLong("fetchBackoffMs", 100L)
  // With state-file discovery available (http, or a file-dir state.txt),
  // endSequence becomes an OPTIONAL cap: absent means "whatever the
  // state file publishes" (reference: the replication endpoint's state
  // is the horizon, ChangeStreamProcessor.scala:78-96).
  private val endOpt: Option[Long] =
    Option(options.get("endSequence")).map(_.toLong)
  private val end = endOpt.getOrElse(9L)

  private def fetcher: SequenceFetcher =
    SequenceFetcher.forPartition(transport, location, attempts, backoffMs)

  /** endSequence bound for planning: explicit option wins; otherwise the
    * transport's state file; otherwise the legacy default. */
  private def discoveredEnd(): Long = endOpt.getOrElse {
    if (format == "synthetic") end
    else fetcher.latestSequence().getOrElse(end)
  }

  override def readSchema(): StructType = SequenceSource.schemaFor(format)

  private def partitionFor(s: Long): InputPartition =
    SequencePartition(s, rowsPer, format, location, transport,
      attempts, backoffMs)

  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] =
      (start to discoveredEnd()).map(partitionFor).toArray
    override def createReaderFactory(): PartitionReaderFactory =
      SequenceReaderFactory
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new MicroBatchStream
      with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
      with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
      import org.apache.spark.sql.connector.read.streaming.ReadLimit

      // offset N = "sequences < N consumed". Admission control caps each
      // micro-batch at sequencesPerBatch relative to its START offset
      // (stateless — correct across restarts), like the reference's
      // BatchSize option. The horizon is re-discovered from the
      // transport's state file on every latestOffset poll (the
      // reference's replication state-file polling); an explicit
      // endSequence option caps it. Trigger.AvailableNow drains
      // batch-by-batch up to the horizon captured at prepare time.
      @volatile private var availableNowTarget: Long = Long.MaxValue

      private def horizon(): Long = discoveredEnd() + 1

      override def initialOffset(): Offset = SequenceOffset(start)
      override def prepareForTriggerAvailableNow(): Unit =
        availableNowTarget = horizon()
      override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()
      override def latestOffset(startOffset: Offset, limit: ReadLimit): Offset = {
        val lo = startOffset.asInstanceOf[SequenceOffset].seq
        val cap = math.min(availableNowTarget, horizon())
        SequenceOffset(math.max(lo, math.min(lo + perBatch, cap)))
      }
      override def reportLatestOffset(): Offset = SequenceOffset(horizon())
      override def latestOffset(): Offset =
        throw new UnsupportedOperationException(
          "latestOffset(Offset, ReadLimit) is used (SupportsAdmissionControl)")
      override def deserializeOffset(json: String): Offset =
        SequenceOffset(json.toLong)
      override def commit(offset: Offset): Unit = ()
      override def stop(): Unit = ()
      override def planInputPartitions(s: Offset, e: Offset): Array[InputPartition] = {
        val lo = s.asInstanceOf[SequenceOffset].seq
        val hi = e.asInstanceOf[SequenceOffset].seq
        (lo until hi).map(partitionFor).toArray
      }
      override def createReaderFactory(): PartitionReaderFactory =
        SequenceReaderFactory
    }
}

case class SequencePartition(seq: Long, rowsPer: Int,
                             format: String = "synthetic",
                             location: String = "",
                             transport: String = "file",
                             fetchAttempts: Int = 3,
                             fetchBackoffMs: Long = 100L) extends InputPartition

/** Executor-side fetch + parse: each partition owns one sequence and
  * reads its payload (`payloadDir/<seq>.xml|json` — the file:// analog
  * of the reference's per-sequence replication fetch) locally, decodes
  * via [[WireFormats]], and emits rows; malformed payloads/elements
  * surface as `error` rows for [[ErrorChannel]], never as task
  * failures. */
object SequenceReaderFactory extends PartitionReaderFactory {
  import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}

  private def utf8(s: String): UTF8String = UTF8String.fromString(s)
  private def tagsMap(m: Map[String, String]): ArrayBasedMapData =
    ArrayBasedMapData(m, (k: Any) => utf8(k.asInstanceOf[String]),
      (v: Any) => utf8(v.asInstanceOf[String])).asInstanceOf[ArrayBasedMapData]

  private def payloadRows(p: SequencePartition): Seq[InternalRow] = {
    val ext = if (p.format == "augdiff") "json" else "xml"
    val fetcher = SequenceFetcher.forPartition(
      p.transport, p.location, p.fetchAttempts, p.fetchBackoffMs)
    val text = fetcher.fetch(p.seq, ext) match {
      case Right(t)     => t
      case Left(reason) => return Seq(missingPayloadRow(p, reason))
    }
    p.format match {
      case "osmchange" =>
        WireFormats.parseOsmChange(p.seq, text).map { r =>
          InternalRow(r.sequence, utf8(r.action), utf8(r.elementType), r.id,
            r.version, r.tsMicros, r.changeset, r.uid, utf8(r.user), r.visible,
            r.lon.map(Double.box).orNull, r.lat.map(Double.box).orNull,
            new GenericArrayData(r.nds.toArray), tagsMap(r.tags),
            r.error.map(utf8).orNull)
        }
      case "changesets" =>
        WireFormats.parseChangesets(p.seq, text).map { r =>
          InternalRow(r.sequence, r.id, r.createdAtMicros,
            r.closedAtMicros.map(Long.box).orNull, r.open, utf8(r.user), r.uid,
            r.minLat.map(Double.box).orNull, r.maxLat.map(Double.box).orNull,
            r.minLon.map(Double.box).orNull, r.maxLon.map(Double.box).orNull,
            r.numChanges, r.commentsCount, tagsMap(r.tags),
            r.error.map(utf8).orNull)
        }
      case "augdiff" =>
        WireFormats.parseAugmentedDiff(p.seq, text).map { r =>
          InternalRow(r.sequence, utf8(r.elementType), r.id, r.version,
            r.minorVersion, r.updatedMicros, r.visible,
            r.changeset, r.uid, utf8(r.user),
            r.lon.map(Double.box).orNull, r.lat.map(Double.box).orNull,
            tagsMap(r.tags), tagsMap(r.prevTags), r.error.map(utf8).orNull)
        }
      case other =>
        Seq(missingPayloadRow(p, s"unknown_format: $other"))
    }
  }

  private def missingPayloadRow(p: SequencePartition, reason: String): InternalRow =
    p.format match {
      case "changesets" =>
        InternalRow(p.seq, -1L, 0L, null, false, utf8(""), -1L,
          null, null, null, null, -1L, -1L, tagsMap(Map.empty), utf8(reason))
      case "augdiff" =>
        InternalRow(p.seq, utf8(""), -1L, -1L, -1L, 0L, false, -1L, -1L,
          utf8(""), null, null,
          tagsMap(Map.empty), tagsMap(Map.empty), utf8(reason))
      case _ =>
        InternalRow(p.seq, utf8(""), utf8(""), -1L, -1L, 0L, -1L, -1L,
          utf8(""), false, null, null, new GenericArrayData(Array.empty[Long]),
          tagsMap(Map.empty), utf8(reason))
    }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[SequencePartition]
    new PartitionReader[InternalRow] {
      private val it =
        (if (p.format == "synthetic") SequenceSource.rowsFor(p.seq, p.rowsPer)
         else payloadRows(p)).iterator
      private var cur: InternalRow = _
      override def next(): Boolean = { if (it.hasNext) { cur = it.next(); true } else false }
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
  }
}
