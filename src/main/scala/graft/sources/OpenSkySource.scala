package graft.sources

import java.nio.file.{Files, Paths}
import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.{expressions => catalyst}
import org.apache.spark.sql.catalyst.expressions.{And, BoundReference, Expression, Literal}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.{Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.ingest.{OpenSkyLive, OpenSkyParser}
import graft.model.StateVector

/** The OpenSky `/api/states/all` connector — the reference's REST source
  * (scripts/functions.py:23-50) as one DataSource V2 table that serves both
  * `spark.read` and `spark.readStream` from one [[SnapshotFeed]].
  *
  * The reference pushes its bounding box to the server as query parameters
  * (lamin/lomin/lamax/lomax — source-level predicate pushdown, SURVEY.md
  * §4.1). This connector mirrors that contract Spark-natively:
  * [[SupportsPushDownFilters]] accepts latitude/longitude range predicates
  * ([[GeoBound]]) and [[SupportsPushDownRequiredColumns]] prunes the
  * 17-column schema at the source. The reader evaluates the pushed bounds
  * with Catalyst's own comparisons, so pushdown never changes a result.
  *
  * Options pick the feed: `payload` (raw response JSON) or `path` (a file
  * holding it) is one snapshot, `paths` (comma-separated files) is a log
  * with one snapshot per file, and `mode=live` polls the endpoint through
  * [[graft.ingest.OpenSkyLive]]. A batch read takes one partition per
  * snapshot the feed holds now; a stream serves one snapshot per trigger.
  *
  * Usage: `spark.read.format("graft.sources.OpenSkyTableProvider")
  *   .option("payload", json).load().filter($"latitude" > 47.0)`, or
  * `spark.readStream.format(...).option("paths", "a.json,b.json").load()`.
  */
class OpenSkyTableProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    OpenSkySnapshot.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    new OpenSkyTable(properties.asScala.toMap)
}

/** The same source under the name the benchmark's frozen stream workload
  * loads it by (`perfbench` may not change); new code names
  * [[OpenSkyTableProvider]].
  */
class OpenSkyStreamProvider extends OpenSkyTableProvider

class OpenSkyTable(options: Map[String, String]) extends Table with SupportsRead {
  override def name(): String = "opensky_snapshot"
  override def schema(): StructType = OpenSkySnapshot.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new OpenSkyScanBuilder(options ++ opts.asScala)
}

/** Micro-batch planning pushes neither filters nor columns, so a stream's
  * scan reads the full schema unfiltered; a live stream takes its bbox
  * from the `lamin`/`lamax`/`lomin`/`lomax` options instead.
  */
class OpenSkyScanBuilder(options: Map[String, String])
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var requiredSchema: StructType = OpenSkySnapshot.schema
  private var pushed: Array[Filter] = Array.empty

  /** Accept lat/lon range filters — the bbox a live poll sends as
    * lamin/lomin/lamax/lomax. Everything else stays post-scan.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, rejected) = filters.partition(GeoBound.of(_).isDefined)
    pushed = accepted
    rejected
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(required: StructType): Unit = {
    requiredSchema = required
  }

  override def build(): Scan = new OpenSkyScan(options, requiredSchema, pushed)
}

class OpenSkyScan(options: Map[String, String], required: StructType,
                  filters: Array[Filter]) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new OpenSkyMicroBatchStream(SnapshotFeed.fromOptions(options, filters), createReaderFactory())

  /** Surfaces pushdown state in explain output (BatchScan prints this). */
  override def description(): String =
    s"opensky_snapshot PushedFilters: [${filters.mkString(", ")}], " +
      s"ReadSchema: ${required.simpleString}"

  /** Every snapshot the feed holds now: what an AvailableNow drain from
    * offset 0 would serve.
    */
  override def planInputPartitions(): Array[InputPartition] = {
    val feed = SnapshotFeed.fromOptions(options, filters)
    feed.partitions(0L, feed.nextOffset(0L, drainAll = true))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new OpenSkyReaderFactory(required, filters)
}

/** A latitude or longitude range bound on a Double — the one match on the
  * four pushed-filter shapes (`>`, `>=`, `<`, `<=`). Push-down acceptance,
  * the reader's row test and the live bbox params
  * ([[graft.ingest.OpenSkyLive.bboxParams]]) all read filters through
  * [[GeoBound.of]].
  */
final class GeoBound private (val attr: String, val value: Double, val lower: Boolean,
                              compare: (Expression, Expression) => Expression) {
  /** This bound on a typed coordinate, as Catalyst's own comparison: Spark
    * filters are advisory, so a pushed bound must keep exactly the rows the
    * Filter it replaces keeps — NaN orders above every double, and a null
    * coordinate never passes.
    */
  def on(coordinate: Expression): Expression = compare(coordinate, Literal(value))
}

object GeoBound {
  def of(filter: Filter): Option[GeoBound] = {
    def geo(attr: String, value: Double, lower: Boolean,
            compare: (Expression, Expression) => Expression) =
      if (attr == "latitude" || attr == "longitude")
        Some(new GeoBound(attr, value, lower, compare))
      else None
    filter match {
      case GreaterThan(a, v: java.lang.Double) =>
        geo(a, v, lower = true, catalyst.GreaterThan(_, _))
      case GreaterThanOrEqual(a, v: java.lang.Double) =>
        geo(a, v, lower = true, catalyst.GreaterThanOrEqual(_, _))
      case LessThan(a, v: java.lang.Double) =>
        geo(a, v, lower = false, catalyst.LessThan(_, _))
      case LessThanOrEqual(a, v: java.lang.Double) =>
        geo(a, v, lower = false, catalyst.LessThanOrEqual(_, _))
      case _ => None
    }
  }
}

case class OpenSkyPartition(states: Array[Array[String]]) extends InputPartition

class OpenSkyReaderFactory(required: StructType, filters: Array[Filter])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new OpenSkyReader(partition.asInstanceOf[OpenSkyPartition].states, required, filters)
}

/** Row-at-a-time reader: types the positional string slots exactly as
  * [[graft.ingest.OpenSkyParser.typedSlot]] does (interpreted, per row), then
  * projects the pruned schema and applies the pushed bbox bounds
  * source-side on the typed coordinates.
  */
class OpenSkyReader(states: Array[Array[String]], required: StructType,
                    filters: Array[Filter]) extends PartitionReader[InternalRow] {

  private val typed: Map[String, Expression] =
    StateVector.slots.zipWithIndex.map { case ((name, dt), idx) =>
      name -> OpenSkyParser.typedSlot(name, dt, BoundReference(idx, StringType, nullable = true))
    }.toMap
  private val projection = required.fields.map(f => typed(f.name))
  private val bbox: Option[Expression] =
    filters.flatMap(GeoBound.of).map(b => b.on(typed(b.attr))).reduceOption[Expression](And(_, _))
  private var raw: InternalRow = _
  private var i = -1

  private def passes: Boolean = bbox.forall(_.eval(raw) == true)

  override def next(): Boolean = {
    do {
      i += 1
      if (i < states.length)
        raw = InternalRow.fromSeq(states(i).toIndexedSeq.map(UTF8String.fromString))
    } while (i < states.length && !passes)
    i < states.length
  }

  override def get(): InternalRow =
    InternalRow.fromSeq(projection.toIndexedSeq.map(_.eval(raw)))

  override def close(): Unit = ()
}

/** Driver-side snapshot parsing (jackson ships with Spark). */
object OpenSkySnapshot {

  val schema: StructType = StructType(
    StateVector.slots.map { case (n, dt) => StructField(n, dt) })

  /** Parse the payload's `states` into positional string slots (null-safe). */
  def parse(json: String): Array[Array[String]] = {
    val root = new ObjectMapper().readTree(json)
    val states = root.get("states")
    if (states == null || states.isNull) Array.empty
    else states.asScala.map { st =>
      (0 until StateVector.slots.size).map { i =>
        val v = st.get(i)
        if (v == null || v.isNull) null
        else if (v.isTextual) v.asText()
        else v.toString
      }.toArray
    }.toArray
  }
}

/** The snapshots a scan reads: a log of `size` response bodies, or — with
  * no size — the live endpoint, where snapshot i is the i-th authenticated
  * poll. Offsets are snapshot counts.
  *
  * The live feed is unbounded; under Trigger.AvailableNow it serves exactly
  * one poll and stops. A restart re-polls rather than replaying history —
  * the API serves only the current state vector set, so live offsets mark
  * poll COUNTS, not reproducible data (the reference's snapshot semantics;
  * a replayed pipeline should persist raw payloads via foreachBatch and
  * re-run from a `paths` log instead).
  */
final class SnapshotFeed private (size: Option[Long], body: Int => String) {

  /** The offset a stream may advance to from `start` on this trigger: one
    * snapshot, or under `drainAll` the end of a log.
    */
  def nextOffset(start: Long, drainAll: Boolean): Long = size match {
    case Some(n) => if (drainAll) n else math.min(start + 1, n)
    case None => start + 1
  }

  /** One partition per snapshot in [start, end). */
  def partitions(start: Long, end: Long): Array[InputPartition] =
    (start.toInt until end.toInt).map { i =>
      OpenSkyPartition(OpenSkySnapshot.parse(body(i))): InputPartition
    }.toArray
}

object SnapshotFeed {

  /** The one dispatcher on the source's options. A live poll sends the
    * pushed `filters` as its bbox ([[graft.ingest.OpenSkyLive.fetch]]); the
    * reader re-applies them exactly, so a server that ignores the bbox only
    * costs bytes, never correctness.
    */
  def fromOptions(options: Map[String, String], filters: Array[Filter]): SnapshotFeed = {
    def files(ps: Seq[String]) =
      new SnapshotFeed(Some(ps.size.toLong), i => Files.readString(Paths.get(ps(i))))
    if (options.get("mode").contains("live"))
      new SnapshotFeed(None, _ => OpenSkyLive.fetch(options, filters))
    else options.get("payload").map(p => new SnapshotFeed(Some(1L), _ => p))
      .orElse(options.get("path").map(p => files(Seq(p))))
      .orElse(options.get("paths").map(ps =>
        files(ps.split(",").map(_.trim).filter(_.nonEmpty).toSeq)))
      .getOrElse(throw new IllegalArgumentException(
        "opensky source requires option 'payload' (raw JSON), 'path', 'paths' or mode=live"))
  }
}

final case class SnapshotOffset(n: Long) extends Offset {
  override def json(): String = n.toString
}

/** One snapshot per trigger via the admission-control API: the next offset
  * derives from the engine-supplied `start` (the last committed/planned
  * end), so restarts are correct BY CONSTRUCTION — there is no in-memory
  * cursor to regress. Each batch reads the snapshots in [start, end) as one
  * partition per snapshot. Under Trigger.AvailableNow the engine announces
  * the drain intent first and latestOffset jumps to the end of the log, so
  * the run processes everything and stops (the one-step poll cadence would
  * otherwise drain exactly one snapshot).
  */
class OpenSkyMicroBatchStream(feed: SnapshotFeed, readers: PartitionReaderFactory)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  private var drainAll = false
  // AvailableNow must CONVERGE: the drain target is captured on the first
  // latestOffset call and pinned — an unbounded live feed would otherwise
  // keep advancing (start+1 forever) and the drain would never terminate.
  private var drainTarget: Option[Long] = None

  override def initialOffset(): Offset = SnapshotOffset(0L)

  override def prepareForTriggerAvailableNow(): Unit = drainAll = true

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead of this method")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[SnapshotOffset].n
    val next =
      if (drainAll) {
        if (drainTarget.isEmpty) drainTarget = Some(feed.nextOffset(s, drainAll = true))
        drainTarget.get
      } else feed.nextOffset(s, drainAll = false)
    SnapshotOffset(next)
  }

  override def deserializeOffset(json: String): Offset = SnapshotOffset(json.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    feed.partitions(start.asInstanceOf[SnapshotOffset].n, end.asInstanceOf[SnapshotOffset].n)

  override def createReaderFactory(): PartitionReaderFactory = readers

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
