package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.ingest.OpenSkyParser
import graft.model.StateVector

/** DataSource V2 batch source for OpenSky `/api/states/all` snapshots —
  * the reference's REST source (scripts/functions.py:23-50) as a proper
  * Spark connector.
  *
  * The reference pushes its bounding box to the server as query parameters
  * (lamin/lomin/lamax/lomax — source-level predicate pushdown, SURVEY.md
  * §4.1). This connector mirrors that contract Spark-natively:
  * [[SupportsPushDownFilters]] accepts latitude/longitude range predicates
  * (exactly what a live HTTP implementation would turn into bbox params) and
  * [[SupportsPushDownRequiredColumns]] prunes the 17-column schema at the
  * source.
  *
  * Input comes from options instead of the network (CI never leaves the
  * machine): `payload` = raw response JSON, or `path` = a file containing
  * it. A live mode would swap [[OpenSkySnapshot.load]] for the OAuth2 +
  * HTTP GET pair — the planning/pushdown/reader machinery is unchanged.
  *
  * Usage: `spark.read.format("graft.sources.OpenSkyTableProvider")
  *   .option("payload", json).load().filter($"latitude" > 47.0)`
  */
class OpenSkyTableProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    OpenSkySnapshot.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    new OpenSkyTable(properties.asScala.toMap)
}

class OpenSkyTable(options: Map[String, String]) extends Table with SupportsRead {
  override def name(): String = "opensky_snapshot"
  override def schema(): StructType = OpenSkySnapshot.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new OpenSkyScanBuilder(options ++ opts.asScala)
}

class OpenSkyScanBuilder(options: Map[String, String])
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var requiredSchema: StructType = OpenSkySnapshot.schema
  private var pushed: Array[Filter] = Array.empty

  /** Accept lat/lon range filters — the bbox a live source would send as
    * lamin/lomin/lamax/lomax. Everything else stays post-scan.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, rejected) = filters.partition {
      case GreaterThan(a, _: java.lang.Double) => isGeo(a)
      case GreaterThanOrEqual(a, _: java.lang.Double) => isGeo(a)
      case LessThan(a, _: java.lang.Double) => isGeo(a)
      case LessThanOrEqual(a, _: java.lang.Double) => isGeo(a)
      case _ => false
    }
    pushed = accepted
    rejected
  }
  private def isGeo(attr: String): Boolean = attr == "latitude" || attr == "longitude"

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

  /** Surfaces pushdown state in explain output (BatchScan prints this). */
  override def description(): String =
    s"opensky_snapshot PushedFilters: [${filters.mkString(", ")}], " +
      s"ReadSchema: ${required.simpleString}"

  override def planInputPartitions(): Array[InputPartition] = {
    val states = OpenSkySnapshot.load(options, filters)
    val n = math.max(options.getOrElse("numPartitions", "1").toInt, 1)
    states.grouped(math.max(1, (states.size + n - 1) / n))
      .map(g => OpenSkyPartition(g.toArray): InputPartition).toArray match {
      case empty if empty.isEmpty => Array(OpenSkyPartition(Array.empty))
      case parts => parts
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new OpenSkyReaderFactory(required, filters)
}

case class OpenSkyPartition(states: Array[Array[String]]) extends InputPartition

class OpenSkyReaderFactory(required: StructType, filters: Array[Filter])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new OpenSkyReader(partition.asInstanceOf[OpenSkyPartition].states, required, filters)
}

/** Row-at-a-time reader: types the positional string slots exactly as
  * [[graft.ingest.OpenSkyParser.typedSlot]] does (interpreted, per row), then
  * projects the pruned schema and applies the pushed bbox predicates
  * source-side on the typed coordinates.
  */
class OpenSkyReader(states: Array[Array[String]], required: StructType,
                    filters: Array[Filter]) extends PartitionReader[InternalRow] {

  private val typed: Map[String, Expression] =
    StateVector.slots.zipWithIndex.map { case ((name, dt), idx) =>
      name -> OpenSkyParser.typedSlot(name, dt, BoundReference(idx, StringType, nullable = true))
    }.toMap
  private val projection = required.fields.map(f => typed(f.name))
  private var raw: InternalRow = _
  private var i = -1

  private def passes: Boolean = filters.forall { f =>
    def v(attr: String): Option[Double] =
      Option(typed(attr).eval(raw)).map(_.asInstanceOf[Double])
    f match {
      case GreaterThan(a, lim: java.lang.Double) => v(a).exists(_ > lim)
      case GreaterThanOrEqual(a, lim: java.lang.Double) => v(a).exists(_ >= lim)
      case LessThan(a, lim: java.lang.Double) => v(a).exists(_ < lim)
      case LessThanOrEqual(a, lim: java.lang.Double) => v(a).exists(_ <= lim)
      case _ => true
    }
  }

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

/** Driver-side snapshot loading + parsing (jackson ships with Spark). */
object OpenSkySnapshot {

  val schema: StructType = StructType(
    StateVector.slots.map { case (n, dt) => StructField(n, dt) })

  /** Parse the payload's `states` into positional string slots (null-safe). */
  def parse(json: String): Seq[Array[String]] = {
    val root = new ObjectMapper().readTree(json)
    val states = root.get("states")
    if (states == null || states.isNull) Seq.empty
    else states.asScala.map { st =>
      (0 until StateVector.slots.size).map { i =>
        val v = st.get(i)
        if (v == null || v.isNull) null
        else if (v.isTextual) v.asText()
        else v.toString
      }.toArray
    }.toSeq
  }

  /** Fixture modes read `payload` (inline JSON) or `path` (a file); live
    * mode (`mode=live`) performs the reference's OAuth2 + bbox GET via
    * [[graft.ingest.OpenSkyLive]], with the pushed lat/lon filters traveling
    * as lamin/lomin/lamax/lomax query params. The reader still re-applies
    * the exact predicates, so a server that ignores the bbox only costs
    * bytes, never correctness.
    */
  def load(options: Map[String, String],
           filters: Array[Filter] = Array.empty): Seq[Array[String]] =
    if (options.get("mode").contains("live"))
      parse(graft.ingest.OpenSkyLive.fetch(options, filters))
    else options.get("payload").map(parse).orElse(
      options.get("path").map(p =>
        parse(java.nio.file.Files.readString(java.nio.file.Paths.get(p)))))
      .getOrElse(throw new IllegalArgumentException(
        "opensky source requires option 'payload' (raw JSON), 'path', or mode=live"))
}
