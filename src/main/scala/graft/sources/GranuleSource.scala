package graft.sources

import java.util

import scala.annotation.switch

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 granule source: the reference's granule scan (S2/S3 —
  * one file expands to N pixel rows, `aggregate_functions.py:99-223`) as a
  * native Spark source with the machinery a production HDF reader needs:
  *
  *   - **partition planning**: one `InputPartition` per granule, so task
  *     granularity is whole-file exactly like the reference's MPI/Dask
  *     split (`MODIS_Aggregation_MPI.py:51-63`) and tasks scale with the
  *     catalog, not with a fixed parallelism knob;
  *   - **column pruning**: `SupportsPushDownRequiredColumns` — a query
  *     touching 2 of 9 pixel columns decodes only those (the reference
  *     reads only user-listed variables, `:132-136`);
  *   - **schema**: the FIXTURES §1 pixel layout.
  *
  * The pixel CONTENT is synthesized deterministically from
  * (granule_id, pixel index) — the reference repo ships no HDF blobs
  * (`.MISSING_LARGE_BLOBS`), so the decode inner loop is a stand-in; every
  * planning/pruning/row-building code path is the real thing. Swapping in
  * an HDF4 decoder changes only [[GranulePixelReader.valueAt]].
  *
  * Usage:
  * {{{
  * spark.read.format("graft.sources.GranuleSource")
  *   .option("granules", "A2008001.0005,A2008001.0100")
  *   .option("rows", "64").option("cols", "64")
  *   .load()
  * }}}
  */
class GranuleSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GranuleSource.schema
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new GranuleTable(new CaseInsensitiveStringMap(properties))
}

object GranuleSource {

  /** Columns decidable PER GRANULE from the filename alone — predicates
    * over these prune whole input partitions at planning time (the
    * reference's date/time file-list selection, `read_filelist`,
    * `aggregate_functions.py:55-97`, done at the scan instead of a shell
    * glob).
    */
  val granuleCols: Set[String] = Set("granule_id", "day_of_year", "hour")

  /** Evaluate a pushed filter against `get`, SQL three-valued semantics
    * collapsed to "is the granule kept": a comparison against NULL is
    * not-true, so the granule is skipped — exactly what Spark's own
    * residual filter would do to its rows. Only called for filters
    * [[accepts]] returned true for.
    */
  private[sources] def holds(f: Filter, get: String => Any): Boolean = f match {
    case EqualTo(a, v) => cmp(get(a), v).exists(_ == 0)
    case GreaterThan(a, v) => cmp(get(a), v).exists(_ > 0)
    case GreaterThanOrEqual(a, v) => cmp(get(a), v).exists(_ >= 0)
    case LessThan(a, v) => cmp(get(a), v).exists(_ < 0)
    case LessThanOrEqual(a, v) => cmp(get(a), v).exists(_ <= 0)
    case In(a, vs) => vs.exists(v => cmp(get(a), v).exists(_ == 0))
    case IsNotNull(a) => get(a) != null
    case IsNull(a) => get(a) == null
    case And(l, r) => holds(l, get) && holds(r, get)
    case Or(l, r) => holds(l, get) || holds(r, get)
    case Not(c) => !holds(c, get)
    case StringStartsWith(a, p) =>
      get(a) != null && get(a).toString.startsWith(p)
    case _ => true
  }

  private def cmp(actual: Any, lit: Any): Option[Int] = (actual, lit) match {
    case (null, _) => None // NULL comparison is not-true
    case (a: String, b: String) => Some(a.compareTo(b))
    case (a: Number, b: Number) =>
      Some(java.lang.Double.compare(a.doubleValue(), b.doubleValue()))
    case _ => // incomparable: force "holds" (never wrongly skip a granule)
      Some(0)
  }

  /** Is this filter granule-grade: a node type [[holds]] evaluates
    * exactly, over [[granuleCols]] only?
    */
  private[sources] def accepts(f: Filter): Boolean = f match {
    case EqualTo(a, _) => granuleCols(a)
    case GreaterThan(a, _) => granuleCols(a)
    case GreaterThanOrEqual(a, _) => granuleCols(a)
    case LessThan(a, _) => granuleCols(a)
    case LessThanOrEqual(a, _) => granuleCols(a)
    case In(a, _) => granuleCols(a)
    case IsNotNull(a) => granuleCols(a)
    case IsNull(a) => granuleCols(a)
    case And(l, r) => accepts(l) && accepts(r)
    case Or(l, r) => accepts(l) && accepts(r)
    case Not(c) => accepts(c)
    case StringStartsWith(a, _) => granuleCols(a)
    case _ => false
  }

  val schema: StructType = StructType(Seq(
    StructField("granule_id", StringType, nullable = false),
    StructField("day_of_year", IntegerType, nullable = false),
    StructField("hour", IntegerType, nullable = false),
    StructField("row", IntegerType, nullable = false),
    StructField("col", IntegerType, nullable = false),
    StructField("lat", DoubleType, nullable = false),
    StructField("lon", DoubleType, nullable = false),
    StructField("cm_byte", IntegerType, nullable = false),
    StructField("Cloud_Top_Pressure", DoubleType, nullable = true),
    StructField("Cloud_Top_Temperature", DoubleType, nullable = true)))
}

private class GranuleTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = "graft_granules"
  override def schema(): StructType = GranuleSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(caseInsensitiveOptions: CaseInsensitiveStringMap): ScanBuilder = {
    // getTable receives the merged properties; load-time options arrive here
    val merged = new util.HashMap[String, String](options.asCaseSensitiveMap())
    merged.putAll(caseInsensitiveOptions.asCaseSensitiveMap())
    new GranuleScanBuilder(new CaseInsensitiveStringMap(merged))
  }
}

private[sources] class GranuleScanBuilder(options: CaseInsensitiveStringMap)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  private var required: StructType = GranuleSource.schema
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Accept the granule-grade filters (only filename-derived columns,
    * evaluated exactly by [[GranuleSource.holds]]): they prune whole
    * granules at planning. All filters are ALSO returned as residual —
    * Spark re-applies them post-scan, the same safety contract the
    * built-in parquet source uses — so pixel-level predicates are Spark's
    * alone and the pruning is purely an IO/decode saving, never a
    * correctness dependency.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(GranuleSource.accepts)
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = new GranuleScan(options, required, pushed)
}

private[sources] class GranuleScan(
    options: CaseInsensitiveStringMap,
    required: StructType,
    pushed: Array[Filter])
    extends Scan with Batch {
  private val granules: Array[String] =
    options.getOrDefault("granules", "").split(",").map(_.trim).filter(_.nonEmpty)
  private val rows = options.getOrDefault("rows", "64").toInt
  private val cols = options.getOrDefault("cols", "64").toInt

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"GranuleScan[${granules.length} granules, ${rows}x$cols, " +
      s"pruned=${required.fieldNames.mkString(",")}, " +
      s"PushedFilters: [${pushed.mkString(", ")}]"

  /** The pushed (granule-grade) filters prune WHOLE partitions here —
    * the 100 TB lever: a day/hour-bounded query never schedules tasks for
    * out-of-window granules, mirroring the reference's file-list date
    * selection.
    */
  override def planInputPartitions(): Array[InputPartition] =
    granules
      .filter { g =>
        val meta = GranuleMeta(g)
        pushed.forall(GranuleSource.holds(_, meta.get))
      }
      .map(g => GranulePartition(g, rows, cols): InputPartition)

  override def createReaderFactory(): PartitionReaderFactory =
    new GranuleReaderFactory(required)
}

/** Filename-derived granule metadata (reference `aggregate_functions.py:
  * 289-291`): `A2008001.0005` -> day_of_year 1, hour 0. An id whose day
  * or hour does not parse is an `IllegalArgumentException` naming it —
  * raised when the scan plans its partitions — never a granule that
  * silently falls outside every day window.
  */
private[sources] case class GranuleMeta(granuleId: String) {
  private def field(what: String, from: Int, until: Int): Int =
    granuleId.slice(from, until).toIntOption.getOrElse(throw new IllegalArgumentException(
      s"malformed granule id '$granuleId': no $what at characters $from-${until - 1} " +
        "(expected A<yyyy><ddd>.<hhmm>, e.g. A2008001.0005)"))
  val dayOfYear: Int = field("day of year", 5, 8)
  val hour: Int = field("hour", 9, 11)
  def get(field: String): Any = field match {
    case "granule_id" => granuleId
    case "day_of_year" => dayOfYear
    case "hour" => hour
  }
}

/** One granule = one partition = one task (whole-file granularity). */
private[sources] case class GranulePartition(granuleId: String, rows: Int, cols: Int)
    extends InputPartition

private[sources] class GranuleReaderFactory(required: StructType)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new GranulePixelReader(partition.asInstanceOf[GranulePartition], required)
}

/** Streams one granule's pixels as InternalRows, building ONLY the pruned
  * columns. Deterministic synthesis keyed by (granule_id, pixel index).
  */
private[sources] class GranulePixelReader(p: GranulePartition, required: StructType)
    extends PartitionReader[InternalRow] {

  private val n = p.rows * p.cols
  private var i = -1

  private val meta = GranuleMeta(p.granuleId)
  private val gidUtf8 = UTF8String.fromString(p.granuleId)
  private val seed = p.granuleId.hashCode.toLong & 0xffffffffL

  // cheap deterministic mix (splitmix64-style) — stands in for HDF decode
  private def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  private def unit(k: Long): Double = // in [0,1)
    (mix(seed * 1315423911L + k) >>> 11).toDouble / (1L << 53).toDouble

  // each pruned field resolved once to its ordinal in the source schema
  private val fields: Array[Int] =
    required.fields.map(f => GranuleSource.schema.fieldIndex(f.name))
  // one row buffer per reader (Spark copies rows it retains — standard
  // PartitionReader contract)
  private val rowBuf =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(fields.length)

  // the fields in `GranuleSource.schema` order
  private def valueAt(field: Int): Any = (field: @switch) match {
    case 0 => gidUtf8 // granule_id
    case 1 => meta.dayOfYear
    case 2 => meta.hour
    case 3 => i / p.cols // row
    case 4 => i % p.cols // col
    case 5 => unit(i * 4L) * 180.0 - 90.0 // lat
    case 6 => unit(i * 4L + 1) * 360.0 - 180.0 // lon
    case 7 => (mix(seed + i) & 0x7).toInt // cm_byte
    case 8 => // Cloud_Top_Pressure
      if (unit(i * 4L + 2) < 0.02) null else unit(i * 4L + 2) * 900.0 + 200.0
    case 9 => // Cloud_Top_Temperature
      if (unit(i * 4L + 3) < 0.02) null else unit(i * 4L + 3) * 130.0 + 180.0
  }

  override def next(): Boolean = {
    i += 1
    i < n
  }

  override def get(): InternalRow = {
    var j = 0
    while (j < fields.length) {
      rowBuf.update(j, valueAt(fields(j)))
      j += 1
    }
    rowBuf
  }

  override def close(): Unit = ()
}
