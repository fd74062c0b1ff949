package graft.serve

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThanOrEqual, LessThanOrEqual, StringStartsWith}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 read face of the KV serving store (S8). Items enter the
  * store only through [[KpiSink.write]] (executor-side batches of 25 with
  * backoff); this source reads them back as a DataFrame:
  *
  * {{{
  *   val back = spark.read.format(KvDataSource.Format)
  *        .option("store", store.id).load()
  * }}}
  *
  * The scan supports filter pushdown that routes a DataFrame predicate
  * to the store's native access pattern — the reference table's
  * consumers' query shapes (`docs/dynamodb-queries.md:42-101`):
  *
  *   - `id = ? AND timestamp = ?`      → point GetItem
  *   - `id = ? [AND timestamp range]`  → primary-key Query
  *   - `kpi_type = ? [AND ts range]`   → KpiTypeIndex (GSI 1)
  *   - `genre = ? [AND date range]`    → GenreDateIndex (GSI 2)
  *   - `id LIKE 'prefix%'`             → begins_with Query
  *   - anything else                   → Scan + post-filter
  *
  * Consumed predicates are reported as pushed (they vanish from the
  * post-scan `Filter`); column pruning is honored too, so
  * `SELECT value WHERE kpi_type = ...` does an index read and
  * materializes one column. The reader opens the store by id and calls
  * the same [[KpiSink.InMemoryKvStore]] methods any caller does; a real
  * deployment would swap in a DynamoDB-style client with the same
  * routing.
  */
class KvDataSource extends TableProvider {

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val storeId = Option(options.get("store")).getOrElse(
      throw new IllegalArgumentException("option 'store' (a store id) is required"))
    KvDataSource.inferStoreSchema(storeId)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new KvDataSource.KvTable(schema, properties.asScala.toMap)
}

object KvDataSource {

  /** The name `spark.read.format` resolves: the provider's class name
    * (there is no `DataSourceRegister` short name).
    */
  val Format: String = classOf[KvDataSource].getName

  /** Item-map → relational schema: the union of attribute names across
    * items, each typed by the values it holds. Numbers read back as
    * DOUBLE (items store `BigDecimal(str(x))`, the engine-side origin of
    * every KPI value is a double); an attribute whose values disagree
    * takes the wider type (INT and BIGINT → BIGINT, other numbers →
    * DOUBLE, anything else → STRING), so the result does not depend on
    * the order items are visited in. `id`/`timestamp` lead, the rest
    * sorted. One unordered pass over the items, which records no access
    * pattern on the store.
    */
  private[serve] def inferStoreSchema(storeId: String): StructType = {
    val types = scala.collection.mutable.Map[String, DataType]()
    KpiSink.InMemoryKvStore.open(storeId).items.foreach(_.foreach { case (k, v) =>
      val t: DataType = v match {
        case _: BigDecimal | _: java.math.BigDecimal | _: Double | _: Float => DoubleType
        case _: Int     => IntegerType
        case _: Long    => LongType
        case _: Boolean => BooleanType
        case _          => StringType
      }
      types(k) = types.get(k).fold(t)(widen(_, t))
    })
    val keys = Seq("id", "timestamp").filter(types.contains)
    val rest = types.keys.toSeq.filterNot(keys.contains).sorted
    StructType((keys ++ rest).map(n => StructField(n, types(n), nullable = true)))
  }

  private def widen(a: DataType, b: DataType): DataType = (a, b) match {
    case _ if a == b => a
    case (IntegerType | LongType, IntegerType | LongType) => LongType
    case (IntegerType | LongType | DoubleType, IntegerType | LongType | DoubleType) => DoubleType
    case _ => StringType
  }

  /** Which native access pattern a pushed filter set resolved to. */
  private[serve] sealed trait QuerySpec extends Serializable
  private[serve] object QuerySpec {
    case class Point(id: String, ts: String)                                          extends QuerySpec
    case class ById(id: String, from: Option[String], to: Option[String])             extends QuerySpec
    case class ByIdPrefix(prefix: String)                                             extends QuerySpec
    case class ByKpiType(kpiType: String, from: Option[String], to: Option[String])   extends QuerySpec
    case class ByGenreDate(genre: String, from: Option[String], to: Option[String])   extends QuerySpec
    case object FullScan                                                              extends QuerySpec
  }

  /** Route a filter set to the best access pattern; returns the spec and
    * the filters it fully absorbs (everything else is re-applied by
    * Spark after the scan). Mirrors a DynamoDB client's index selection.
    */
  private[serve] def route(filters: Array[Filter]): (QuerySpec, Array[Filter]) = {
    import QuerySpec._
    def strEq(attr: String) = filters.collectFirst {
      case f @ EqualTo(a, v: String) if a == attr => (f: Filter, v) }
    def strGte(attr: String) = filters.collectFirst {
      case f @ GreaterThanOrEqual(a, v: String) if a == attr => (f: Filter, v) }
    def strLte(attr: String) = filters.collectFirst {
      case f @ LessThanOrEqual(a, v: String) if a == attr => (f: Filter, v) }
    val idEq   = strEq("id");        val tsEq   = strEq("timestamp")
    val tsGte  = strGte("timestamp"); val tsLte = strLte("timestamp")
    val dGte   = strGte("date");      val dLte  = strLte("date")
    val dateEq = strEq("date")
    val prefix = filters.collectFirst {
      case f @ StringStartsWith(a, p) if a == "id" => (f: Filter, p) }

    (idEq, tsEq) match {
      case (Some((fi, id)), Some((ft, ts))) =>
        (Point(id, ts), Array(fi, ft))
      case (Some((fi, id)), None) =>
        (ById(id, tsGte.map(_._2), tsLte.map(_._2)),
          Array(Some(fi), tsGte.map(_._1), tsLte.map(_._1)).flatten)
      case _ => strEq("kpi_type") match {
        case Some((fk, kt)) =>
          (ByKpiType(kt, tsGte.map(_._2), tsLte.map(_._2)),
            Array(Some(fk), tsGte.map(_._1), tsLte.map(_._1)).flatten)
        case None => strEq("genre") match {
          case Some((fg, g)) =>
            val (from, to) = dateEq match {
              case Some((_, d)) => (Some(d), Some(d))
              case None         => (dGte.map(_._2), dLte.map(_._2))
            }
            (ByGenreDate(g, from, to),
              Array(Some(fg), dateEq.map(_._1), dGte.map(_._1), dLte.map(_._1)).flatten)
          case None => prefix match {
            case Some((fp, p)) => (ByIdPrefix(p), Array(fp))
            case None          => (FullScan, Array.empty[Filter])
          }
        }
      }
    }
  }

  private[serve] def execute(storeId: String, spec: QuerySpec): Seq[KpiSink.Item] = {
    import QuerySpec._
    val store = KpiSink.InMemoryKvStore.open(storeId)
    spec match {
      case Point(id, ts)            => store.getItem(id, ts).toSeq
      case ById(id, from, to)       => store.queryById(id, from, to)
      case ByIdPrefix(p)            => store.queryByIdPrefix(p)
      case ByKpiType(kt, from, to)  => store.queryByKpiType(kt, from, to)
      case ByGenreDate(g, from, to) => store.queryByGenreDate(g, from, to)
      case FullScan                 => store.scanAll()
    }
  }

  private class KvTable(tableSchema: StructType, props: Map[String, String])
      extends Table with SupportsRead {
    private def storeId: String = props.getOrElse("store",
      throw new IllegalArgumentException("option 'store' (a store id) is required"))
    override def name(): String = Format
    override def schema(): StructType = tableSchema
    override def capabilities(): util.Set[TableCapability] =
      Set(TableCapability.BATCH_READ).asJava
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      new KvScanBuilder(tableSchema, storeId)
  }

  private class KvScanBuilder(fullSchema: StructType, storeId: String)
      extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {
    private var spec: QuerySpec = QuerySpec.FullScan
    private var pushed: Array[Filter] = Array.empty
    private var readSchema: StructType = fullSchema

    override def pushFilters(filters: Array[Filter]): Array[Filter] = {
      val (s, consumed) = route(filters)
      spec = s; pushed = consumed
      filters.filterNot(consumed.contains) // residual: Spark re-applies
    }
    override def pushedFilters(): Array[Filter] = pushed
    override def pruneColumns(required: StructType): Unit =
      // keep the full-schema field order (and types) for the names Spark kept
      readSchema = StructType(fullSchema.fields.filter(f =>
        required.fieldNames.contains(f.name)))
    override def build(): Scan = new KvScan(storeId, spec, readSchema, pushed)
  }

  private class KvScan(storeId: String, spec: QuerySpec, schema: StructType,
                       pushed: Array[Filter]) extends Scan with Batch {
    override def readSchema(): StructType = schema
    override def toBatch: Batch = this
    override def description(): String =
      s"KvDataSource store=$storeId access=$spec pushed=${pushed.mkString(",")}"
    override def planInputPartitions(): Array[InputPartition] =
      Array(KvInputPartition(storeId, spec))
    override def createReaderFactory(): PartitionReaderFactory =
      KvReaderFactory(schema)
  }

  private case class KvInputPartition(storeId: String, spec: QuerySpec)
      extends InputPartition

  private case class KvReaderFactory(schema: StructType) extends PartitionReaderFactory {
    override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
      val p = partition.asInstanceOf[KvInputPartition]
      new KvPartitionReader(execute(p.storeId, p.spec).iterator, schema)
    }
  }

  private class KvPartitionReader(items: Iterator[KpiSink.Item], schema: StructType)
      extends PartitionReader[InternalRow] {
    private var current: InternalRow = _
    override def next(): Boolean =
      if (items.hasNext) { current = toRow(items.next()); true } else false
    override def get(): InternalRow = current
    override def close(): Unit = ()

    private def toRow(item: KpiSink.Item): InternalRow =
      new GenericInternalRow(schema.fields.map { f =>
        item.get(f.name).map { v =>
          (f.dataType, v) match {
            case (StringType, x)              => UTF8String.fromString(x.toString)
            case (DoubleType, b: BigDecimal)  => b.toDouble
            case (DoubleType, n: Number)      => n.doubleValue()
            case (IntegerType, n: Number)     => n.intValue()
            case (LongType, n: Number)        => n.longValue()
            case (BooleanType, b: Boolean)    => b
            case (_, x)                       => UTF8String.fromString(x.toString)
          }
        }.getOrElse(null).asInstanceOf[AnyRef]
      }.asInstanceOf[Array[Any]])
  }
}
