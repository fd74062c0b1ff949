package graft.serve

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, Row}

/** Distributed key-value serving sink (S8) — the engine-side replacement
  * for the reference's driver-side boto3 loop
  * (`scripts/load_dynamodb.py:125-181`): items flow out of executors via
  * `foreachPartition`, in batches of 25, with per-batch exponential
  * backoff (base 1 s, ≤ 5 retries) on throttling, and last-writer-wins
  * semantics on the (id, timestamp) composite key.
  *
  * The store behind the batch call is pluggable ([[KvStore]]); tests use
  * [[InMemoryKvStore]], a real deployment would wrap a DynamoDB-style
  * client. Item values are coerced exactly as the reference's
  * `convert_to_dynamodb_format` (`:110-122`): floats become
  * `BigDecimal(value.toString)` (the `Decimal(str(x))` idiom), null
  * attributes are omitted from the item, non-scalar values degrade to
  * strings.
  */
object KpiSink {

  type Item = Map[String, Any]

  /** One batch write, ≤ `BatchSize` items. Throw [[ThrottledException]]
    * to signal a retryable throttle.
    */
  trait KvStore extends Serializable {
    def putBatch(items: Seq[Item]): Unit
  }

  final class ThrottledException(msg: String) extends RuntimeException(msg)

  val BatchSize   = 25 // DynamoDB limit — scripts/load_dynamodb.py:135
  val MaxRetries  = 5  // :137
  val BaseDelayMs = 1000L // :138

  /** `Decimal(str(x))` / skip-None coercion — `scripts/load_dynamodb.py:110-122`. */
  def toItem(row: Row): Item =
    row.schema.fieldNames.iterator.zipWithIndex.flatMap { case (name, i) =>
      row.get(i) match {
        case null                      => None // skip nulls, like the reference
        case d: Double                 => Some(name -> BigDecimal(d.toString))
        case f: Float                  => Some(name -> BigDecimal(f.toString))
        case v @ (_: Int | _: Long | _: Boolean | _: String) => Some(name -> v)
        case other                     => Some(name -> other.toString)
      }
    }.toMap

  /** Write a whole item table: executors batch rows (25 at a time) and
    * retry throttled batches with exponential backoff. `sleep` is
    * injectable so tests don't wait out real backoff.
    */
  def write(items: DataFrame, store: KvStore,
            maxRetries: Int = MaxRetries, baseDelayMs: Long = BaseDelayMs,
            sleep: Long => Unit = Thread.sleep): Unit =
    items.foreachPartition { (rows: Iterator[Row]) =>
      rows.grouped(BatchSize).foreach { batch =>
        val converted = batch.map(toItem)
        var retries = 0
        var done    = false
        while (!done) {
          try { store.putBatch(converted); done = true }
          catch {
            case e: ThrottledException =>
              if (retries >= maxRetries) throw e
              sleep((1L << retries) * baseDelayMs) // 2^retries * base — :160
              retries += 1
          }
        }
      }
    }

  /** Test/reference implementation: a JVM-shared map keyed by
    * (id, timestamp) — overwrite-by-pkeys semantics
    * (`scripts/load_dynamodb.py:140`). Optionally throttles the first
    * `throttleFirstN` batch attempts to exercise the retry path.
    *
    * The read side models the reference table's access patterns
    * (`docs/dynamodb-queries.md:42-101`, GSIs declared at
    * `scripts/create_dynamodb_table.py:25-50`): point get + sort-key
    * range on the (id, timestamp) primary key, and two secondary
    * indexes maintained at write time — `KpiTypeIndex`
    * (kpi_type / timestamp) and `GenreDateIndex` (genre / date). The
    * indexes are SPARSE, like DynamoDB GSIs: an item missing the index
    * hash attribute simply doesn't appear in that index. Range
    * comparisons are lexicographic over the ISO-formatted string keys —
    * exactly the string-key BETWEEN semantics of the reference's
    * queries.
    */
  class InMemoryKvStore(throttleFirstN: Int = 0) extends KvStore {
    import InMemoryKvStore._
    /** Stable handle for addressing this store across the DSv2 path. */
    val id: String = java.util.UUID.randomUUID().toString
    private def storeId: String = id
    registry.putIfAbsent(storeId, new ConcurrentHashMap[(String, String), Item]())
    kpiTypeIdx.putIfAbsent(storeId, new ConcurrentHashMap[String, ConcurrentHashMap[(String, String), Item]]())
    genreDateIdx.putIfAbsent(storeId, new ConcurrentHashMap[String, ConcurrentHashMap[(String, String, String), Item]]())
    attempts.putIfAbsent(storeId, new java.util.concurrent.atomic.AtomicInteger(0))
    batchSizes.putIfAbsent(storeId, new ConcurrentHashMap[Int, Integer]())
    lastAccess.putIfAbsent(storeId, "none")

    def putBatch(items: Seq[Item]): Unit = {
      require(items.size <= BatchSize, s"batch of ${items.size} exceeds $BatchSize")
      val n = attempts.get(storeId).incrementAndGet()
      if (n <= throttleFirstN) throw new ThrottledException(s"throttled attempt $n")
      batchSizes.get(storeId).merge(items.size, 1, (a, b) => a + b)
      items.foreach(upsert(storeId, _))
    }

    def size: Int = registry.get(storeId).size
    def get(id: String, ts: String): Option[Item] = getItem(id, ts)
    def batchAttempts: Int = attempts.get(storeId).get()
    def batchSizeHistogram: Map[Int, Int] = {
      import scala.jdk.CollectionConverters._
      batchSizes.get(storeId).asScala.map { case (k, v) => k -> v.intValue() }.toMap
    }

    // ------------------------------------------------------------------
    // Read path — docs/dynamodb-queries.md access patterns
    // ------------------------------------------------------------------

    /** Which access pattern served the most recent read — lets tests
      * assert that a pushed-down DataFrame filter routed to an index
      * instead of a scan.
      */
    def lastReadPattern: String = lastAccess.get(storeId)

    /** Point `get-item` on the composite primary key
      * (`docs/dynamodb-queries.md:44-49`).
      */
    def getItem(id: String, ts: String): Option[Item] =
      InMemoryKvStore.getItem(storeId, id, ts)

    /** Key-condition query: one partition (id), optional sort-key range
      * on timestamp (`docs/dynamodb-queries.md:51-60`). Results sorted
      * by timestamp, as the table's sort key would return them.
      */
    def queryById(id: String, tsFrom: Option[String] = None,
                  tsTo: Option[String] = None): Seq[Item] =
      InMemoryKvStore.queryById(storeId, id, tsFrom, tsTo)

    /** `begins_with(id, prefix)` pattern over the id keyspace
      * (`docs/dynamodb-queries.md:252-257` — genre_metrics#date etc.).
      */
    def queryByIdPrefix(prefix: String): Seq[Item] =
      InMemoryKvStore.queryByIdPrefix(storeId, prefix)

    /** KpiTypeIndex: hash kpi_type, range timestamp
      * (`docs/dynamodb-queries.md:65-86`).
      */
    def queryByKpiType(kpiType: String, tsFrom: Option[String] = None,
                       tsTo: Option[String] = None): Seq[Item] =
      InMemoryKvStore.queryByKpiType(storeId, kpiType, tsFrom, tsTo)

    /** GenreDateIndex: hash genre, range date
      * (`docs/dynamodb-queries.md:90-101,358-374`).
      */
    def queryByGenreDate(genre: String, dateFrom: Option[String] = None,
                         dateTo: Option[String] = None): Seq[Item] =
      InMemoryKvStore.queryByGenreDate(storeId, genre, dateFrom, dateTo)

    /** Full scan (`docs/dynamodb-queries.md:28-30,108-111`). */
    def scanAll(): Seq[Item] = InMemoryKvStore.scanAll(storeId)
  }

  object InMemoryKvStore {
    // local-mode executors share the JVM; keyed statics make the store
    // visible across the serialized closure copies
    private val registry     = new ConcurrentHashMap[String, ConcurrentHashMap[(String, String), Item]]()
    private val kpiTypeIdx   = new ConcurrentHashMap[String, ConcurrentHashMap[String, ConcurrentHashMap[(String, String), Item]]]()
    private val genreDateIdx = new ConcurrentHashMap[String, ConcurrentHashMap[String, ConcurrentHashMap[(String, String, String), Item]]]()
    private val attempts     = new ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicInteger]()
    private val batchSizes   = new ConcurrentHashMap[String, ConcurrentHashMap[Int, Integer]]()
    private val lastAccess   = new ConcurrentHashMap[String, String]()

    /** Upsert one item: overwrite by (id, timestamp) and keep both
      * secondary indexes consistent — if the overwrite changed an index
      * attribute, the stale index entry is removed first (DynamoDB does
      * this index maintenance on every PutItem).
      */
    private def upsert(storeId: String, it: Item): Unit = {
      val key  = (it("id").toString, it("timestamp").toString)
      val prev = registry.get(storeId).put(key, it)
      Option(prev).foreach(deindex(storeId, key, _))
      index(storeId, key, it)
    }

    private def index(storeId: String, key: (String, String), it: Item): Unit = {
      it.get("kpi_type").foreach { kt =>
        kpiTypeIdx.get(storeId)
          .computeIfAbsent(kt.toString, _ => new ConcurrentHashMap())
          .put((key._2, key._1), it)
      }
      it.get("genre").foreach { g =>
        it.get("date").foreach { d =>
          genreDateIdx.get(storeId)
            .computeIfAbsent(g.toString, _ => new ConcurrentHashMap())
            .put((d.toString, key._1, key._2), it)
        }
      }
    }

    private def deindex(storeId: String, key: (String, String), prev: Item): Unit = {
      prev.get("kpi_type").foreach { kt =>
        Option(kpiTypeIdx.get(storeId).get(kt.toString))
          .foreach(_.remove((key._2, key._1)))
      }
      prev.get("genre").foreach { g =>
        prev.get("date").foreach { d =>
          Option(genreDateIdx.get(storeId).get(g.toString))
            .foreach(_.remove((d.toString, key._1, key._2)))
        }
      }
    }

    /** Batch put addressed by store id — the DSv2 writer's entry point
      * (`KvDataSource`). Same overwrite-by-(id, timestamp) semantics.
      */
    private[serve] def putById(storeId: String, items: Seq[Item]): Unit = {
      require(items.size <= BatchSize, s"batch of ${items.size} exceeds $BatchSize")
      val m = registry.get(storeId)
      require(m != null, s"unknown store id $storeId — create the InMemoryKvStore first")
      batchSizes.get(storeId).merge(items.size, 1, (a, b) => a + b)
      items.foreach(upsert(storeId, _))
    }

    // ------------------------------------------------------------------
    // Read path, addressed by store id (the DSv2 reader's entry points;
    // instance methods above delegate here)
    // ------------------------------------------------------------------

    private def table(storeId: String): ConcurrentHashMap[(String, String), Item] = {
      val m = registry.get(storeId)
      require(m != null, s"unknown store id $storeId — create the InMemoryKvStore first")
      m
    }
    private def served(storeId: String, pattern: String): Unit =
      lastAccess.put(storeId, pattern)

    private[serve] def getItem(storeId: String, id: String, ts: String): Option[Item] = {
      served(storeId, "GetItem")
      Option(table(storeId).get((id, ts)))
    }

    private[serve] def queryById(storeId: String, id: String,
                                 tsFrom: Option[String], tsTo: Option[String]): Seq[Item] = {
      import scala.jdk.CollectionConverters._
      served(storeId, "Query(id)")
      table(storeId).asScala.iterator.collect {
        case ((i, ts), it) if i == id &&
          tsFrom.forall(ts >= _) && tsTo.forall(ts <= _) => (ts, it)
      }.toSeq.sortBy(_._1).map(_._2)
    }

    private[serve] def queryByIdPrefix(storeId: String, prefix: String): Seq[Item] = {
      import scala.jdk.CollectionConverters._
      served(storeId, "Query(id begins_with)")
      table(storeId).asScala.iterator.collect {
        case (k @ (i, _), it) if i.startsWith(prefix) => (k, it)
      }.toSeq.sortBy(_._1).map(_._2)
    }

    private[serve] def queryByKpiType(storeId: String, kpiType: String,
                                      tsFrom: Option[String], tsTo: Option[String]): Seq[Item] = {
      import scala.jdk.CollectionConverters._
      served(storeId, "KpiTypeIndex")
      Option(kpiTypeIdx.get(storeId).get(kpiType)).map(_.asScala.iterator.collect {
        case ((ts, _), it) if tsFrom.forall(ts >= _) && tsTo.forall(ts <= _) => (ts, it)
      }.toSeq.sortBy(_._1).map(_._2)).getOrElse(Nil)
    }

    private[serve] def queryByGenreDate(storeId: String, genre: String,
                                        dateFrom: Option[String], dateTo: Option[String]): Seq[Item] = {
      import scala.jdk.CollectionConverters._
      served(storeId, "GenreDateIndex")
      Option(genreDateIdx.get(storeId).get(genre)).map(_.asScala.iterator.collect {
        case ((d, _, _), it) if dateFrom.forall(d >= _) && dateTo.forall(d <= _) => (d, it)
      }.toSeq.sortBy(_._1).map(_._2)).getOrElse(Nil)
    }

    private[serve] def scanAll(storeId: String): Seq[Item] = {
      import scala.jdk.CollectionConverters._
      served(storeId, "Scan")
      table(storeId).asScala.iterator.toSeq.sortBy(_._1).map(_._2)
    }
  }
}
