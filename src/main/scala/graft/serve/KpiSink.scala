package graft.serve

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

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
    * retry throttled batches with exponential backoff (`MaxRetries`
    * retries, `BaseDelayMs` doubling). `sleep` is injectable so tests
    * don't wait out real backoff.
    */
  def write(items: DataFrame, store: KvStore, sleep: Long => Unit = Thread.sleep): Unit =
    items.foreachPartition { (rows: Iterator[Row]) =>
      rows.grouped(BatchSize).foreach { batch =>
        val converted = batch.map(toItem)
        var retries = 0
        var done    = false
        while (!done) {
          try { store.putBatch(converted); done = true }
          catch {
            case e: ThrottledException =>
              if (retries >= MaxRetries) throw e
              sleep((1L << retries) * BaseDelayMs) // 2^retries * base — :160
              retries += 1
          }
        }
      }
    }

  /** Test/reference implementation: a JVM-shared store keyed by
    * (id, timestamp) — overwrite-by-pkeys semantics
    * (`scripts/load_dynamodb.py:140`). Optionally throttles the first
    * `throttleFirstN` batch attempts to exercise the retry path.
    *
    * The instance is a serializable handle holding only the store's
    * `id`; the state lives in one JVM-wide registry from id to a
    * per-store `State`, so the copies Spark serializes into executor
    * closures (local mode shares the JVM) and the DSv2 reader
    * ([[KvDataSource]], which opens the store by id) all reach the same
    * rows. Items enter through `putBatch`, which [[KpiSink.write]] calls
    * once per batch; there is no other write path. A store's state lives
    * until [[drop]] removes it from the registry.
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
  final class InMemoryKvStore private (val id: String) extends KvStore {
    import InMemoryKvStore.State

    def this(throttleFirstN: Int = 0) = {
      this(java.util.UUID.randomUUID().toString)
      InMemoryKvStore.states.put(id, new State(throttleFirstN))
    }

    private def state: State = InMemoryKvStore.state(id)

    /** Free the store: its state leaves the registry, and every later
      * call on it, or `open` of its id, fails as for an unknown store id.
      */
    def drop(): Unit = InMemoryKvStore.states.remove(id)

    def putBatch(items: Seq[Item]): Unit = {
      require(items.size <= BatchSize, s"batch of ${items.size} exceeds $BatchSize")
      val st = state
      val n  = st.attempts.incrementAndGet()
      if (n <= st.throttleFirstN) throw new ThrottledException(s"throttled attempt $n")
      st.batchSizes.merge(items.size, 1, (a, b) => a + b)
      items.foreach(st.upsert)
    }

    def size: Int = state.rows.size
    def batchAttempts: Int = state.attempts.get()
    def batchSizeHistogram: Map[Int, Int] =
      state.batchSizes.asScala.map { case (k, v) => k -> v.intValue() }.toMap

    // ------------------------------------------------------------------
    // Read path — docs/dynamodb-queries.md access patterns
    // ------------------------------------------------------------------

    /** Which access pattern served the most recent read — lets tests
      * assert that a pushed-down DataFrame filter routed to an index
      * instead of a scan.
      */
    def lastReadPattern: String = state.lastAccess

    private def served(pattern: String): State = {
      val st = state
      st.lastAccess = pattern
      st
    }

    /** Point `get-item` on the composite primary key
      * (`docs/dynamodb-queries.md:44-49`).
      */
    def getItem(id: String, ts: String): Option[Item] =
      Option(served("GetItem").rows.get((id, ts)))

    /** Key-condition query: one partition (id), optional sort-key range
      * on timestamp (`docs/dynamodb-queries.md:51-60`). Results sorted
      * by timestamp, as the table's sort key would return them.
      */
    def queryById(id: String, tsFrom: Option[String] = None,
                  tsTo: Option[String] = None): Seq[Item] =
      served("Query(id)").rows.asScala.iterator.collect {
        case ((i, ts), it) if i == id &&
          tsFrom.forall(ts >= _) && tsTo.forall(ts <= _) => (ts, it)
      }.toSeq.sortBy(_._1).map(_._2)

    /** `begins_with(id, prefix)` pattern over the id keyspace
      * (`docs/dynamodb-queries.md:252-257` — genre_metrics#date etc.).
      */
    def queryByIdPrefix(prefix: String): Seq[Item] =
      served("Query(id begins_with)").rows.asScala.iterator.collect {
        case (k @ (i, _), it) if i.startsWith(prefix) => (k, it)
      }.toSeq.sortBy(_._1).map(_._2)

    /** KpiTypeIndex: hash kpi_type, range timestamp
      * (`docs/dynamodb-queries.md:65-86`).
      */
    def queryByKpiType(kpiType: String, tsFrom: Option[String] = None,
                       tsTo: Option[String] = None): Seq[Item] =
      Option(served("KpiTypeIndex").kpiTypeIdx.get(kpiType)).map(_.asScala.iterator.collect {
        case ((ts, _), it) if tsFrom.forall(ts >= _) && tsTo.forall(ts <= _) => (ts, it)
      }.toSeq.sortBy(_._1).map(_._2)).getOrElse(Nil)

    /** GenreDateIndex: hash genre, range date
      * (`docs/dynamodb-queries.md:90-101,358-374`).
      */
    def queryByGenreDate(genre: String, dateFrom: Option[String] = None,
                         dateTo: Option[String] = None): Seq[Item] =
      Option(served("GenreDateIndex").genreDateIdx.get(genre)).map(_.asScala.iterator.collect {
        case ((d, _, _), it) if dateFrom.forall(d >= _) && dateTo.forall(d <= _) => (d, it)
      }.toSeq.sortBy(_._1).map(_._2)).getOrElse(Nil)

    /** Full scan (`docs/dynamodb-queries.md:28-30,108-111`). */
    def scanAll(): Seq[Item] =
      served("Scan").rows.asScala.iterator.toSeq.sortBy(_._1).map(_._2)

    /** Every item, in no order, recording no access pattern: for the
      * DSv2 reader's schema inference, which is not a read of the table.
      */
    private[serve] def items: Iterator[Item] = state.rows.values.iterator.asScala
  }

  object InMemoryKvStore {
    /** Everything one store holds: rows by (id, timestamp), both
      * secondary indexes, the batch attempt counter and size histogram,
      * the last read's access pattern, and the throttle setting.
      */
    private final class State(val throttleFirstN: Int) {
      val rows         = new ConcurrentHashMap[(String, String), Item]()
      val kpiTypeIdx   = new ConcurrentHashMap[String, ConcurrentHashMap[(String, String), Item]]()
      val genreDateIdx = new ConcurrentHashMap[String, ConcurrentHashMap[(String, String, String), Item]]()
      val attempts     = new AtomicInteger(0)
      val batchSizes   = new ConcurrentHashMap[Int, Integer]()
      @volatile var lastAccess: String = "none"

      /** Upsert one item: overwrite by (id, timestamp) and keep both
        * secondary indexes consistent — if the overwrite changed an index
        * attribute, the stale index entry is removed first (DynamoDB does
        * this index maintenance on every PutItem).
        */
      def upsert(it: Item): Unit = {
        val key = (it("id").toString, it("timestamp").toString)
        Option(rows.put(key, it)).foreach(deindex(key, _))
        index(key, it)
      }

      private def index(key: (String, String), it: Item): Unit = {
        it.get("kpi_type").foreach { kt =>
          kpiTypeIdx.computeIfAbsent(kt.toString, _ => new ConcurrentHashMap())
            .put((key._2, key._1), it)
        }
        it.get("genre").foreach { g =>
          it.get("date").foreach { d =>
            genreDateIdx.computeIfAbsent(g.toString, _ => new ConcurrentHashMap())
              .put((d.toString, key._1, key._2), it)
          }
        }
      }

      private def deindex(key: (String, String), prev: Item): Unit = {
        prev.get("kpi_type").foreach { kt =>
          Option(kpiTypeIdx.get(kt.toString)).foreach(_.remove((key._2, key._1)))
        }
        prev.get("genre").foreach { g =>
          prev.get("date").foreach { d =>
            Option(genreDateIdx.get(g.toString)).foreach(_.remove((d.toString, key._1, key._2)))
          }
        }
      }
    }

    // local-mode executors share the JVM: the registry makes one store
    // visible across its serialized handle copies
    private val states = new ConcurrentHashMap[String, State]()

    private def state(storeId: String): State = {
      val st = states.get(storeId)
      require(st != null, s"unknown store id $storeId — create the InMemoryKvStore first")
      st
    }

    /** The store a DSv2 read names by id. */
    private[serve] def open(storeId: String): InMemoryKvStore = {
      state(storeId)
      new InMemoryKvStore(storeId)
    }
  }
}
