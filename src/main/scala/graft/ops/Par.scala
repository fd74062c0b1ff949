package graft.ops

import org.apache.spark.sql.DataFrame

/** Parallelism guards for CPU-dense per-row stages (r12 probe finding).
  *
  * Scan parallelism is a function of FILE BYTES (`maxPartitionBytes`,
  * row-group boundaries), but several operator families run work per
  * row that is orders of magnitude denser than the bytes suggest:
  * banded-DP verification behind a blocked join, O(nlist·d) centroid
  * assignment, 64-plane signature folds, per-vector projections,
  * whole-document tokenization. A corpus that fits one parquet
  * row-group scans as ONE partition, and everything between the scan
  * and the first shuffle — including broadcast-join fanout that AQE
  * cannot see (it sizes by scan bytes, not post-join rows) — runs on
  * one core. Measured on the fair 10× corpus: a single task ground
  * banded levenshtein for 15+ minutes while 31 cores idled.
  *
  * The guard: when the INPUT scans narrower than the session's shuffle
  * width, round-robin the dense frame out once. Properties that make
  * this safe and cheap:
  *   - one exchange of the bounded frame, paid only when the scan is
  *     narrow — on a real-scale corpus (wide scan) it is a NO-OP and
  *     adds no exchange;
  *   - `repartition(n)` with an explicit n is preserved by AQE (never
  *     coalesced back down by byte size);
  *   - round-robin repartition is deterministic (Spark sorts partitions
  *     locally before distributing, for retry determinism), and no
  *     operator in this library depends on input ROW ORDER anyway —
  *     codebook/centroid training samples are `orderBy(id).limit(n)`,
  *     deterministic under any partitioning.
  */
object Par {

  /** Spread `dense` to the session shuffle width when `input`'s scan
    * gives fewer partitions; identity otherwise. `input` is the frame
    * whose SCAN sets the inherited parallelism (usually the operator's
    * raw input), `dense` the derived frame about to do per-row work.
    *
    * Streaming frames pass through unchanged: probing `input.rdd`
    * throws at plan-construction time on a streaming DataFrame, and a
    * micro-batch's partitioning is the stream source's to set (each
    * batch is re-planned; the narrow-scan shape this guard exists for
    * is a batch parquet artifact).
    */
  def spreadToShuffleWidth(dense: DataFrame, input: DataFrame): DataFrame = {
    if (dense.isStreaming || input.isStreaming) return dense
    val width = dense.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val inParts = input.rdd.getNumPartitions
    val spread = inParts < width
    audit.foreach(_ += AuditRec(inParts, width, spread, callSite()))
    if (spread) dense.repartition(width) else dense
  }

  /** One recorded guard decision: the input's scan partitions, the
    * session shuffle width, whether a round-robin spread was inserted,
    * and the library call site that asked (test diagnostics).
    */
  final case class AuditRec(inputParts: Int, width: Int, spread: Boolean,
                            site: String)

  // Invocation recorder behind the width audit (WidthAuditSpec) and
  // graft.QueryProfile's width fields: None unless one of them records,
  // so the guard's hot path pays nothing. Enabled per-thread is
  // unnecessary — both construct entries serially.
  @volatile private var audit: Option[scala.collection.mutable.ListBuffer[AuditRec]] = None

  private def callSite(): String =
    Thread.currentThread.getStackTrace
      .drop(1) // getStackTrace itself
      .find { e =>
        val c = e.getClassName
        // skip Par's own frames AND private forwarding wrappers named
        // like the guard (Dedup has one), so the recorded site is the
        // operator that asked, not the shim
        c.startsWith("graft.") && !c.startsWith("graft.ops.Par") &&
          e.getMethodName != "spreadToShuffleWidth"
      }
      .map(e => s"${e.getFileName}:${e.getLineNumber}")
      .getOrElse("<unknown>")

  /** Start recording guard decisions (clears any previous capture). */
  def auditStart(): Unit =
    audit = Some(scala.collection.mutable.ListBuffer.empty[AuditRec])

  /** Stop recording and return everything captured since [[auditStart]]. */
  def auditStop(): Seq[AuditRec] = {
    val out = audit.map(_.toList).getOrElse(Nil)
    audit = None
    out
  }
}
