package graft.io

import java.net.URI
import java.security.MessageDigest

import scala.util.Try

import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.sql.SparkSession

/** Filesystem-level operators (S9/S11/S12): existence probes, file
  * identity, the reference-data CDC checksum gate, and the archival
  * move. All are
  * driver-side control-plane operations over the Hadoop `FileSystem`
  * abstraction (works identically for file://, hdfs://, s3a://) — they
  * never touch executor dataflow, so there is nothing to distribute.
  */
object FsUtil {

  private def fs(spark: SparkSession, path: Path): FileSystem =
    path.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** S9 — `check_parquet_exists` / `check_file_exists`
    * (`scripts/validate_data.py:73-83,174-183`).
    */
  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(PathUtil.cleanPath(path))
    fs(spark, p).exists(p)
  }

  /** The URI under which Spark's file scans name the file at `path` (what
    * `input_file_name()` reports): `path`, a plain path (relative ones
    * resolve against the working directory) or a URI, qualified by its
    * file system, with doubled slashes collapsed and reserved characters
    * percent-encoded. A local `/data//streams a.csv` becomes
    * `file:///data/streams%20a.csv`; every spelling of one file gives one
    * URI.
    */
  def fileUri(spark: SparkSession, path: String): String = {
    val clean = PathUtil.cleanPath(path)
    val p = Try(new URI(clean)).toOption.filter(_.getScheme != null)
      .fold(new Path(clean))(new Path(_))
    val q = fs(spark, p).makeQualified(p).toUri
    new URI(q.getScheme, Option(q.getAuthority).getOrElse(""), q.getPath, null, null).toString
  }

  /** MD5 content hash of a file — the reference's CDC fingerprint
    * (`dags/music_streaming_pipeline.py:127-130`).
    */
  def md5Hex(spark: SparkSession, path: String): String = {
    val p  = new Path(PathUtil.cleanPath(path))
    val in = fs(spark, p).open(p)
    try {
      val md  = MessageDigest.getInstance("MD5")
      val buf = new Array[Byte](1 << 16)
      Iterator.continually(in.read(buf)).takeWhile(_ > 0).foreach(md.update(buf, 0, _))
      md.digest().map("%02x".format(_)).mkString
    } finally in.close()
  }

  /** S11 (check phase) — reference-data CDC gate (`dags/
    * music_streaming_pipeline.py:353-389`): true iff the file's content
    * hash differs from the ledger's, i.e. the dimension needs
    * reprocessing. READ-ONLY: the ledger is only advanced by
    * [[commitChecksum]], which callers must invoke AFTER the derived
    * output is durably written — updating the ledger first would make a
    * failed write look already-processed on the next run (stale staged
    * data served with `changed=false`).
    */
  def checksumChanged(spark: SparkSession, input: String, ledgerPath: String): Boolean =
    checksumIfChanged(spark, input, ledgerPath).isDefined

  /** S11 (commit phase) — persist `input`'s current MD5 to the ledger.
    * Call only after the reprocessed output has been written. This hashes
    * the file again: if it can be replaced while it is processed, use
    * [[checksumIfChanged]] and [[recordChecksum]] instead.
    */
  def commitChecksum(spark: SparkSession, input: String, ledgerPath: String): Unit =
    recordChecksum(spark, ledgerPath, md5Hex(spark, input))

  /** S11 (check phase), hashing once: `Some(md5)` of `input` iff it
    * differs from the ledger's, else `None`. Read-only, like
    * [[checksumChanged]]. Commit THIS hash with [[recordChecksum]] once
    * the output derived from the file is written: the ledger then vouches
    * only for content read before the processing began. A file replaced
    * during the processing makes the next check report a change (one
    * harmless re-run), never a stale "unchanged".
    */
  def checksumIfChanged(spark: SparkSession, input: String,
                        ledgerPath: String): Option[String] = {
    val current = md5Hex(spark, input)
    val lp      = new Path(PathUtil.cleanPath(ledgerPath))
    val lfs     = fs(spark, lp)
    val prior =
      if (!lfs.exists(lp)) None
      else {
        val in = lfs.open(lp)
        try Some(new String(in.readAllBytes(), "UTF-8").trim) finally in.close()
      }
    Some(current).filterNot(prior.contains)
  }

  /** S11 (commit phase) — persist a hash taken by [[checksumIfChanged]]
    * to the ledger.
    */
  def recordChecksum(spark: SparkSession, ledgerPath: String, md5: String): Unit = {
    val lp  = new Path(PathUtil.cleanPath(ledgerPath))
    val out = fs(spark, lp).create(lp, true)
    try out.write(md5.getBytes("UTF-8")) finally out.close()
  }

  /** S12 — archival move (`dags/music_streaming_pipeline.py:722-813`):
    * copy each processed object to `<archiveRoot>/<runTs>/<kind>/<name>`
    * then delete the original. Returns the archived target paths.
    */
  def archive(spark: SparkSession, files: Seq[String], archiveRoot: String,
              kind: String, runTs: String): Seq[String] =
    files.map { f =>
      val src    = new Path(PathUtil.cleanPath(f))
      val srcFs  = fs(spark, src)
      val target = new Path(PathUtil.cleanPath(s"$archiveRoot/$runTs/$kind/${src.getName}"))
      val dstFs  = fs(spark, target)
      dstFs.mkdirs(target.getParent)
      val conf = spark.sparkContext.hadoopConfiguration
      if (!FileUtil.copy(srcFs, src, dstFs, target, true /* deleteSource */, true, conf))
        sys.error(s"archive failed for $f")
      target.toString
    }
}
