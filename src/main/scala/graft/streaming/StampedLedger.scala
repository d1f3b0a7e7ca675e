package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The batchId-stamped persistent-ledger fold — the exactly-once-under-
  * retries discipline every foreachBatch fold in this package relies on,
  * extracted to ONE implementation (it was re-implemented inline at 7+
  * sites, and the two copies that had drifted — q80/q81's snapshot
  * rewrites — had dropped the idempotence guard, an at-least-once
  * double-count waiting for a task retry).
  *
  * The contract, in three composable pieces:
  *
  *  1. '''idempotence guard''' ([[guard]]): `foreachBatch` is
  *     AT-LEAST-ONCE — a retried trigger re-delivers the same batchId,
  *     and folding the same batch twice corrupts any non-idempotent
  *     accumulator (additive counts, driver-side sketch merges).
  *     Tracking the last folded id makes the fold idempotent.
  *     foreachBatch bodies run serially on the stream's single query
  *     thread, so plain vars suffice.
  *  2. '''stamped overwrite dirs''' ([[stampFor]]/[[fold]]): each fold
  *     writes the COMPLETE new ledger to `root/v<batchId>` in overwrite
  *     mode — a re-executed write of the same batch lands in the same
  *     dir with the same content, never appends a duplicate.
  *  3. '''conditional advance + GC''' ([[advanceTo]]): the pointer moves
  *     only to a directory that exists — a zero-row dynamic-partition
  *     write emits NO directory (q58's hazard: advancing to it would
  *     make the next trigger's snapshot read throw PATH_NOT_FOUND) —
  *     and the superseded stamp is deleted so temp usage stays O(ledger),
  *     not O(batches x ledger), over a long stream.
  *
  * At 100 TB the same discipline holds with `root` on the cluster store:
  * the ledger is state-cardinality (never corpus-cardinality), each fold
  * is one distributed job, and the driver holds only the path + id.
  * [[advanceTo]]/`deleteTree` go through `org.apache.hadoop.fs.
  * FileSystem` resolved from the active session's Hadoop conf (ADVICE
  * r12 closed in r13: the original `java.io.File` exists-check was
  * local-only — on HDFS/S3 the pointer would never advance and stamps
  * would never be GC'd), so the same code runs against file://, hdfs://
  * or s3a:// roots with the session's credentials.
  */
final class StampedLedger(root: String = "") {
  private var lastFolded = -1L
  private var prevPath: Option[String] = None

  /** Stamp dir for a batch: overwrite-mode writes here are retry-safe.
    * (A root-less ledger is guard-only: [[Replay.Run.foldDriver]]'s
    * driver-side folds keep no parquet state.) */
  def stampFor(batchId: Long): String = {
    require(root.nonEmpty, "guard-only ledger has no stamp root")
    s"$root/v$batchId"
  }

  /** Run `body` only if `batchId` has not been folded yet; returns
    * whether it ran. Use alone for driver-accumulator folds
    * ([[Replay.Run.foldDriver]]) that keep no parquet state.
    *
    * The id is marked consumed only AFTER `body` succeeds: a fold that
    * THROWS leaves the batch un-folded, so an engine retry of the same
    * batchId re-runs it instead of silently dropping the batch forever
    * (the stamped-dir write is overwrite-idempotent and [[advanceTo]]
    * only moves on success, so the re-run is safe for ledger folds;
    * a driver fold assigns its state only after its step returns). */
  def guard(batchId: Long)(body: => Unit): Boolean =
    if (batchId <= lastFolded) false
    else {
      body
      lastFolded = batchId
      true
    }

  /** Path of the current ledger snapshot, if any fold has landed. */
  def previousPath: Option[String] = prevPath

  /** The current ledger, or an empty frame of `schema` before the first
    * fold (the shape every fold's full-outer/union merge expects). */
  def previous(s: SparkSession, schema: StructType): DataFrame =
    prevPath.map(s.read.parquet(_)).getOrElse(
      s.createDataFrame(java.util.Collections.emptyList[Row](), schema))

  /** Advance the pointer to `path` if the directory exists, deleting the
    * superseded stamp; a missing dir (zero-row dynamic-partition write)
    * leaves the pointer — and therefore the prior state it protects —
    * untouched. Returns whether the pointer moved. */
  def advanceTo(path: String): Boolean =
    if (!StampedLedger.isDir(path)) false
    else {
      val old = prevPath
      prevPath = Some(path)
      old.filter(_ != path).foreach(StampedLedger.deleteTree)
      true
    }

  /** The whole discipline in one call: guard, hand `write` the stamp dir
    * to overwrite, advance + GC. Returns whether the fold ran. */
  def fold(batchId: Long)(write: String => Unit): Boolean =
    guard(batchId) {
      val stamp = stampFor(batchId)
      write(stamp)
      advanceTo(stamp)
      ()
    }

  /** Delete the final stamp once the caller has severed lineage from it
    * (localCheckpoint / collect). */
  def close(): Unit = {
    prevPath.foreach(StampedLedger.deleteTree)
    prevPath = None
  }
}

object StampedLedger {
  import org.apache.hadoop.fs.{FileSystem, Path}

  /** The store behind `p`: the active session's Hadoop conf (S3/HDFS
    * credentials and defaults ride along) or a bare Configuration when
    * no session is up (close() after spark.stop() in specs). */
  private def fsFor(p: Path): FileSystem = {
    val conf = org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    p.getFileSystem(conf)
  }

  private[streaming] def isDir(p: String): Boolean = {
    val hp = new Path(p)
    try fsFor(hp).getFileStatus(hp).isDirectory
    catch { case _: java.io.FileNotFoundException => false }
  }

  def deleteTree(p: String): Unit = {
    val hp = new Path(p)
    val fs = fsFor(hp)
    if (fs.exists(hp)) fs.delete(hp, true)
  }
}
