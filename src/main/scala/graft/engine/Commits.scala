package graft.engine

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The commit protocol of every table this engine maintains in place, in
  * one place. The reference truncate-replaces its table and then appends
  * page by page (`data_loader.py:429-433`), so a failure mid-load leaves a
  * partial table behind; here two protocols close that seam:
  *
  *   - the commit LEDGER: one marker per committed batch under
  *     `<dir>/_graft_commits/` (underscore-prefixed, so parquet scans of
  *     `<dir>` never see it). [[once]] makes an at-least-once writer
  *     (foreachBatch) exactly-once up to the crash-between-data-and-marker
  *     seam; an append marker records the rows written, which
  *     [[graft.streaming.Streams.ledgerConsistent]] audits.
  *   - the two-rename SWAP ([[swap]]): a whole-directory rewrite lands in
  *     a sibling tmp dir, the live dir moves aside, the tmp dir moves in.
  *     No step deletes data before its replacement is complete, and a
  *     crash between the renames is recovered by the next swap.
  *
  * Bound to one Hadoop FileSystem, so a test can hand in a fake whose
  * renames or streams fail.
  */
final class Commits(val fs: FileSystem) {
  import Commits._

  /** The ledger marker `name` of the table at `dir`. */
  def marker(dir: String, name: String): Path =
    new Path(new Path(dir, LedgerName), name)

  def hasLedger(dir: String): Boolean = fs.exists(new Path(dir, LedgerName))

  /** The marker names of `dir`'s ledger; None when it has no ledger. */
  def markerNames(dir: String): Option[Seq[String]] =
    if (!hasLedger(dir)) None
    else Some(fs.listStatus(new Path(dir, LedgerName)).toSeq
      .filter(_.isFile).map(_.getPath.getName))

  /** Run batch `batchId`'s `write` unless the batch is already marked,
    * then mark it. `write` returns the rows it wrote, recorded as
    * `{"batchId":N,"rows":R}` for the append ledger, or None for an empty
    * marker. The marker is created EXCLUSIVELY and only after `write`
    * returns: losing the create to another writer of the same batch is a
    * no-op (its marker carries the same claim); any other IO failure
    * propagates, because a committed-but-unmarked batch re-opens the
    * replay-duplicate seam the ledger exists to close. The residual seam
    * is a crash between `write` and the marker, which duplicates one
    * batch on replay — the plain-parquet limit, audited by the rows.
    */
  def once(dir: String, batchId: Long)(write: => Option[Long]): Unit = {
    val m = marker(dir, batchId.toString)
    if (!fs.exists(m)) {
      val rows = write
      try {
        val out = fs.create(m, false)
        try rows.foreach(r =>
          out.write(s"""{"batchId":$batchId,"rows":$r}""".getBytes(UTF_8)))
        finally out.close()
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => ()
        case _: java.nio.file.FileAlreadyExistsException => ()
      }
    }
  }

  /** The `b<id>` batch dirs under `<dir>/<sub>` whose batch is marked in
    * `dir`'s ledger, plus any name in `also`. A batch dir without a marker
    * is a half-written batch (crash between its write and its marker)
    * that a replay will overwrite; reading it would double-count.
    */
  def committedTags(dir: String, sub: String, also: Set[String])
      : Seq[String] = {
    val root = new Path(dir, sub)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.map(_.getPath.getName).filter(t =>
      also(t) || batchTag(t).exists(id => fs.exists(marker(dir, id.toString))))
  }

  /** Copy `from`'s ledger into `to`, each marker's body rewritten by
    * `reseed(name, body)`, so a swap keeps every batch's idempotence
    * claim. Returns whether `from` had a ledger.
    */
  def carryLedger(from: String, to: String)(
      reseed: (String, String) => String): Boolean =
    markerNames(from).exists { names =>
      fs.mkdirs(new Path(to, LedgerName))
      names.foreach(n => writeUtf8(marker(to, n),
        reseed(n, readUtf8(marker(from, n)).getOrElse(""))))
      true
    }

  /** Replace the directory `live` with what `writeTmp` writes into the
    * path it is given (`<live><suffix>-tmp`), by two renames: live moves
    * to `<live><suffix>-old`, tmp moves to live, old is dropped; a failed
    * second rename moves old back. A previous swap that died between the
    * renames left live missing and old present: that exact state is
    * restored before `writeTmp` runs, so the rewrite reads the original.
    * Returns None on success, else the error text.
    */
  def swap(live: String, suffix: String)(writeTmp: String => Unit)
      : Option[String] = {
    val pLive = new Path(live)
    val pTmp = pLive.suffix(s"$suffix-tmp")
    val pOld = pLive.suffix(s"$suffix-old")
    if (!fs.exists(pLive) && fs.exists(pOld) && !fs.rename(pOld, pLive))
      return Some(s"found stranded swap ($pOld exists, $pLive missing) " +
        "but could not restore it")
    writeTmp(pTmp.toString)
    fs.delete(pOld, true)
    if (!fs.rename(pLive, pOld))
      Some(s"could not stage $pLive aside; it is untouched")
    else if (fs.rename(pTmp, pLive)) { fs.delete(pOld, true); None }
    else if (fs.rename(pOld, pLive)) Some("swap failed; original restored")
    else Some(s"swap failed AND restore failed — $pLive stranded at $pOld")
  }

  /** The file's text; None when it does not exist. */
  def readUtf8(p: Path): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), UTF_8)) finally in.close()
    }

  /** Create or overwrite the file with `body`. */
  def writeUtf8(p: Path, body: String): Unit = {
    val out = fs.create(p, true)
    try out.write(body.getBytes(UTF_8)) finally out.close()
  }
}

object Commits {

  private val LedgerName = "_graft_commits"

  /** The `"rows":N` field of a marker body. Negative for a backfill that
    * shrank its day ([[Pipeline.backfillDay]]).
    */
  private val RowsField = """"rows":(-?\d+)""".r

  /** The protocol on the file system that holds `dir`. */
  def apply(spark: SparkSession, dir: String): Commits =
    new Commits(new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration))

  /** A marker's row count; None for an empty or foreign marker. */
  def rows(body: String): Option[Long] =
    RowsField.findFirstMatchIn(body).map(_.group(1).toLong)

  /** Numeric id of a journal batch-dir name `b<id>`, None for any
    * non-tag directory (a stray file must be ignored, never crash a
    * micro-batch or a fold). Try-parse instead of a digit-count bound, so
    * every id up to Long.MaxValue parses and a longer one is rejected by
    * the parse.
    */
  def batchTag(t: String): Option[Long] =
    if (t.length > 1 && t.startsWith("b") && t.drop(1).forall(_.isDigit))
      scala.util.Try(t.drop(1).toLong).toOption
    else None
}
