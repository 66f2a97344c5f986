package graft.engine

import java.io.{IOException, OutputStream}
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileSystem, FilterFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.scalatest.funsuite.AnyFunSuite

/** [[Commits]] on the local file system, Spark-free. The swap's failure
  * paths and the marker's failing streams come from [[CommitsSpec.FakeFs]],
  * which refuses chosen renames and hands out chosen streams.
  */
class CommitsSpec extends AnyFunSuite {
  import CommitsSpec._

  private val local = new Commits(FileSystem.getLocal(new Configuration()))

  /** A live table dir `t` holding one file `data` that reads `body`. */
  private def table(body: String): String = {
    val live = Files.createTempDirectory("commits").resolve("t")
    Files.createDirectories(live)
    Files.writeString(live.resolve("data"), body)
    live.toString
  }

  private def data(dir: String): Option[String] =
    local.readUtf8(new Path(dir, "data"))

  private def exists(p: String): Boolean = Files.exists(java.nio.file.Path.of(p))

  /** The rewrite every swap test runs: the new table reads `new`. */
  private def rewrite(c: Commits)(tmp: String): Unit =
    c.writeUtf8(new Path(tmp, "data"), "new")

  test("swap replaces live and leaves neither tmp nor old behind") {
    val live = table("old")
    assert(local.swap(live, ".compact")(rewrite(local)).isEmpty)
    assert(data(live).contains("new"))
    assert(!exists(s"$live.compact-tmp") && !exists(s"$live.compact-old"))
  }

  test("swap: moving live aside fails, live is untouched") {
    val live = table("old")
    val fs = new FakeFs(refuse = (src, dst) =>
      src.getName == "t" && dst.getName == "t.merge-old")
    val c = new Commits(fs)
    val err = c.swap(live, ".merge")(rewrite(c))
    assert(err.exists(_.contains("aside")), err)
    assert(data(live).contains("old"))
    assert(!exists(s"$live.merge-old"))
  }

  test("swap: moving tmp in fails, the original is restored") {
    val live = table("old")
    val fs = new FakeFs(refuse = (src, _) => src.getName == "t.compact-tmp")
    val c = new Commits(fs)
    assert(c.swap(live, ".compact")(rewrite(c)) ==
      Some("swap failed; original restored"))
    assert(data(live).contains("old"))
    assert(!exists(s"$live.compact-old"))
  }

  test("swap: tmp in and restore both fail, the error names the stranded " +
      "path and the next swap recovers it") {
    val live = table("old")
    val fs = new FakeFs(refuse = (src, dst) => dst.getName == "t")
    val c = new Commits(fs)
    val err = c.swap(live, ".compact")(rewrite(c))
    val old = new Path(s"$live.compact-old").toString
    assert(err.exists(_.contains(s"stranded at $old")), err)
    assert(!exists(live) && exists(old))

    // the next swap restores the original before its rewrite reads it
    var seen: Option[String] = None
    assert(local.swap(live, ".compact") { tmp =>
      seen = data(live)
      rewrite(local)(tmp)
    }.isEmpty)
    assert(seen.contains("old"), "the rewrite ran before the recovery")
    assert(data(live).contains("new"))
    assert(!exists(old))
  }

  test("swap: a stranded table that cannot be restored is reported, " +
      "and the rewrite does not run") {
    val live = table("old")
    val old = s"$live.compact-old"
    Files.move(java.nio.file.Path.of(live), java.nio.file.Path.of(old))
    val c = new Commits(new FakeFs(refuse = (src, _) =>
      src.getName == "t.compact-old"))
    val err = c.swap(live, ".compact")(_ => fail("rewrite ran"))
    assert(err.exists(_.startsWith("found stranded swap")), err)
    assert(exists(old))
  }

  test("once: a marked batch skips its write") {
    val dir = table("old")
    local.once(dir, 1L)(None)
    local.once(dir, 1L)(fail("a marked batch ran again"))
  }

  test("once: the append marker's bytes, and the empty journal marker") {
    val dir = table("old")
    local.once(dir, 7L)(Some(42L))
    assert(local.readUtf8(local.marker(dir, "7"))
      .contains("""{"batchId":7,"rows":42}"""))
    local.once(dir, 8L)(None)
    assert(local.readUtf8(local.marker(dir, "8")).contains(""))
    assert(local.markerNames(dir).map(_.sorted).contains(Seq("7", "8")))
  }

  test("once: losing the marker race to another writer is a no-op") {
    val dir = table("old")
    local.once(dir, 2L) {
      // another writer of the same batch marks it while this one writes
      local.writeUtf8(local.marker(dir, "2"), """{"batchId":2,"rows":5}""")
      Some(5L)
    }
    assert(local.readUtf8(local.marker(dir, "2"))
      .contains("""{"batchId":2,"rows":5}"""))
  }

  test("once: any other IO failure of the marker propagates") {
    val dir = table("old")
    val c = new Commits(new FakeFs(stream = _ =>
      throw new IOException("disk gone")))
    val e = intercept[IOException](c.once(dir, 3L)(Some(1L)))
    assert(e.getMessage == "disk gone")
  }

  test("once: a marker write that fails still closes its stream") {
    val dir = table("old")
    val out = new FailingStream
    val c = new Commits(new FakeFs(stream = _ =>
      Some(new FSDataOutputStream(out, null))))
    val e = intercept[IOException](c.once(dir, 4L)(Some(9L)))
    assert(e.getMessage == "write failed")
    assert(out.closed, "the marker stream leaked")
  }

  test("the rows parser reads appends, backfill deltas and nothing else") {
    assert(Commits.rows("""{"batchId":7,"rows":42}""").contains(42L))
    assert(Commits.rows("""{"batchId":"_backfill_2024-01-01","rows":-3}""")
      .contains(-3L))
    assert(Commits.rows("").isEmpty)
  }

  test("carryLedger re-seeds every marker, and reports a missing ledger") {
    val from = table("old")
    val to = table("new")
    assert(!local.carryLedger(from, to)((_, body) => body))
    local.once(from, 1L)(Some(3L))
    local.once(from, 2L)(None)
    assert(local.carryLedger(from, to)((name, body) => s"$name:$body"))
    assert(local.readUtf8(local.marker(to, "1"))
      .contains("""1:{"batchId":1,"rows":3}"""))
    assert(local.readUtf8(local.marker(to, "2")).contains("2:"))
  }
}

object CommitsSpec {

  /** The local file system, refusing the renames `refuse` names and
    * creating files through `stream` where it yields a stream.
    */
  final class FakeFs(
      refuse: (Path, Path) => Boolean = (_, _) => false,
      stream: Path => Option[FSDataOutputStream] = _ => None)
    extends FilterFileSystem(FileSystem.getLocal(new Configuration())) {

    override def rename(src: Path, dst: Path): Boolean =
      !refuse(src, dst) && super.rename(src, dst)

    override def create(f: Path, permission: FsPermission,
        overwrite: Boolean, bufferSize: Int, replication: Short,
        blockSize: Long, progress: Progressable): FSDataOutputStream =
      stream(f).getOrElse(super.create(f, permission, overwrite,
        bufferSize, replication, blockSize, progress))
  }

  final class FailingStream extends OutputStream {
    var closed = false
    override def write(b: Int): Unit = throw new IOException("write failed")
    override def write(b: Array[Byte], off: Int, len: Int): Unit =
      write(0)
    override def close(): Unit = closed = true
  }
}
