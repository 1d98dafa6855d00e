package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, ChecksumFs, FileSystem, LocalFileSystem,
  Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.Layout
import graft.sources.{ForkFreeLocalFileSystem, ForkFreeLocalFs, ForkFreeRawLocalFileSystem, Tables}
import graft.streaming.StreamingQueries

/** The session's local filesystem ([[graft.sources.ForkFreeLocalFileSystem]])
  * behaves exactly like the stock `RawLocalFileSystem` on every
  * operation it overrides, and a stateful replay plus a partitioned
  * write start no `chmod` or `readlink` process, and the replay leaves
  * no checkpoint for an `rm -rf` at JVM exit.
  */
class LocalFsSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = GraftSession.local("graft-localfs-test")
  val dir = "/root/testdata/sf0.001"

  private def initialized(fs: FileSystem, umask: String): FileSystem = {
    val conf = new Configuration(false)
    conf.set("fs.permissions.umask-mode", umask)
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  /** Run `ops` once through the fork-free and once through the stock
    * raw filesystem, each in its own sibling root; return both roots. */
  private def bothWays(umask: String)(ops: (FileSystem, JPath) => Unit): (JPath, JPath) = {
    val parent = tempDir("graft_localfs")
    val (mine, stock) = (parent.resolve("forkfree"), parent.resolve("stock"))
    Files.createDirectory(mine); Files.createDirectory(stock)
    ops(initialized(new ForkFreeRawLocalFileSystem, umask), mine)
    ops(initialized(new RawLocalFileSystem, umask), stock)
    (mine, stock)
  }

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** Every entry under `root` (relative name -> POSIX mode bits). */
  private def modes(root: JPath): Map[String, Int] =
    Files.walk(root).iterator().asScala.filter(_ != root)
      .map(p => root.relativize(p).toString -> mode(p)).toMap

  test("create and mkdirs give the stock permission bits under umask 022 and 077") {
    val byUmask = Seq("022", "077").map { umask =>
      val (mine, stock) = bothWays(umask) { (fs, root) =>
        val p = (name: String) => new Path(root.resolve(name).toUri)
        fs.create(p("default.bin")).close()
        fs.create(p("explicit.bin"), new FsPermission("664"), true, 4096,
          1.toShort, 1L << 20, null).close()
        fs.create(p("nested/deep/file.bin")).close()
        fs.mkdirs(p("dir_default"))
        fs.mkdirs(p("dir_explicit/child"), new FsPermission("750"))
        fs.setPermission(p("default.bin"), new FsPermission("640"))
      }
      val got = modes(mine)
      assert(got.size === 8, got)
      assert(got === modes(stock), s"umask $umask")
      umask -> got
    }.toMap
    // the umask is really applied, not bypassed by both sides alike
    assert(byUmask("022")("dir_default") === Integer.parseInt("755", 8))
    assert(byUmask("077")("dir_default") === Integer.parseInt("700", 8))
    assert(byUmask("077")("explicit.bin") === Integer.parseInt("600", 8))
    assert(byUmask("022")("default.bin") === Integer.parseInt("640", 8))
  }

  test("a sticky-bit setPermission still applies") {
    val (mine, stock) = bothWays("022") { (fs, root) =>
      val d = new Path(root.resolve("shared").toUri)
      fs.mkdirs(d)
      fs.setPermission(d, new FsPermission("1777"))
    }
    assert(mode(mine.resolve("shared")) === Integer.parseInt("1777", 8))
    assert(modes(mine) === modes(stock))
  }

  test("getFileLinkStatus matches stock on files, dirs, symlinks, dangling links, missing paths") {
    def status(fs: FileSystem, root: JPath, name: String, qualified: Boolean)
        : Either[String, (Boolean, Boolean, Long, Option[String])] = {
      val abs = root.resolve(name)
      val p = if (qualified) new Path(abs.toUri) else new Path(abs.toString)
      try {
        val st = fs.getFileLinkStatus(p)
        Right((st.isSymlink, st.isDirectory, st.getLen,
          if (st.isSymlink) Some(st.getSymlink.getName) else None))
      } catch { case e: FileNotFoundException => Left(e.getClass.getName) }
    }
    val names = Seq("file.txt", "dir", "link", "dangling", "missing")
    val parent = tempDir("graft_localfs_links")
    val results = Seq("forkfree", "stock").map { side =>
      val root = Files.createDirectory(parent.resolve(side))
      Files.write(root.resolve("file.txt"), "twelve bytes".getBytes)
      Files.createDirectory(root.resolve("dir"))
      Files.createSymbolicLink(root.resolve("link"), root.resolve("file.txt"))
      Files.createSymbolicLink(root.resolve("dangling"), root.resolve("gone"))
      val fs = initialized(
        if (side == "forkfree") new ForkFreeRawLocalFileSystem else new RawLocalFileSystem,
        "022")
      side -> (for (n <- names; q <- Seq(true, false)) yield (n, q) -> status(fs, root, n, q))
    }.toMap
    assert(results("forkfree") === results("stock"))
    val byKey = results("forkfree").toMap
    assert(byKey(("file.txt", true)) === Right((false, false, 12L, None)))
    assert(byKey(("missing", true)).isLeft)
    assert(byKey(("link", false)).exists(_._1), "an unqualified symlink reports isSymlink")
  }

  /** Directories Spark deletes at JVM exit, each with an `rm -rf`
    * process: too late for a recording to see, so the test reads the
    * list itself. */
  private def exitDeletes(): Set[String] = {
    val f = Class.forName("org.apache.spark.util.ShutdownHookManager$")
      .getDeclaredField("shutdownDeletePaths")
    f.setAccessible(true)
    val paths = f.get(null).asInstanceOf[scala.collection.mutable.HashSet[String]]
    paths.synchronized(paths.toSet)
  }

  test("a stateful replay and a partitioned write start no chmod or readlink process") {
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    val hadoopConf = spark.sessionState.newHadoopConf()
    val fs = FileSystem.get(URI.create("file:///"), hadoopConf)
    assert(fs.isInstanceOf[ForkFreeLocalFileSystem], fs.getClass)
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[ForkFreeRawLocalFileSystem])
    val afs = AbstractFileSystem.get(URI.create("file:///"), hadoopConf)
    assert(afs.isInstanceOf[ForkFreeLocalFs], afs.getClass)
    assert(afs.asInstanceOf[ChecksumFs].getRawFs.getClass.getName ===
      "graft.sources.ForkFreeRawLocalFs")

    // a session-level checkpoint root keeps the replay's checkpoint
    // after the query stops, so its files can be inspected
    val ckptRoot = tempDir("graft_localfs_ckpt")
    val session = spark.newSession()
    session.conf.set("spark.sql.streaming.checkpointLocation", ckptRoot.toString)
    val out = tempDir("graft_localfs_upsert").resolve("t").toString

    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val (streamed, ownCkpt) = try {
      val rows = StreamingQueries.replay(session, dir, StreamingQueries.q4ChannelGmv,
        Seq("channel_id")).collect()
      Layout.upsertPartitions(Tables.documents(spark, dir), out, Seq("lang"), Seq("doc_id"))
      // without a checkpoint root the replay owns (and deletes) its checkpoint
      val exitDeletesBefore = exitDeletes()
      val own = StreamingQueries.replay(spark, dir, StreamingQueries.q4ChannelGmv,
        Seq("channel_id")).collect()
      assert((exitDeletes() -- exitDeletesBefore).isEmpty,
        "a replay left a temporary checkpoint for an rm -rf at JVM exit")
      (rows, own)
    } finally rec.stop()
    val jfr = Files.createTempFile("graft_localfs", ".jfr")
    rec.dump(jfr)
    rec.close()
    val commands = RecordingFile.readAllEvents(jfr).asScala
      .map(_.getString("command").trim.split("\\s+").head.split('/').last)
    Files.delete(jfr)
    assert(commands.count(Set("chmod", "readlink")) === 0, commands.groupBy(identity)
      .map { case (c, xs) => c -> xs.size })
    assert(ownCkpt.toSet === streamed.toSet)

    assert(streamed.length === Tables.events(spark, dir).select("event_type").distinct().count())
    assert(spark.read.parquet(out).count() === Tables.documents(spark, dir).count())
    val ckptFiles = Files.walk(ckptRoot).iterator().asScala
      .map(ckptRoot.relativize(_).toString).toSeq
    for (log <- Seq("offsets", "commits", "state"))
      assert(ckptFiles.exists(f => f.contains(s"$log/") && f.endsWith(".crc")),
        s"no .crc sidecar under $log/: $ckptFiles")
  }
}
