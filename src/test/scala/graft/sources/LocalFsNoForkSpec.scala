package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import java.sql.Timestamp
import java.util.EnumSet
import scala.jdk.CollectionConverters._
import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FsConstants, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Shell
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkSpec
import graft.streaming.{Event, EventStreams}

/** [[LocalFsNoFork]] behaves like Hadoop's stock `LocalFs` on every
  * operation a streaming checkpoint performs, and a checkpointed stream
  * on a plain local path starts no process through Hadoop's `Shell`.
  * Each equivalence case runs the same operations through a stock and a
  * fork-free `FileContext`, on sibling directories, and compares what
  * lands on disk. */
class LocalFsNoForkSpec extends SparkSpec {

  private def fileContext(impl: Class[_]): FileContext = {
    val conf = new Configuration()
    conf.set("fs.AbstractFileSystem.file.impl", impl.getName)
    FileContext.getFileContext(FsConstants.LOCAL_FS_URI, conf)
  }
  private lazy val sides = Seq(
    "stock" -> fileContext(classOf[org.apache.hadoop.fs.local.LocalFs]),
    "nofork" -> fileContext(classOf[LocalFsNoFork]))

  private def oct(s: String): Int = Integer.parseInt(s, 8)
  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & oct("7777")
  private def crc(p: JPath): JPath = p.resolveSibling(s".${p.getFileName}.crc")

  private def withDir(body: JPath => Unit): Unit = {
    val dir = Files.createTempDirectory("localfs-nofork")
    try body(dir)
    finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory && !Files.isSymbolicLink(f.toPath)) Option(f.listFiles).foreach(_.foreach(rm))
        f.delete(); ()
      }
      rm(dir.toFile)
    }
  }

  /** Runs `body` once per side on `<dir>/<side>` and returns the results
    * in side order. */
  private def perSide[A](dir: JPath)(body: (FileContext, JPath) => A): Seq[A] =
    sides.map { case (name, fc) =>
      val sub = Files.createDirectory(dir.resolve(name))
      body(fc, sub)
    }

  private def write(fc: FileContext, p: JPath, text: String, perm: FsPermission): Unit = {
    val out = fc.create(new Path(p.toString), EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
      Options.CreateOpts.perms(perm), Options.CreateOpts.createParent())
    try out.write(text.getBytes(UTF_8)) finally out.close()
  }
  private def read(fc: FileContext, p: JPath): String = {
    val in = fc.open(new Path(p.toString))
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  test("create with 0640 gives the stock POSIX mode and a .crc twin") {
    withDir { dir =>
      val modes = perSide(dir) { (fc, sub) =>
        val f = sub.resolve("a/b/delta.1")
        write(fc, f, "state-bytes", new FsPermission(oct("640").toShort))
        assert(Files.exists(crc(f)), s"no .crc twin for $f")
        assert(read(fc, f) == "state-bytes")
        (mode(f), mode(crc(f)), mode(f.getParent))
      }
      assert(modes.head == modes.last, s"stock vs nofork modes: $modes")
      assert(modes.last._1 == oct("640"))
    }
  }

  test("rename(OVERWRITE) replaces the target and its .crc") {
    withDir { dir =>
      val listings = perSide(dir) { (fc, sub) =>
        val (src, dst) = (sub.resolve(".1.delta.tmp"), sub.resolve("1.delta"))
        write(fc, dst, "old", FsPermission.getFileDefault)
        write(fc, src, "new-bytes", FsPermission.getFileDefault)
        fc.rename(new Path(src.toString), new Path(dst.toString), Options.Rename.OVERWRITE)
        // open verifies the bytes against the renamed .crc
        assert(read(fc, dst) == "new-bytes")
        Files.list(sub).iterator().asScala.map(_.getFileName.toString).toSet
      }
      assert(listings.head == listings.last)
      assert(listings.last == Set("1.delta", ".1.delta.crc"))
    }
  }

  test("getFileLinkStatus: regular file, symlink, qualified symlink, missing path") {
    withDir { dir =>
      val results = perSide(dir) { (fc, sub) =>
        val f = sub.resolve("data")
        write(fc, f, "0123456789", FsPermission.getFileDefault)
        val p = new Path(f.toString)
        val (link, stat) = (fc.getFileLinkStatus(p), fc.getFileStatus(p))
        assert(link == stat && !link.isSymlink && link.getLen == stat.getLen &&
          link.getModificationTime == stat.getModificationTime)

        val l = Files.createSymbolicLink(sub.resolve("link"), f)
        val ls = fc.getFileLinkStatus(new Path(l.toString))
        assert(ls.isSymlink, s"$l not reported as a symlink")
        assert(ls.getSymlink.toUri.getPath == f.toString)
        // stock readlink gets the scheme-qualified string and fails, so a
        // qualified path reads as its target
        val qs = fc.getFileLinkStatus(new Path(l.toUri.toString))

        intercept[FileNotFoundException](fc.getFileLinkStatus(new Path(sub.resolve("missing").toString)))
        (ls.getLen, qs.isSymlink, qs.getLen)
      }
      assert(results.head == results.last, s"stock vs nofork: $results")
    }
  }

  test("sticky bit applies, and a directory keeps setgid like chmod does") {
    withDir { dir =>
      val modes = perSide(dir) { (fc, sub) =>
        val sticky = Files.createDirectory(sub.resolve("sticky"))
        fc.setPermission(new Path(sticky.toString), new FsPermission(oct("1777").toShort))
        val setgid = Files.createDirectory(sub.resolve("setgid"))
        Files.setAttribute(setgid, "unix:mode", Integer.valueOf(oct("2755")))
        fc.setPermission(new Path(setgid.toString), new FsPermission(oct("700").toShort))
        (mode(sticky), mode(setgid))
      }
      assert(modes.head == modes.last, s"stock vs nofork: $modes")
      assert(modes.last == (oct("1777"), oct("2700")))
    }
  }

  test("a GraftSession Hadoop conf resolves file:// to LocalFsNoFork and keeps the FileContext manager") {
    withDir { dir =>
      val hc = spark.sessionState.newHadoopConf()
      val fc = FileContext.getFileContext(new URI(s"file://$dir"), hc)
      assert(fc.getDefaultFileSystem.isInstanceOf[LocalFsNoFork],
        s"got ${fc.getDefaultFileSystem.getClass}")
      val mgr = CheckpointFileManager.create(new Path(dir.toUri), hc)
      assert(mgr.isInstanceOf[FileContextBasedCheckpointFileManager], s"got ${mgr.getClass}")
      Files.createDirectory(dir.resolve("offsets"))
      val out = mgr.createAtomic(new Path(dir.resolve("offsets/0").toUri), overwriteIfPossible = false)
      out.write(1); out.close()
      assert(Files.exists(crc(dir.resolve("offsets/0"))))
    }
  }

  /** Hadoop `Shell` process starts seen by a JFR recording of `body`. */
  private def shellStarts(body: => Unit): Seq[RecordedEvent] = {
    val file = Files.createTempFile("nofork", ".jfr")
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      body
      rec.stop()
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.toSeq.filter { e =>
        e.getStackTrace != null && e.getStackTrace.getFrames.asScala.exists(
          _.getMethod.getType.getName.startsWith("org.apache.hadoop.util.Shell"))
      }
    } finally { rec.close(); Files.deleteIfExists(file); () }
  }

  test("three dedupEvents micro-batches on a plain-path checkpoint start no Hadoop Shell process") {
    // Shell's class initializer runs a one-off `setsid` probe; load it
    // before recording so only per-file process starts are counted.
    assert(!Shell.WINDOWS)
    // control: the recording sees a Shell process start
    assert(shellStarts(Shell.execCommand("true")).size == 1)

    import spark.implicits._
    implicit val ctx = spark.sqlContext
    withDir { dir =>
      val in = MemoryStream[Event]
      def ev(id: Long) = Event(id, Timestamp.valueOf(s"2024-01-01 10:0$id:00"), 1L, "view", 1.0, "{}")
      val starts = shellStarts {
        val q = EventStreams.dedupEvents(in.toDF())
          .writeStream.format("memory").queryName("nofork_dedup").outputMode("append")
          .option("checkpointLocation", dir.resolve("ckpt").toString)
          .start()
        try Seq(Seq(1L, 2L, 1L), Seq(2L, 3L), Seq(4L, 3L)).foreach { ids =>
          in.addData(ids.map(ev))
          q.processAllAvailable()
        } finally q.stop()
      }
      val ids = spark.table("nofork_dedup").collect().map(_.getLong(0)).sorted
      assert(ids.sameElements(Array(1L, 2L, 3L, 4L)))
      assert(Files.exists(dir.resolve("ckpt/commits/2")), "expected three committed batches")
      val first = starts.headOption.toSeq.flatMap(_.getStackTrace.getFrames.asScala.take(12))
        .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")
      val n = starts.size
      assert(n == 0, s"Hadoop Shell process starts; the first from\n${first.mkString("\n")}")
    }
  }
}
