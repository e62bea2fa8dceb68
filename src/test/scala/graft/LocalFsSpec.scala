package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import graft.StreamingSpec.Ev
import graft.sources.{ForkFreeLocalFileSystem, ForkFreeLocalFs, ForkFreeRawLocalFileSystem}
import graft.streaming.EventStreams
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, FileContext, FileStatus, FileSystem,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The engine's `file:` filesystem ([[graft.sources.ForkFreeLocalFileSystem]]
  * and its `FileContext` twin) forks no process where the stock one forks a
  * `chmod` per mkdir and create and a `readlink` per link-status call, and
  * otherwise behaves as the stock one: the same mode bits, the same link
  * statuses, the same errors.
  */
class LocalFsSpec extends SparkSpec {
  import spark.implicits._

  private val fileUri = URI.create("file:///")

  test("the session resolves file: to the engine's FileSystem and FileContext") {
    Seq(spark.sparkContext.hadoopConfiguration, spark.sessionState.newHadoopConf())
      .foreach { conf =>
        val fs = FileSystem.get(fileUri, conf)
        assert(fs.getClass == classOf[ForkFreeLocalFileSystem], fs.getClass)
        assert(fs.asInstanceOf[LocalFileSystem].getRaw.getClass ==
          classOf[ForkFreeRawLocalFileSystem])
        val afs = AbstractFileSystem.get(fileUri, conf)
        assert(afs.getClass == classOf[ForkFreeLocalFs], afs.getClass)
      }
  }

  test("a Parquet write and its read back fork no process") {
    Scratch.using("fork-parquet") { dir =>
      var back = Seq.empty[(Long, Long)]
      assertNoForks("parquet write + read") {
        spark.range(0, 1000, 1, 4).selectExpr("id", "id * 3 AS v")
          .write.mode("overwrite").parquet(s"$dir/t")
        back = spark.read.parquet(s"$dir/t").as[(Long, Long)].collect().toSeq
      }
      assert(back.sorted == (0L until 1000L).map(i => (i, i * 3)))
    }
  }

  test("a two-batch stateful session stream with a checkpoint forks no process") {
    def t(minute: Int) = Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[Ev]
    Scratch.using("fork-ckpt", tmpfs = true) { ckpt =>
      assertNoForks("stateful stream") {
        val q = EventStreams.sessions(ms.toDF()).writeStream
          .format("memory").queryName("fork_sessions").outputMode("complete")
          .option("checkpointLocation", ckpt.toString).start()
        try {
          ms.addData(Ev(1, t(0), 1, "a", 0), Ev(2, t(10), 2, "a", 0))
          q.processAllAvailable()
          ms.addData(Ev(3, t(20), 1, "a", 0), Ev(4, t(90), 2, "a", 0))
          q.processAllAvailable()
        } finally q.stop()
      }
      // Batch 2 extends user 1's session from state and opens user 2's second.
      val got = spark.table("fork_sessions").orderBy("user_id", "session_start")
        .collect().map(r => (r.getLong(0), r.getLong(3))).toSeq
      assert(got == Seq((1L, 2L), (2L, 1L), (2L, 1L)))
    }
  }

  /** A stock and an engine filesystem over `conf`. */
  private def pair(conf: Configuration): Seq[(String, FileSystem)] =
    Seq("stock" -> new LocalFileSystem(), "engine" -> new ForkFreeLocalFileSystem)
      .map { case (side, fs) => fs.initialize(fileUri, conf); side -> fs }

  private def mode(p: JPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("mkdirs and create give the stock filesystem's mode bits under each umask") {
    val octal = (s: String) => new FsPermission(Integer.parseInt(s, 8).toShort)
    Scratch.using("modes") { dir =>
      for (umask <- Seq("022", "077", "002", "000")) {
        val conf = new Configuration()
        conf.set("fs.permissions.umask-mode", umask)
        val modes = pair(conf).map { case (side, fs) =>
          val base = new Path(s"$dir/$umask/$side")
          Seq("777", "755", "750", "700").foreach { m =>
            fs.mkdirs(new Path(base, s"d$m/sub"), octal(m))
          }
          fs.mkdirs(new Path(base, "plain"))
          Seq("777", "755", "644", "640", "600").foreach { m =>
            fs.create(new Path(base, s"f$m"), octal(m), true, 4096, 1.toShort,
              1L << 20, null).close()
          }
          fs.create(new Path(base, "default")).close()
          val root = dir.resolve(s"$umask/$side")
          val ws = Files.walk(root)
          side -> (try ws.iterator().asScala.filter(_ != root)
            .map(p => root.relativize(p).toString -> mode(p)).toMap
          finally ws.close())
        }.toMap
        assert(modes("engine").size == 21, modes("engine").keys) // with 6 .crc files
        assert(modes("engine") == modes("stock"), s"umask $umask")
      }
    }
  }

  test("getFileLinkStatus equals the stock one for files, dirs, links and missing paths") {
    Scratch.using("links") { dir =>
      Files.write(dir.resolve("file"), Array[Byte](1, 2, 3))
      Files.createDirectory(dir.resolve("dir"))
      Files.createSymbolicLink(dir.resolve("link"), dir.resolve("file"))
      Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
      def view(st: FileStatus) = (st.getPath, st.isFile, st.isDirectory, st.isSymlink,
        if (st.isSymlink) st.getSymlink else null, st.getLen, st.getModificationTime,
        st.getPermission, st.getOwner, st.getGroup)
      val conf = new Configuration()
      val raws = Seq(new RawLocalFileSystem, new ForkFreeRawLocalFileSystem)
      raws.foreach(_.initialize(fileUri, conf))
      // The FileContext views: Hadoop's default LocalFs and the session's.
      val contexts = Seq(FileContext.getFileContext(fileUri, conf),
        FileContext.getFileContext(fileUri, spark.sessionState.newHadoopConf()))
      val sides: Seq[Seq[Path => FileStatus]] = Seq(
        raws.map(fs => (p: Path) => fs.getFileLinkStatus(p)),
        contexts.map(fc => (p: Path) => fc.getFileLinkStatus(p)))
      // Hadoop 3.4 throws FileNotFoundException for a dangling link as for
      // a missing path, so an outcome is a status or the exception's class.
      def outcome(get: Path => FileStatus, n: String) =
        scala.util.Try(view(get(new Path(dir.resolve(n).toUri)))).toEither
          .left.map(_.getClass)
      for (Seq(stock, engine) <- sides) {
        Seq("file", "dir", "link", "dangling", "missing").foreach { n =>
          assert(outcome(engine, n) == outcome(stock, n), n)
        }
        Seq("dangling", "missing").foreach { n =>
          assert(outcome(stock, n) == Left(classOf[FileNotFoundException]), n)
        }
      }
    }
  }

  test("a sticky-bit setPermission takes the stock chmod; rwx bits take none") {
    Scratch.using("sticky") { dir =>
      val fs = new ForkFreeRawLocalFileSystem
      fs.initialize(fileUri, new Configuration())
      def unixMode(p: JPath) = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
      val p = Files.createDirectory(dir.resolve("d"))
      val sticky = shellForks(fs.setPermission(new Path(p.toUri), new FsPermission(0x3ed.toShort)))
      assert(sticky.exists(_.contains("chmod")), sticky)
      assert(unixMode(p) == 0x3ed, unixMode(p).toOctalString) // 1755
      val rwx = shellForks(fs.setPermission(new Path(p.toUri), new FsPermission(0x1e8.toShort)))
      assert(rwx.isEmpty, rwx)
      assert(unixMode(p) == 0x1e8, unixMode(p).toOctalString) // 0750
    }
  }
}
