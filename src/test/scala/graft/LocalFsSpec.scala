package graft

import java.io.{FileNotFoundException, RandomAccessFile}
import java.net.URI
import java.nio.file.{Files, Path => NioPath}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FSDataInputStream,
  FileContext, FileSystem, FsConstants, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.Options.CreateOpts
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.types.{LongType, StringType, StructField,
  StructType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ForkFreeLocalFileSystem, ForkFreeLocalFs,
  ForkFreeRawLocalFileSystem, Sources}
import graft.streaming.StrikeMonitor

/** The fork-free `file://` filesystem (`sources/LocalFs.scala`): bound by
  * `Engine.session` for both Hadoop APIs, stock semantics for modes,
  * checksums and links, and no process launched on the write paths of a
  * batch overwrite or a checkpointed stateful stream.
  */
class LocalFsSpec extends AnyFunSuite with SparkSpec {

  private def tmp(prefix: String): NioPath = Files.createTempDirectory(prefix)
  private def mode(p: NioPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
  private def hpath(p: NioPath): Path = new Path(p.toUri)

  /** A conf whose `file://` FileContext is `impl`, under umask 027. */
  private def conf(fcImpl: String): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", "027")
    c.set("fs.AbstractFileSystem.file.impl", fcImpl)
    c
  }
  private def initFs(fs: FileSystem, c: Configuration): FileSystem = {
    fs.initialize(URI.create("file:///"), c); fs
  }
  private def fc(impl: Class[_]): FileContext =
    FileContext.getFileContext(FsConstants.LOCAL_FS_URI, conf(impl.getName))

  test("(a) Engine.session binds file:// to the engine's classes on both APIs") {
    val hc = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(URI.create("file:///"), hc).getClass ==
      classOf[ForkFreeLocalFileSystem])
    assert(FileContext.getLocalFSFileContext(hc).getDefaultFileSystem.getClass ==
      classOf[ForkFreeLocalFs])
  }

  test("(b) created files and directories get the stock modes on both APIs") {
    val base = tmp("localfs-modes")
    // FileSystem API: default and explicit modes, and a sticky directory
    // (NIO cannot set the sticky bit; that mode takes the stock path)
    def viaFs(fs: FileSystem, d: NioPath): Unit = {
      fs.mkdirs(hpath(d.resolve("dir")))
      fs.mkdirs(hpath(d.resolve("dir751")), new FsPermission("751"))
      fs.mkdirs(hpath(d.resolve("sticky")))
      fs.setPermission(hpath(d.resolve("sticky")), new FsPermission("1777"))
      fs.create(hpath(d.resolve("file"))).close()
      fs.create(hpath(d.resolve("file604")), new FsPermission("604"), true,
        4096, 1.toShort, fs.getDefaultBlockSize(hpath(d)), null).close()
    }
    // FileContext API: umask-applied defaults and an explicit mode
    def viaFc(c: FileContext, d: NioPath): Unit = {
      c.mkdir(hpath(d.resolve("dir")), FsPermission.getDirDefault, true)
      c.mkdir(hpath(d.resolve("dir751")), new FsPermission("751"), true)
      c.create(hpath(d.resolve("file")), EnumSet.of(CreateFlag.CREATE),
        CreateOpts.createParent()).close()
      c.create(hpath(d.resolve("file604")), EnumSet.of(CreateFlag.CREATE),
        CreateOpts.createParent(), CreateOpts.perms(new FsPermission("604"))).close()
    }
    val stockConf = conf("org.apache.hadoop.fs.local.LocalFs")
    val runs = Seq(
      ("fs", (d: NioPath) => viaFs(initFs(new LocalFileSystem, stockConf), d),
        (d: NioPath) => viaFs(initFs(new ForkFreeLocalFileSystem, stockConf), d)),
      ("fc", (d: NioPath) => viaFc(fc(classOf[org.apache.hadoop.fs.local.LocalFs]), d),
        (d: NioPath) => viaFc(fc(classOf[ForkFreeLocalFs]), d)))
    for ((api, stock, ours) <- runs) {
      val (s, o) = (base.resolve(s"$api-stock"), base.resolve(s"$api-ours"))
      stock(s); ours(o)
      def modes(d: NioPath) = Files.list(d).iterator.asScala
        .map(p => p.getFileName.toString -> mode(p)).toMap
      assert(modes(o) == modes(s), api)
      assert(modes(o).size >= 6, s"$api: entries and their .crc sidecars")
    }
    // the umask (027) reached the created modes: not a vacuous comparison
    assert(mode(base.resolve("fs-ours/file")) == Integer.parseInt("640", 8))
    assert(mode(base.resolve("fc-ours/dir")) == Integer.parseInt("750", 8))
    assert(mode(base.resolve("fs-ours/sticky")) == Integer.parseInt("1777", 8))
  }

  test("(c) .crc sidecars are written and verified on read, on both APIs") {
    val base = tmp("localfs-crc")
    val data = Array.tabulate[Byte](4096)(i => (i % 251).toByte)
    def corrupt(p: NioPath): Unit = {
      val f = new RandomAccessFile(p.toFile, "rw")
      try { f.seek(100); val b = f.read(); f.seek(100); f.write(b ^ 0xff) }
      finally f.close()
    }
    def readAll(in: FSDataInputStream): Unit =
      try in.readFully(new Array[Byte](data.length)) finally in.close()
    // LocalFileSystem moves a file that fails its checksum into a
    // `bad_files` directory at the root of its mount; keep it in place
    val fs = initFs(new ForkFreeLocalFileSystem {
      override def reportChecksumFailure(p: Path, in: FSDataInputStream,
        inPos: Long, sums: FSDataInputStream, sumsPos: Long): Boolean = false
    }, new Configuration())
    val c = fc(classOf[ForkFreeLocalFs])
    val writers = Seq[(String, Path => java.io.OutputStream)](
      "fs" -> (p => fs.create(p)),
      "fc" -> (p => c.create(p, EnumSet.of(CreateFlag.CREATE))))
    val readers = Map[String, Path => FSDataInputStream](
      // FileContext.open(path) without a buffer size skips ChecksumFs (its
      // FilterFs parent delegates it to the raw layer), stock or not
      "fs" -> (p => fs.open(p)), "fc" -> (p => c.open(p, 4096)))
    for ((api, write) <- writers) {
      val p = base.resolve(s"$api.bin")
      val out = write(hpath(p))
      try out.write(data) finally out.close()
      assert(Files.exists(base.resolve(s".$api.bin.crc")), api)
      readAll(readers(api)(hpath(p)))
      corrupt(p)
      withClue(api)(intercept[ChecksumException](readAll(readers(api)(hpath(p)))))
    }
  }

  test("(d) getFileLinkStatus: symlink, regular file, missing path") {
    val base = tmp("localfs-links")
    val target = Files.write(base.resolve("target"), "0123456789".getBytes)
    val link = Files.createSymbolicLink(base.resolve("link"), target)
    val dangling = Files.createSymbolicLink(base.resolve("dangling"),
      base.resolve("nowhere"))
    val stock = initFs(new RawLocalFileSystem, new Configuration())
    val ours = initFs(new ForkFreeRawLocalFileSystem, new Configuration())
    // unqualified paths: the stock class finds links there (by forking
    // readlink), so both must agree field by field
    for (p <- Seq(link, dangling, target)) {
      val (s, o) = (stock.getFileLinkStatus(new Path(p.toString)),
        ours.getFileLinkStatus(new Path(p.toString)))
      assert((o.isSymlink, o.getLen, o.isFile, o.getPath) ==
        (s.isSymlink, s.getLen, s.isFile, s.getPath), p)
      if (s.isSymlink) assert(o.getSymlink == s.getSymlink, p)
    }
    val l = ours.getFileLinkStatus(hpath(link))
    assert(l.isSymlink && l.getSymlink == hpath(target) && l.getLen == 10)
    assert(ours.getFileLinkStatus(hpath(dangling)).isSymlink)
    val t = ours.getFileLinkStatus(hpath(target))
    assert(!t.isSymlink && t.isFile && t.getLen == 10)
    intercept[FileNotFoundException](ours.getFileLinkStatus(hpath(base.resolve("missing"))))
    // FileContext: qualified status, plain link target
    val c = fc(classOf[ForkFreeLocalFs])
    assert(c.getFileLinkStatus(hpath(link)).getSymlink == hpath(target))
    assert(c.getLinkTarget(hpath(link)) == new Path(target.toString))
    assert(!c.getFileLinkStatus(hpath(target)).isSymlink)
    intercept[FileNotFoundException](c.getFileLinkStatus(hpath(base.resolve("missing"))))
  }

  test("(e) a parquet overwrite and two stateful microbatches launch no process") {
    import spark.implicits._
    val base = tmp("localfs-forks")
    val in = Files.createDirectories(base.resolve("in"))
    def drop(i: Int, rows: String*): Unit = Files.write(in.resolve(s"m$i.csv"),
      ("emp_id,message,ts" +: rows).mkString("\n").getBytes)
    drop(0, "1,a secret plan,2024-03-01 08:00:00", "2,all clean,2024-03-01 08:05:00")
    drop(1, "1,more fraud,2024-03-02 09:00:00")
    val schema = StructType(Seq(StructField("emp_id", LongType),
      StructField("message", StringType), StructField("ts", TimestampType)))
    val (table, ckpt, out) = (base.resolve("t").toString,
      base.resolve("ckpt").toString, base.resolve("out").toString)

    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val q = try {
      Seq(1, 2, 3).toDF("x").write.mode("overwrite").parquet(table)
      Seq(4, 5).toDF("x").write.mode("overwrite").parquet(table)
      val msgs = Sources.csvStream(spark, in.toString, schema).as[StrikeMonitor.Message]
      val q = StrikeMonitor.monitor(spark, msgs, Set("secret", "fraud"), Map(1L -> 1000.0))
        .writeStream.format("parquet").option("checkpointLocation", ckpt).start(out)
      try q.processAllAvailable() finally q.stop()
      q
    } finally rec.stop()
    val dump = base.resolve("forks.jfr")
    rec.dump(dump); rec.close()
    val launches = RecordingFile.readAllEvents(dump).asScala.map(_.getString("command"))

    assert(q.exception.isEmpty)
    assert(q.recentProgress.count(_.numInputRows > 0) == 2, "two microbatches")
    assert(spark.read.parquet(table).count() == 2)
    assert(spark.read.parquet(out).as[StrikeMonitor.Flagged].collect()
      .map(_.strike_no).sorted.toSeq == Seq(1, 2))
    assert(Files.list(base.resolve("ckpt/offsets")).iterator.asScala
      .exists(_.getFileName.toString.endsWith(".crc")), "checkpoint logs keep checksums")
    assert(launches.isEmpty, launches.mkString("processes launched:\n", "\n", ""))
  }
}
