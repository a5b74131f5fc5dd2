package graft.sources

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileContext,
  Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec
import graft.streaming.Streams

/** The `file:` FileContext store that [[graft.functions.GraftExtensions]]
  * installs: it is what sessions resolve, it writes what Hadoop's shell
  * path writes, and a checkpointed stream forks no shell command. */
class LocalFsSpec extends SparkSpec {

  private val Root = URI.create("file:///")

  private def scratch(): java.io.File =
    Files.createTempDirectory("graft_localfs").toFile

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rm)
    f.delete(); ()
  }

  /** A FileContext on a copy of the session's Hadoop configuration, with
    * `file:` bound to `impl` and umask 022. */
  private def fileContext(impl: String): FileContext = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    conf.set(LocalFs.ConfKey, impl)
    conf.set("fs.permissions.umask-mode", "022")
    FileContext.getFileContext(Root, conf)
  }
  private def graftFc = fileContext(classOf[LocalFs].getName)

  private def write(fc: FileContext, p: Path, s: String): Unit = {
    val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
                        Options.CreateOpts.createParent())
    try out.write(s.getBytes(UTF_8)) finally out.close()
  }

  private def read(fc: FileContext, p: Path): String = {
    val in = fc.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def mode(f: java.io.File): String =
    java.nio.file.attribute.PosixFilePermissions.toString(
      Files.getPosixFilePermissions(f.toPath))

  test("sessions with GraftExtensions resolve file: to LocalFs; a deployment's choice is kept") {
    spark.range(1).count() // the session has analyzed a plan
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileContext.getFileContext(Root, conf).getDefaultFileSystem
      .isInstanceOf[LocalFs])
    assert(AbstractFileSystem.get(Root, conf).getClass == classOf[LocalFs])

    val chosen = "org.apache.hadoop.fs.local.RawLocalFs"
    val prev = conf.get(LocalFs.ConfKey)
    conf.set(LocalFs.ConfKey, chosen)
    try {
      val other = spark.newSession()
      other.range(1).count()
      assert(conf.get(LocalFs.ConfKey) == chosen)
    } finally conf.set(LocalFs.ConfKey, prev)

    val fresh = new Configuration(false)
    LocalFs.install(fresh)
    assert(fresh.get(LocalFs.ConfKey) == classOf[LocalFs].getName)
    fresh.set(LocalFs.ConfKey, "org.apache.hadoop.fs.local.LocalFs")
    LocalFs.install(fresh)
    assert(fresh.get(LocalFs.ConfKey) == classOf[LocalFs].getName)
  }

  test("created files and directories get Hadoop's shell-path modes (0644, 0755 under umask 022)") {
    val dir = scratch()
    try {
      val modes = Seq(classOf[LocalFs].getName,
                      "org.apache.hadoop.fs.local.LocalFs").map { impl =>
        val fc = fileContext(impl)
        val base = new java.io.File(dir, impl.replace('.', '_'))
        fc.mkdir(new Path(base.toURI.toString + "/d"),
                 FsPermission.getDirDefault, true)
        write(fc, new Path(base.toURI.toString + "/d/f"), "x")
        Seq(new java.io.File(base, "d"), new java.io.File(base, "d/f"),
            new java.io.File(base, "d/.f.crc")).map(mode)
      }
      assert(modes.head == Seq("rwxr-xr-x", "rw-r--r--", "rw-r--r--"))
      assert(modes.head == modes(1), "graft vs Hadoop's own LocalFs")
    } finally rm(dir)
  }

  test("rename with OVERWRITE replaces the file together with its .crc") {
    val dir = scratch()
    try {
      val fc = graftFc
      val src = new Path(dir.toURI.toString + "/a.tmp")
      val dst = new Path(dir.toURI.toString + "/b")
      write(fc, dst, "old contents")
      write(fc, src, "new")
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      // read through the checksum layer: a stale .b.crc would fail it
      assert(read(fc, dst) == "new")
      assert(!new java.io.File(dir, "a.tmp").exists)
      assert(!new java.io.File(dir, ".a.tmp.crc").exists)
      assert(new java.io.File(dir, ".b.crc").isFile)
    } finally rm(dir)
  }

  test("getFileLinkStatus still reports a symlink and its target") {
    val dir = scratch()
    try {
      val fc = graftFc
      val target = new java.io.File(dir, "target")
      write(fc, new Path(target.getPath), "t")
      val link = new java.io.File(dir, "link")
      Files.createSymbolicLink(link.toPath, target.toPath)
      // scheme-less: Hadoop's own symlink lookup, which a real symlink
      // falls through to, resolves `new File(path.toString)`
      val st = fc.getFileLinkStatus(new Path(link.getPath))
      assert(st.isSymlink)
      assert(st.getSymlink.toUri.getPath == target.getPath)
      val plain = fc.getFileLinkStatus(new Path(target.getPath))
      assert(!plain.isSymlink && plain.isFile && plain.getLen == 1L)
    } finally rm(dir)
  }

  test("a checkpointed minhash dedup stream forks no chmod/readlink/stat/ls") {
    val dir = scratch()
    val provider = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = spark.conf.getOption(provider)
    try {
      // three single-file shards, staged before the recording starts
      val shards = (0 until 3).map { i =>
        val out = new java.io.File(dir, s"stage$i").getPath
        spark.range(i * 20L, i * 20L + 20L)
          .select(col("id").as("doc_id"),
                  concat_ws(" ", lit("the quick brown fox jumps over"),
                    (col("id") % 7).cast("string"), lit("lazy dogs"))
                    .as("text"),
                  lit("en").as("lang"), lit("src0").as("source"),
                  lit(40L).as("n_chars"))
          .coalesce(1).write.parquet(out)
        new java.io.File(out).listFiles()
          .find(_.getName.endsWith(".parquet")).get
      }
      val landing = new java.io.File(dir, "landing/documents.parquet")
      landing.mkdirs()
      spark.conf.set(provider, "org.apache.spark.sql.execution." +
        "streaming.state.HDFSBackedStateStoreProvider")

      val rec = new jdk.jfr.Recording()
      val jfr = new java.io.File(dir, "forks.jfr").toPath
      try {
        rec.enable("jdk.ProcessStart")
        rec.start()
        val q = Streams.minhashDedupStream(Streams.readDocumentsStream(
            spark, new java.io.File(dir, "landing").getPath))
          .toDF().writeStream.format("memory").queryName("localfs_forks")
          .outputMode(OutputMode.Update())
          .option("checkpointLocation", new java.io.File(dir, "ckpt").getPath)
          .start()
        try shards.zipWithIndex.foreach { case (f, i) =>
          Files.move(f.toPath, Paths.get(landing.getPath, s"shard$i.parquet"),
                     StandardCopyOption.ATOMIC_MOVE)
          q.processAllAvailable()
        } finally q.stop()
        rec.stop()
        rec.dump(jfr)
        assert(q.recentProgress.count(_.numInputRows > 0) == 3)
        assert(spark.table("localfs_forks").count() > 0)
      } finally rec.close()
      val forked = jdk.jfr.consumer.RecordingFile.readAllEvents(jfr).asScala
        .map(_.getString("command"))
        .filter(c => Set("chmod", "readlink", "stat", "ls")
          .contains(c.takeWhile(_ != ' ')))
      assert(forked.isEmpty,
        s"${forked.size} forks, first: ${forked.take(3).mkString("; ")}")
    } finally {
      prevProvider.fold(spark.conf.unset(provider))(spark.conf.set(provider, _))
      spark.catalog.dropTempView("localfs_forks")
      rm(dir)
    }
  }
}
