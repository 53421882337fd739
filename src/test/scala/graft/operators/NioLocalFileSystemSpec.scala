package graft.operators

import java.net.URI
import java.nio.file.{Files, Paths, Path => JPath}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.SparkEnv

import graft.{ChildJvm, Scratch, SparkSpec}

/** The in-process `file:` filesystem: the same modes as Hadoop's forked
  * `chmod`, a fallback for what `java.nio` cannot set, and an install
  * that every session takes and no explicit setting loses to.
  */
class NioLocalFileSystemSpec extends SparkSpec {

  private def octal(s: String) = new FsPermission(Integer.parseInt(s, 8).toShort)

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def open(fs: LocalFileSystem, umask: String): LocalFileSystem = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", umask)
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  test("files and dirs get the mode Hadoop's forked chmod gives, under the same umask") {
    val root = Scratch.dir("nio_fs_modes")
    for (umask <- Seq("022", "077", "002", "027")) {
      val modes = Seq(new LocalFileSystem, new NioLocalFileSystem).map { lfs =>
        val f = open(lfs, umask)
        val base = new Path(root.toUri.toString, s"${lfs.getClass.getSimpleName}_$umask")
        try {
          val out = f.create(new Path(base, "a/b/part.parquet"), true)
          out.write(1)
          out.close()
          f.mkdirs(new Path(base, "plain"))
          f.mkdirs(new Path(base, "given"), octal("750"))
          val fixed = new Path(base, "fixed")
          f.create(fixed).close()
          f.setPermission(fixed, octal("640"))
        } finally f.close()
        val j = Paths.get(base.toUri)
        Seq("a", "a/b", "a/b/part.parquet", "a/b/.part.parquet.crc", "plain", "given",
          "fixed", ".fixed.crc").map(r => r -> mode(j.resolve(r)))
      }
      assert(modes(0) == modes(1), s"umask $umask: Hadoop ${modes(0)} vs in-process ${modes(1)}")
    }
  }

  test("a sticky-bit permission falls back to Hadoop's own path") {
    val f = open(new NioLocalFileSystem, "022")
    val dir = new Path(Scratch.dir("nio_fs_sticky").toUri.toString, "d")
    try {
      f.mkdirs(dir)
      f.setPermission(dir, octal("1777"))
      assert(mode(Paths.get(dir.toUri)) == Integer.parseInt("1777", 8))
      f.setPermission(dir, octal("755"))
      assert(mode(Paths.get(dir.toUri)) == Integer.parseInt("755", 8))
    } finally f.close()
  }

  test("install sets fs.file.impl only where it is unset") {
    val conf = new Configuration()
    NioLocalFileSystem.install(conf)
    val fresh = FileSystem.newInstance(URI.create("file:///"), conf)
    try assert(fresh.getClass == classOf[NioLocalFileSystem]) finally fresh.close()
    val explicit = new Configuration()
    explicit.set("fs.file.impl", classOf[LocalFileSystem].getName)
    NioLocalFileSystem.install(explicit)
    assert(explicit.get("fs.file.impl") == classOf[LocalFileSystem].getName)
  }

  private def fileContext(afs: String, umask: String): FileContext = {
    val conf = new Configuration()
    conf.set("fs.AbstractFileSystem.file.impl", afs)
    conf.set("fs.permissions.umask-mode", umask)
    FileContext.getFileContext(URI.create("file:///"), conf)
  }

  test("FileContext through Fs: the modes, renames and link status Hadoop's LocalFs gives") {
    val root = Scratch.dir("nio_fs_context")
    for (umask <- Seq("022", "077")) {
      val seen = Seq("org.apache.hadoop.fs.local.LocalFs", classOf[NioLocalFileSystem.Fs].getName)
        .map { afs =>
          val fc = fileContext(afs, umask)
          val base = new Path(root.toUri.toString, s"${afs.split('.').last}_$umask")
          fc.mkdir(new Path(base, "offsets"), FsPermission.getDirDefault, true)
          val tmp = new Path(base, "offsets/.0.tmp")
          val out = fc.create(tmp, java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
          out.write(Array[Byte](1, 2, 3))
          out.close()
          val done = new Path(base, "offsets/0")
          fc.rename(tmp, done, Options.Rename.OVERWRITE)
          val j = Paths.get(base.toUri)
          Files.createSymbolicLink(j.resolve("link"), j.resolve("offsets/0"))
          val link = fc.getFileLinkStatus(new Path(base, "link"))
          val plain = fc.getFileLinkStatus(done)
          (fc.getDefaultFileSystem.getClass.getName,
            Seq("offsets", "offsets/0").map(r => r -> mode(j.resolve(r))),
            Files.readAllBytes(j.resolve("offsets/0")).toSeq, Files.exists(j.resolve("offsets/.0.tmp")),
            link.isSymlink, link.getLen, plain.isSymlink, plain.getLen)
        }
      assert(seen.map(_._1) == Seq("org.apache.hadoop.fs.local.LocalFs",
        classOf[NioLocalFileSystem.Fs].getName))
      assert(seen(0).copy(_1 = "") == seen(1).copy(_1 = ""), s"umask $umask")
      assert(seen(1)._3 == Seq[Byte](1, 2, 3) && !seen(1)._4 && !seen(1)._7 && seen(1)._8 == 3)
    }
  }

  test("install makes Fs the FileContext filesystem unless one is set") {
    val conf = new Configuration()
    NioLocalFileSystem.install(conf)
    assert(FileContext.getFileContext(URI.create("file:///"), conf).getDefaultFileSystem.getClass ==
      classOf[NioLocalFileSystem.Fs])
    val explicit = new Configuration()
    explicit.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    NioLocalFileSystem.install(explicit)
    assert(explicit.get("fs.AbstractFileSystem.file.impl") == "org.apache.hadoop.fs.local.LocalFs")
    val session = FileContext.getFileContext(URI.create("file:///"),
      spark.sparkContext.hadoopConfiguration)
    assert(session.getDefaultFileSystem.getClass == classOf[NioLocalFileSystem.Fs])
  }

  test("the suite's session writes through it") {
    val f = FileSystem.get(URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    assert(f.getClass == classOf[NioLocalFileSystem])
  }

  test("Session.local resolves file: to it; register with no active context creates none") {
    val tmp = Scratch.dir("nio_fs_child")
    val log = tmp.resolveSibling(tmp.getFileName.toString + ".log").toFile
    val pb = new ProcessBuilder(ChildJvm.command(Seq(s"-Djava.io.tmpdir=$tmp"),
      "graft.operators.NioLocalFileSystemChild").asJava)
      .redirectErrorStream(true).redirectOutput(log)
    pb.environment().put("SPARK_LOCAL_DIRS", tmp.toString)
    val proc = pb.start()
    try {
      val exited = proc.waitFor(5, TimeUnit.MINUTES)
      val out = Files.readAllLines(log.toPath).asScala.toSeq
      assert(exited && proc.exitValue() == 0 && out.lastOption.contains("CHILD_DONE"),
        out.takeRight(40).mkString("\n"))
    } finally {
      proc.destroyForcibly()
      Seq(tmp.toFile, log).foreach(Scratch.remove)
    }
  }
}

/** The child JVM of [[NioLocalFileSystemSpec]]: a fresh process, so
  * the first `file:` filesystem Hadoop caches is the one
  * `Session.local` installs, and its session can be stopped.
  */
object NioLocalFileSystemChild {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local(2)
    val cls = new Path("file:///").getFileSystem(spark.sparkContext.hadoopConfiguration).getClass
    require(cls == classOf[NioLocalFileSystem], s"file: resolves to $cls")
    val afs = FileContext.getFileContext(URI.create("file:///"),
      spark.sessionState.newHadoopConf()).getDefaultFileSystem.getClass
    require(afs == classOf[NioLocalFileSystem.Fs], s"FileContext file: resolves to $afs")
    val dir = Paths.get(System.getProperty("java.io.tmpdir"), "table").toString
    TableStore.overwrite(spark.range(5).toDF(), dir)
    require(TableStore.read(spark, dir).count() == 5)
    spark.stop()
    graft.functions.GraftFunctions.register(spark)
    require(SparkEnv.get == null, "register started a Spark context")
    println("CHILD_DONE")
  }
}
