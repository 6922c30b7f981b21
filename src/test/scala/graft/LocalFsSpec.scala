package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.EnumSet
import java.util.concurrent.atomic.AtomicLong
import graft.sources.{LocalAbstractFs, LocalFs, SeqFile}
import graft.streaming.Wiretap
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.TestJfr

/** graft's local file system ([[LocalFs]]): it serves `file:` in every
  * session, starts no process for the file operations a write, a
  * SequenceFile round trip or a checkpointed stream makes, and reads
  * and writes what the local file systems it replaces do. */
class LocalFsSpec extends GraftSuite {

  private def conf: Configuration = spark.sessionState.newHadoopConf()

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(tag).toString

  private def octal(mode: Int): FsPermission = new FsPermission(mode.toShort)

  private def noProcessStarts[T](body: => T): T = {
    val (result, starts) = TestJfr.processStartsDuring(body)
    assert(starts.isEmpty, s"process starts: $starts")
    result
  }

  test("a graft session serves file: URIs with graft's local file system") {
    assert(FileSystem.get(URI.create("file:///"), conf).getClass == classOf[LocalFs])
    assert(FileSystem.getLocal(conf).getRaw.getClass == classOf[LocalFs.Raw])
    assert(FileSystem.getLocal(spark.sparkContext.hadoopConfiguration).getClass == classOf[LocalFs])
    assert(FileContext.getLocalFSFileContext(conf).getDefaultFileSystem.getClass ==
      classOf[LocalAbstractFs])
    assert(FileContext.getFileContext(new URI(s"file:${tmpDir("fc")}"), new Configuration())
      .getDefaultFileSystem.getClass == classOf[LocalAbstractFs])
  }

  test("FileSystem create, mkdirs, setPermission, rename and listings start no process") {
    val fs = FileSystem.getLocal(conf)
    val root = new Path(tmpDir("localfs_ops"))
    val listed = noProcessStarts {
      assert(fs.mkdirs(new Path(root, "a/b"), octal(0x1ed))) // 0755
      val out = fs.create(new Path(root, "a/b/f"))
      out.write(1)
      out.close()
      fs.setPermission(new Path(root, "a/b/f"), octal(0x180)) // 0600
      assert(fs.rename(new Path(root, "a/b/f"), new Path(root, "a/g")))
      val located = fs.listFiles(root, true)
      val files = Iterator.continually(located).takeWhile(_.hasNext).map(_.next()).toList
      (fs.listStatus(new Path(root, "a")) ++ files :+ fs.getFileLinkStatus(new Path(root, "a/g")))
        .map(st => (st.getPath.getName, st.getPermission.toShort.toInt, st.getOwner, st.getGroup))
        .toSeq
    }
    assert(listed.map(st => st._1 -> st._2).toSet == Set("b" -> 0x1ed, "g" -> 0x180))
    assert(listed.map(_._3).toSet == Set(System.getProperty("user.name")))
    assert(listed.map(_._4).distinct.size == 1 && listed.head._4.nonEmpty)
  }

  test("a FileContext create and rename(OVERWRITE) start no process") {
    val fc = FileContext.getFileContext(new URI("file:///"), conf)
    val root = new Path(s"file:${tmpDir("localfs_fc")}")
    val (src, dst) = (new Path(root, "d/src"), new Path(root, "d/dst"))
    noProcessStarts {
      Seq(src, dst).foreach { p =>
        val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
          Options.CreateOpts.createParent())
        out.write(p.getName.getBytes)
        out.close()
      }
      fc.rename(src, dst, Options.Rename.OVERWRITE)
    }
    assert(!fc.util.exists(src))
    assert(new String(Files.readAllBytes(Paths.get(dst.toUri))) == "src")
  }

  test("a parquet write and a SequenceFile write and read start no process") {
    val root = tmpDir("localfs_writes")
    noProcessStarts(spark.range(100).repartition(2).write.parquet(s"$root/parquet"))
    assert(spark.read.parquet(s"$root/parquet").count() == 100)
    val n = noProcessStarts {
      SeqFile.writeSequenceFile(spark.range(50).selectExpr("cast(id as string) as line")
        .repartition(2), s"$root/seq")
      SeqFile.readSequenceFile(spark, s"$root/seq").count()
    }
    assert(n == 50)
  }

  test("a two-batch wiretap drain with a checkpoint starts no process") {
    val root = tmpDir("localfs_wiretap")
    Files.createDirectory(Paths.get(root, "in"))
    Seq("a", "b").foreach(f => Files.write(Paths.get(root, "in", s"$f.txt"),
      s"<1> {S}[USER1]: X: proto 3 $f\n<1> {S}[USER2]: X: proto 4 $f\n".getBytes))
    val tap = new Wiretap
    tap.register("proto3", "proto 3 ")
    val got = new AtomicLong
    val key = "spark.sql.streaming.checkpointLocation"
    spark.conf.set(key, s"$root/checkpoint")
    val batches = try noProcessStarts {
      val q = tap.routeDynamic(spark.readStream.option("maxFilesPerTrigger", 1).text(s"$root/in"),
        b => got.addAndGet(b.count()))
      try q.processAllAvailable() finally q.stop()
      q.recentProgress.count(_.numInputRows > 0)
    } finally spark.conf.unset(key)
    assert(batches == 2 && got.get == 2)
  }

  /** A fresh instance of `fs` on `file:///` under `umask`. */
  private def fresh[F <: FileSystem](fs: F, umask: String = "022"): F = {
    val c = new Configuration(conf)
    c.set("fs.permissions.umask-mode", umask)
    fs.initialize(URI.create("file:///"), c)
    fs
  }

  /** Every field of a status, with `root` replaced so that statuses of
    * sibling trees compare equal. */
  private def fields(st: FileStatus, roots: String*): Seq[Any] = {
    def rel(p: Path) = roots.foldLeft(p.toString)((s, r) => s.replace(r, "<root>"))
    Seq(rel(st.getPath), st.getLen, st.isDirectory, st.isSymlink,
      if (st.isSymlink) rel(st.getSymlink) else null, st.getReplication, st.getBlockSize,
      st.getModificationTime, st.getAccessTime, st.getPermission, st.getOwner, st.getGroup)
  }

  private def mode(p: String): Int =
    Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int] & 0xfff

  test("creates, mkdirs and setPermission leave the modes the stock file system leaves, under umask 022 and 077") {
    val root = tmpDir("localfs_modes")
    val modes = 0 until 512
    Seq("022", "077").foreach { umask =>
      val sides = Seq(fresh(new LocalFs.Raw, umask) -> s"$root/graft-$umask",
        fresh(new RawLocalFileSystem, umask) -> s"$root/stock-$umask")
      sides.foreach { case (fs, dir) =>
        modes.foreach { m =>
          fs.create(new Path(s"$dir/f$m"), octal(m), false, 4096, 1, 1 << 20, null).close()
          assert(fs.mkdirs(new Path(s"$dir/d$m"), octal(m)))
          // umask does not apply: the mode set is m itself
          fs.create(new Path(s"$dir/s$m"), false).close()
          fs.setPermission(new Path(s"$dir/s$m"), octal(m))
        }
        fs.mkdirs(new Path(s"$dir/sticky"))
        fs.setPermission(new Path(s"$dir/sticky"), octal(0x3ff)) // 01777
        // a directory made in a setgid one inherits setgid, which chmod 0750 keeps
        fs.mkdirs(new Path(s"$dir/setgid"))
        assert(new ProcessBuilder("chmod", "2755", s"$dir/setgid").start().waitFor() == 0)
        fs.mkdirs(new Path(s"$dir/setgid/child"), octal(0x1e8)) // 0750
      }
      val Seq(graft, stock) = sides.map(_._2)
      val names = new java.io.File(stock).list().sorted.toSeq
      assert(new java.io.File(graft).list().sorted.toSeq == names)
      (names :+ "setgid/child").foreach(n =>
        assert(mode(s"$graft/$n") == mode(s"$stock/$n"), s"$n under umask $umask"))
      assert(modes.forall(m => mode(s"$graft/s$m") == m))
    }
  }

  test("statuses and link statuses match the stock file system's field for field") {
    val root = tmpDir("localfs_status")
    val stock = fresh(new RawLocalFileSystem)
    val graft = fresh(new LocalFs.Raw)
    (0 until 512).foreach { m =>
      stock.create(new Path(s"$root/f$m"), octal(m), false, 4096, 1, 1 << 20, null).close()
      stock.mkdirs(new Path(s"$root/d$m"), octal(m))
    }
    stock.mkdirs(new Path(s"$root/sticky"))
    stock.setPermission(new Path(s"$root/sticky"), octal(0x3ff))
    val out = stock.create(new Path(s"$root/data"))
    out.write(Array.fill[Byte](1000)(1))
    out.close()
    Files.createSymbolicLink(Paths.get(root, "to-file"), Paths.get("data"))
    Files.createSymbolicLink(Paths.get(root, "to-dir"), Paths.get(s"$root/d7"))
    Files.createSymbolicLink(Paths.get(root, "dangling"), Paths.get("missing"))
    val entries = new java.io.File(root).list().sorted.toSeq
    entries.foreach { n =>
      // a scheme-less path: the stock link status reads links only so
      val p = new Path(s"$root/$n")
      assert(fields(graft.getFileLinkStatus(p)) == fields(stock.getFileLinkStatus(p)), n)
      if (n != "dangling")
        assert(fields(graft.getFileStatus(p)) == fields(stock.getFileStatus(p)), n)
    }
    assert(graft.getFileLinkStatus(new Path(s"$root/to-file")).isSymlink)
    // the one difference: the stock readlink misses a link behind a file: path
    assert(graft.getFileLinkStatus(new Path(s"file:$root/to-file")).isSymlink)
    assert(!stock.getFileLinkStatus(new Path(s"file:$root/to-file")).isSymlink)
    assert(graft.getLinkTarget(new Path(s"$root/to-dir")) == stock.getLinkTarget(new Path(s"$root/to-dir")))
    intercept[java.io.FileNotFoundException](graft.getFileStatus(new Path(s"$root/dangling")))
    intercept[java.io.FileNotFoundException](graft.getFileStatus(new Path(s"$root/missing")))
    assert(graft.listStatus(new Path(root)).map(fields(_)).sortBy(_.head.toString).toSeq ==
      stock.listStatus(new Path(root)).map(fields(_)).sortBy(_.head.toString).toSeq)
    assert(fields(graft.listStatus(new Path(s"$root/data")).head) ==
      fields(stock.listStatus(new Path(s"$root/data")).head))
  }

  test("checksum files and renames onto an existing file or directory are those of the FileSystem it replaces") {
    val root = tmpDir("localfs_checksum")
    // what served file: before: Hive's, the last `file` provider among Spark's jars
    val replaced = new org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem
    val sides = Seq(fresh(new LocalFs) -> s"$root/graft", fresh(replaced) -> s"$root/stock")
    sides.foreach { case (fs, dir) =>
      Seq("w", "v").foreach { f =>
        val out = fs.create(new Path(s"$dir/$f"))
        out.write(f.getBytes)
        out.close()
      }
      assert(!fs.rename(new Path(s"$dir/v"), new Path(s"$dir/w")))
      fs.mkdirs(new Path(s"$dir/src"))
      fs.create(new Path(s"$dir/src/x")).close()
      fs.mkdirs(new Path(s"$dir/dst"))
      fs.create(new Path(s"$dir/dst/y")).close()
      assert(fs.rename(new Path(s"$dir/src"), new Path(s"$dir/dst")))
    }
    def tree(dir: String): Seq[(String, Seq[Byte])] = {
      val base = Paths.get(dir)
      val walk = Files.walk(base)
      try scala.jdk.CollectionConverters.IteratorHasAsScala(walk.iterator).asScala.toSeq
        .filter(Files.isRegularFile(_))
        .map(p => base.relativize(p).toString -> Files.readAllBytes(p).toSeq).sortBy(_._1)
      finally walk.close()
    }
    val Seq(graft, stock) = sides.map(s => tree(s._2))
    assert(graft == stock)
    assert(graft.map(_._1).toSet == Set(".v.crc", "v", ".w.crc", "w", "dst/.y.crc", "dst/y",
      "dst/src/.x.crc", "dst/src/x"))
  }
}
